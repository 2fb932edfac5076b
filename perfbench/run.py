"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Generates every input from ``--seed``,
starts one Spark session on ``local[<cores>]``, sets up and warms the
workload, then runs its closed loop for ``--seconds``. The last line of
stdout is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``. With ``--trace 0`` the metrics are the end-to-end ones;
with ``--trace 1`` the untraced loop is followed by a traced pass on a
restarted session that writes an uncompressed event log, and the
metrics are the per-layer counters. The line before it is a report
with every workload-specific number and its unit. The exit code is 1
when an operation or output check failed, 2 when the program is absent.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shlex
import shutil
import statistics
import sys
import tempfile
import time
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)

E2E_UNITS = {
    "setup_s": "s",
    "op_p50_s": "s",
    "rows_per_s": "1/s",
    "bytes_written_per_input_byte": "ratio",
    "jvm_live_heap_mb": "MB",
}
DRIVER_MEMORY = "2g"


class Ctx:
    """What one benchmark run owns: its root, its session, its ledger."""

    def __init__(self, seed: int, root: str) -> None:
        from perfbench.workloads import Ledger

        self.seed, self.repo, self.root = seed, REPO, root
        self.tmp = os.path.join(root, "tmp")
        self.spark = None
        self.ledger = Ledger()
        self.tracer = None

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else nullcontext()


def isolate(root: str) -> None:
    """Point every scratch location of Python, Spark and the JVM into
    ``root``; must run before the JVM starts."""
    tmp = os.path.join(root, "tmp")
    os.makedirs(tmp)
    tempfile.tempdir = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(root, "spark-local")
    # every JVM, the launcher's included, keeps its scratch in root
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -Dderby.system.home={root} -XX:-UsePerfData"
    )
    confs = {
        # the Spark driver starts with its whole heap: growing it from the
        # default start size cost a stream run 203 GC pauses (2.4 s)
        # plus concurrent marking, against 31 pauses (0.8 s)
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY}",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(root, "spark-warehouse"),
    }
    args = [a for k, v in confs.items() for a in ("--conf", f"{k}={v}")]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def jvm_live_heap_mb(spark) -> float:
    """Driver heap in use right after a full collection: what the program
    keeps alive, whatever the heap's size. Python objects are collected
    first so that py4j releases the JVM objects they held. Spark's
    cleaner frees broadcast and shuffle blocks on its own thread after a
    collection finds them unreachable, so collections repeat, 0.5 s
    apart, until three readings in a row lie within 1 MB."""
    jvm = spark.sparkContext._jvm
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    readings: list[float] = []
    for _ in range(16):
        gc.collect()
        jvm.java.lang.System.gc()
        readings.append(mx.getHeapMemoryUsage().getUsed() / 2**20)
        if len(readings) >= 3 and max(readings[-3:]) - min(readings[-3:]) < 1.0:
            break
        time.sleep(0.5)
    return readings[-1]


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def restart_traced(ctx: Ctx, app: str):
    """Stop the session and start one that writes an uncompressed,
    unrolled event log (the default log is zstd, which cannot be read
    here). The JVM stays; only the SparkContext is new. It starts from
    a copy of the first context's conf, so the static confs the session
    was built with carry over."""
    from pyspark import SparkConf, SparkContext

    from ffi_etl_spark.session import get_session

    log_dir = os.path.join(ctx.root, "eventlog")
    os.makedirs(log_dir)
    # ids and ports of the stopped context are left out; the new one
    # picks its own
    own = ("spark.app.id", "spark.app.startTime", "spark.driver.port")
    kept = [kv for kv in ctx.spark.sparkContext.getConf().getAll() if kv[0] not in own]
    ctx.spark.stop()
    conf = (
        SparkConf(loadDefaults=False)
        .setAll(kept)
        .setAppName(app)
        .set("spark.eventLog.enabled", "true")
        .set("spark.eventLog.compress", "false")
        .set("spark.eventLog.rolling.enabled", "false")
        .set("spark.eventLog.dir", "file://" + log_dir)
    )
    SparkContext(conf=conf)
    ctx.spark = get_session(app)
    return log_dir


def stop_jvm(ctx: Ctx) -> None:
    """Stop Spark, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    if ctx.spark is not None:
        ctx.spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def run(args, ctx: Ctx) -> dict:
    t_setup = time.perf_counter()
    isolate(ctx.root)
    from perfbench.workloads import WORKLOADS

    from ffi_etl_spark.session import get_session

    t0 = time.perf_counter()
    ctx.spark = get_session(f"perfbench-{args.workload}")
    session_s = time.perf_counter() - t0
    wl = WORKLOADS[args.workload](ctx)
    t1 = time.perf_counter()
    wl.warm_up()
    setup_s = time.perf_counter() - t_setup
    print(
        f"perfbench: setup {setup_s:.1f} s (session {session_s:.1f} s, "
        f"warm-up {time.perf_counter() - t1:.1f} s)",
        file=sys.stderr,
    )

    res = wl.measure(args.seconds)
    print(f"perfbench: op times {[round(t, 3) for t in res['op_times']]}", file=sys.stderr)
    res["report"]["setup_s"] = (setup_s, "s")
    res["report"]["session_start_s"] = (session_s, "s")
    # the resident peak sits near the -Xms heap plus the JVM's own
    # memory whatever the program does, so it is reported, not bounded
    res["report"]["jvm_peak_rss_mb"] = (jvm_peak_rss_mb(ctx.spark), "MB")
    if not args.trace:
        e2e = dict(res.pop("e2e"), setup_s=setup_s, jvm_live_heap_mb=jvm_live_heap_mb(ctx.spark))
        res["metrics"] = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
        return res

    from perfbench.trace import EventLog, Tracer, attribute, layer_metrics

    log_dir = restart_traced(ctx, f"perfbench-{args.workload}-traced")
    ctx.tracer = Tracer()
    ctx.tracer.install()
    try:
        times, extra_spans, gauges = wl.traced(ctx.tracer)
    finally:
        ctx.tracer.restore()
    ctx.spark.stop()
    (log_path,) = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    per_span = attribute(ctx.tracer.spans, EventLog.read(log_path))
    per_span["session.start"] = {"s": session_s}
    for span, vals in extra_spans.items():
        per_span.setdefault(span, {}).update(vals)
    overhead = statistics.median(times) / statistics.median(res["op_times"]) - 1
    gauges["tracing.overhead_frac"] = overhead
    res["report"]["traced_op_p50_s"] = (statistics.median(times), "s")
    res["report"]["tracing_overhead_frac"] = (overhead, "ratio")
    res["metrics"] = layer_metrics(per_span, gauges)
    return res


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(REPO, "ffi_etl_spark", "__init__.py")):
        print(f"perfbench: no ffi_etl_spark package under {REPO}", file=sys.stderr)
        return 2
    sys.path.insert(0, REPO)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    root = os.path.join(REPO, ".perfbench_run", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    ctx = Ctx(args.seed, root)
    res = None
    try:
        res = run(args, ctx)
    except Exception:
        import traceback

        traceback.print_exc()
    finally:
        stop_jvm(ctx)
        shutil.rmtree(root, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(root))
        except OSError:
            pass
    led = ctx.ledger
    if res is None:
        return 1
    correct = led.failed == 0
    report = {k: {"value": v, "unit": u} for k, (v, u) in res["report"].items()}
    report["failed_frac"] = {"value": led.failed / max(led.attempted, 1), "unit": "ratio"}
    print(json.dumps({"workload": args.workload, "seed": args.seed, "report": report}))
    print(json.dumps({
        "correct": correct,
        "attempted": led.attempted,
        "failed": led.failed,
        "metrics": res["metrics"],
    }), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
