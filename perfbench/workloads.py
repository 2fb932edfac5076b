"""The two benchmark workloads, each a closed loop with one client: the
next operation starts only after the previous one has completed.

``survey_medallion``: one operation is one run of the registered
``survey_pipeline`` query (extract -> transform -> roll_up ->
merge_census -> write_to_volume) over a seeded ``customer`` table.

``stream_ingest``: one operation is one ingest-and-serve cycle against
stored state: a document micro-batch through ``stream_dedup_ingest``, a
vector micro-batch through ``stream_ann_ingest``, then one fixed query
batch probed with ``ann_ivf_query_stored`` and again with
``ann_ivf_query_stored_int8``. Each micro-batch lands as one file and is
drained with ``trigger(availableNow=True)``. Each sink is built once and
restarted for every drain, as a long-lived sink would be: per-sink
probes and the IVF sink's per-cell file counter are paid once, in set-up.
"""

from __future__ import annotations

import glob
import importlib.util
import os
import shutil
import statistics
import sys
import time
import traceback

import duckdb
import numpy as np

from perfbench import gen
from perfbench.trace import Tracer

SURVEY_ROWS = 20_000

DOC_BOOT, DOC_BATCH = 250, 250
VEC_BOOT, VEC_BATCH = 2_000, 250
N_QUERIES = 100
PROBE_FRAC = 0.05
# recall@10 at probe_frac 0.05 ranged 0.82-0.92 over ten seeds; the floor
# leaves room for that spread and still catches a broken probe
RECALL_FLOOR = 0.75
RECALL_INT8_FLOOR = 0.75
# The oracle's rounding helper casts a double's shortest decimal form to
# DECIMAL(30,12) before round(). Twelve places turn -1.4499999999999993
# into -1.45, so round(x, 1) gives -1.5 where Spark's round, which works
# on every digit of that form, gives -1.4 (a "% Difference" cell at seed
# 103). Twenty places keep every digit, so the reference rounds as Spark.
ORACLE_DECIMAL = ("AS DECIMAL(30,12)", "AS DECIMAL(38,20)")
# The dedup sink's own recall contract: candidate probability >= 0.95 at
# Jaccard 0.9 (resolve_or_adopt_split's recall_floor / dup_sim defaults).
# Planted near duplicates sit above Jaccard 0.98, so they are held to it;
# exact duplicates share every signature slot and must all go.
NEAR_DUP_RECALL_FLOOR = 0.95


def dir_bytes(*paths: str) -> int:
    total = 0
    for p in paths:
        for dp, _, files in os.walk(p):
            total += sum(os.path.getsize(os.path.join(dp, f)) for f in files)
    return total


def closed_loop(op, seconds: float, min_ops: int = 2) -> list:
    """Run ``op`` back to back; start another only while fewer than
    ``seconds`` have passed (and always at least ``min_ops``)."""
    out, t0 = [], time.perf_counter()
    while len(out) < min_ops or time.perf_counter() - t0 < seconds:
        out.append(op())
    return out


class Ledger:
    """Attempted and failed operations and output checks."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: check failed: {what}", file=sys.stderr)
        return ok

    def run(self, fn, what: str):
        """Count one operation; a raised error fails it and is re-raised."""
        self.attempted += 1
        try:
            return fn()
        except Exception:
            self.failed += 1
            print(f"perfbench: operation failed: {what}", file=sys.stderr)
            traceback.print_exc()
            raise


def _load_check_oracle(repo: str):
    """The repository's own oracle comparator (tools/check_oracle.py)."""
    path = os.path.join(repo, "tools", "check_oracle.py")
    spec = importlib.util.spec_from_file_location("perfbench_check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class Survey:
    name = "survey_medallion"

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        root = ctx.root
        self.data_dir = os.path.join(root, "in", "survey")
        self.input_bytes = os.path.getsize(
            gen.write_customer(self.data_dir, SURVEY_ROWS, ctx.seed)
        )
        self.co = _load_check_oracle(ctx.repo)
        import __spark_entry__ as entry

        self.query = entry.queries()["survey_pipeline"]
        self.oracle = self._oracle(entry.oracle_sql()["survey_pipeline"], self.data_dir)
        self.written = []

    @staticmethod
    def _oracle(sql: str, data_dir: str):
        con = duckdb.connect()
        try:
            path = os.path.join(data_dir, "customer.parquet")
            con.sql(f"CREATE VIEW customer AS SELECT * FROM read_parquet('{path}')")
            odf = con.sql(sql.replace(*ORACLE_DECIMAL)).df()
        finally:
            con.close()
        return odf

    def warm_up(self) -> None:
        """One full run: the first run in a JVM pays about 15 s of code
        generation and class loading whatever the input size."""
        self.op()
        self.written.clear()

    def _run_once(self):
        """One pipeline run; returns (seconds, gold frame, warehouse bytes)."""
        tmp = self.ctx.tmp
        before = set(glob.glob(os.path.join(tmp, "survey_wh_*")))
        t0 = time.perf_counter()
        gold = self.query(self.ctx.spark, self.data_dir)
        dt = time.perf_counter() - t0
        spdf = gold.toPandas()
        new = sorted(set(glob.glob(os.path.join(tmp, "survey_wh_*"))) - before)
        nbytes = dir_bytes(*new)
        for d in new:
            shutil.rmtree(d, ignore_errors=True)
        return dt, spdf, nbytes

    def _matches_oracle(self, spdf) -> bool:
        co, odf = self.co, self.oracle
        if len(spdf) != len(odf) or sorted(spdf.columns) != sorted(odf.columns):
            return False
        for fmt in ("%.6g", "%.17g"):
            if co.frame_hash(spdf, fmt) != co.frame_hash(odf, fmt):
                return False
        return not co.dtype_kind_mismatches(spdf, odf)

    def op(self) -> float:
        led = self.ctx.ledger
        dt, spdf, nbytes = led.run(self._run_once, "survey_pipeline")
        led.check(self._matches_oracle(spdf), "survey gold table differs from the DuckDB oracle")
        self.written.append(nbytes)
        return dt

    def measure(self, seconds: float) -> dict:
        times = closed_loop(self.op, seconds)
        p50 = statistics.median(times)
        return {
            "e2e": {
                "op_p50_s": p50,
                "rows_per_s": SURVEY_ROWS * len(times) / sum(times),
                "bytes_written_per_input_byte": statistics.median(self.written) / self.input_bytes,
            },
            "report": {
                "run_s": (p50, "s"),
                "run_samples": (len(times), "count"),
                "respondents": (SURVEY_ROWS, "count"),
            },
            "op_times": times,
        }

    def traced(self, tracer: Tracer) -> tuple[list, dict, dict]:
        """Two pipeline runs."""
        times = [self.op() for _ in range(2)]
        stage_s = sum(hi - lo for name, lo, hi in tracer.spans if name == "pipeline.run") / 1000
        return times, {"pipeline.remainder": {"s": sum(times) - stage_s}}, {}


class StreamRig:
    """One dedup sink and one IVF sink over their own stored state."""

    def __init__(self, ctx, root: str, queries_path: str, q_vecs: np.ndarray) -> None:
        self.ctx, self.root = ctx, root
        self.docs = gen.DocStream(ctx.seed)
        self.vecs = gen.VecStream(ctx.seed)
        self.q_vecs, self.queries_path = q_vecs, queries_path
        p = lambda *a: os.path.join(root, *a)  # noqa: E731
        self.doc_inbox, self.vec_inbox = p("inbox", "docs"), p("inbox", "vecs")
        os.makedirs(self.doc_inbox)
        os.makedirs(self.vec_inbox)
        self.corpus, self.pairs, self.sigs = p("corpus"), p("pairs"), p("sigs")
        self.doc_ckpt, self.vec_ckpt, self.index = p("ckpt", "docs"), p("ckpt", "vecs"), p("index")
        self.n_batches = 0
        self.doc_sink = self.vec_sink = None
        self.input_bytes = os.path.getsize(queries_path)
        self.recalls: list[float] = []
        self.recalls_int8: list[float] = []
        self.dedup_s: list[float] = []
        self.ann_s: list[float] = []
        self.probe_s: list[float] = []
        self.probe_int8_s: list[float] = []
        self.cell_files: dict[str, int] = {}
        self.compactions = 0

    def _land(self, inbox: str, rows: list[dict]) -> None:
        self.n_batches += 1
        self.input_bytes += gen.write_json_lines(
            os.path.join(inbox, f"b{self.n_batches:05d}.json"), rows
        )

    def _drain(self, writer) -> float:
        t0 = time.perf_counter()
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return time.perf_counter() - t0

    def dedup_batch(self, n: int) -> float:
        from ffi_etl_spark.streaming.ingest import stream_dedup_ingest

        self._land(self.doc_inbox, self.docs.batch(n))
        if self.doc_sink is None:
            src = self.ctx.spark.readStream.schema("doc_id long, text string").json(self.doc_inbox)
            self.doc_sink = stream_dedup_ingest(
                src, self.corpus, self.pairs, self.doc_ckpt, sigs_path=self.sigs
            )
        with self.ctx.span("ingest.batch"):
            return self._drain(self.doc_sink)

    def ann_batch(self, n: int) -> float:
        from ffi_etl_spark.streaming.ann_ingest import stream_ann_ingest

        self._land(self.vec_inbox, self.vecs.batch(n))
        if self.vec_sink is None:
            src = self.ctx.spark.readStream.schema(
                "vec_id long, embedding array<double>"
            ).json(self.vec_inbox)
            self.vec_sink = stream_ann_ingest(
                src, self.index, self.vec_ckpt, quantize_bits=20, store_codes=True
            )
        with self.ctx.span("ann_ingest.batch"):
            return self._drain(self.vec_sink)

    def files_per_cell(self) -> dict[str, int]:
        """Files in each IVF cell directory of the stored index."""
        apath = os.path.join(self.index, "assignments")
        return {
            d: sum(f.endswith(".parquet") for f in os.listdir(os.path.join(apath, d)))
            for d in os.listdir(apath) if d.startswith("centroid_id=")
        }

    def probe(self, int8: bool) -> tuple[float, float]:
        """(seconds, recall@10 against exact top-10) for one probe batch."""
        from ffi_etl_spark.operators import similarity

        fn = similarity.ann_ivf_query_stored_int8 if int8 else similarity.ann_ivf_query_stored
        spark = self.ctx.spark
        t0 = time.perf_counter()
        model = spark.read.parquet(os.path.join(self.index, "centroids"))
        stored = spark.read.parquet(os.path.join(self.index, "assignments"))
        queries = spark.read.parquet(self.queries_path)
        rows = fn(model, stored, queries, k=10, trust_layout=True, probe_frac=PROBE_FRAC).collect()
        dt = time.perf_counter() - t0
        got: dict[int, set] = {}
        for r in rows:
            got.setdefault(r["query_id"] - gen.QUERY_ID_BASE, set()).add(r["neighbor_id"])
        exact = self.vecs.exact_top(self.q_vecs)
        recall = float(np.mean([len(got.get(i, set()) & set(row)) / 10 for i, row in enumerate(exact)]))
        return dt, recall

    def bootstrap(self) -> None:
        led = self.ctx.ledger
        d = led.run(lambda: self.dedup_batch(DOC_BOOT), "dedup bootstrap batch")
        a = led.run(lambda: self.ann_batch(VEC_BOOT), "ann bootstrap batch")
        self.cell_files = self.files_per_cell()
        print(f"perfbench: bootstrap dedup {d:.1f} s, ann {a:.1f} s", file=sys.stderr)

    def _count_compaction(self) -> None:
        """Compare files per cell with the last append's; a cell that
        now holds fewer files was compacted by this append."""
        now = self.files_per_cell()
        self.compactions += any(n < self.cell_files.get(d, 0) for d, n in now.items())
        self.cell_files = now

    def cycle(self) -> float:
        led = self.ctx.ledger
        d = led.run(lambda: self.dedup_batch(DOC_BATCH), "dedup micro-batch")
        a = led.run(lambda: self.ann_batch(VEC_BATCH), "ann micro-batch")
        self._count_compaction()
        p, r = led.run(lambda: self.probe(False), "ann_ivf_query_stored")
        p8, r8 = led.run(lambda: self.probe(True), "ann_ivf_query_stored_int8")
        self.dedup_s.append(d)
        self.ann_s.append(a)
        self.probe_s.append(p)
        self.probe_int8_s.append(p8)
        self.recalls.append(r)
        self.recalls_int8.append(r8)
        print(f"perfbench: cycle dedup {d:.2f} ann {a:.2f} probe {p:.2f} int8 {p8:.2f}", file=sys.stderr)
        return d + a + p + p8

    def check(self) -> tuple[float, float]:
        """Output checks on the final state; returns the share of all
        planted duplicates, and of near duplicates, absent from the corpus."""
        led = self.ctx.ledger
        con = duckdb.connect()
        try:
            kept = {r[0] for r in con.sql(
                f"SELECT doc_id FROM read_parquet('{self.corpus}/*.parquet')"
            ).fetchall()}
            repeated = con.sql(
                f"SELECT count(*) FROM (SELECT _ingest_app, batch_id, id_a, id_b "
                f"FROM read_parquet('{self.pairs}/**/*.parquet', hive_partitioning=true) "
                f"GROUP BY ALL HAVING count(*) > 1)"
            ).fetchone()[0]
            n_vec, n_distinct = con.sql(
                f"SELECT count(*), count(DISTINCT vec_id) FROM "
                f"read_parquet('{self.index}/assignments/**/*.parquet', hive_partitioning=true)"
            ).fetchone()
        finally:
            con.close()
        exact, near = self.docs.exact_dups(), set(self.docs.dups) - self.docs.exact_dups()
        near_recall = len(near - kept) / len(near)
        led.check(not (exact & kept), "an exact duplicate survived in the corpus")
        led.check(near_recall >= NEAR_DUP_RECALL_FLOOR, "near-duplicate recall below floor")
        led.check(self.docs.originals() <= kept <= set(self.docs.texts), "an original was dropped")
        led.check(repeated == 0, "pairs audit repeats a (batch, pair) row")
        landed = sum(len(v) for v in self.vecs.stored)
        led.check(n_vec == landed == n_distinct, "stored vectors differ from the vectors landed")
        led.check(min(self.recalls, default=0) >= RECALL_FLOOR, "float probe recall@10 below floor")
        led.check(min(self.recalls_int8, default=0) >= RECALL_INT8_FLOOR, "int8 probe recall@10 below floor")
        dups = set(self.docs.dups)
        return len(dups - kept) / len(dups), near_recall

    def written_bytes(self) -> int:
        return dir_bytes(self.corpus, self.pairs, self.sigs, self.index, os.path.join(self.root, "ckpt"))


class Stream:
    name = "stream_ingest"

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.q_vecs = gen.VecStream(ctx.seed).queries(N_QUERIES)
        self.queries_path = os.path.join(ctx.root, "in", "queries.parquet")
        gen.write_queries(self.queries_path, self.q_vecs)
        self.rig = self._rig("main")

    def _rig(self, name: str) -> StreamRig:
        return StreamRig(self.ctx, os.path.join(self.ctx.root, name), self.queries_path, self.q_vecs)

    def warm_up(self) -> None:
        self.rig.bootstrap()

    def measure(self, seconds: float) -> dict:
        rig = self.rig
        times = closed_loop(rig.cycle, seconds)
        dup_recall, near_recall = rig.check()
        med = statistics.median
        rows = DOC_BATCH + VEC_BATCH
        return {
            "e2e": {
                "op_p50_s": med(times),
                "rows_per_s": rows * len(times) / sum(times),
                "bytes_written_per_input_byte": rig.written_bytes() / rig.input_bytes,
            },
            "report": {
                "cycle_p50_s": (med(times), "s"),
                "cycle_samples": (len(times), "count"),
                "dedup_batch_p50_s": (med(rig.dedup_s), "s"),
                "ann_batch_p50_s": (med(rig.ann_s), "s"),
                "probe_p50_s": (med(rig.probe_s), "s"),
                "probe_int8_p50_s": (med(rig.probe_int8_s), "s"),
                "recall_at_10": (float(np.mean(rig.recalls)), "ratio"),
                "recall_int8_at_10": (float(np.mean(rig.recalls_int8)), "ratio"),
                "dup_recall": (dup_recall, "ratio"),
                "near_dup_recall": (near_recall, "ratio"),
                "planted_duplicates": (len(rig.docs.dups), "count"),
                "max_files_per_cell": (max(rig.cell_files.values()), "count"),
                "compactions": (rig.compactions, "count"),
            },
            "op_times": times,
        }

    def traced(self, tracer: Tracer) -> tuple[list, dict, dict]:
        """A fresh rig replays the same inputs: bootstrap, then one cycle."""
        rig = self._rig("traced")
        rig.bootstrap()
        times = [rig.cycle()]
        rig.check()
        return times, {}, {"stored_state.max_files_per_cell": max(rig.cell_files.values())}


WORKLOADS = {w.name: w for w in (Survey, Stream)}
