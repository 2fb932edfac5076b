"""Tests of the benchmark itself. Run from the repository root:

    python -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pytest

from perfbench import gen
from perfbench.trace import EventLog, Tracer, attribute, layer_metrics, metric_names

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def _bench_json() -> dict:
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        return json.load(f)


def test_customer_is_deterministic_per_seed(tmp_path):
    def raw(seed, sub):
        with open(gen.write_customer(str(tmp_path / sub), 500, seed), "rb") as f:
            return f.read()

    assert raw(7, "a") == raw(7, "b")
    assert raw(7, "a") != raw(8, "c")


def test_streams_are_deterministic_per_seed():
    a, b, c = gen.DocStream(7), gen.DocStream(7), gen.DocStream(8)
    for n in (300, 200):
        rows = a.batch(n)
        assert rows == b.batch(n)
        assert rows != c.batch(n)
    assert a.dups == b.dups and a.dups
    # every planted duplicate copies an earlier original; exact ones verbatim
    assert all(src < dup and src not in a.dups for dup, src in a.dups.items())
    exact = a.exact_dups()
    assert exact and exact < set(a.dups)
    assert all((a.texts[d] == a.texts[a.dups[d]]) == (d in exact) for d in a.dups)

    va, vb, vc = gen.VecStream(7), gen.VecStream(7), gen.VecStream(8)
    assert va.batch(50) == vb.batch(50) != vc.batch(50)
    assert (va.queries(5) == vb.queries(5)).all() and (va.queries(5) != vc.queries(5)).any()


def test_queries_do_not_depend_on_landed_batches():
    a, b = gen.VecStream(3), gen.VecStream(3)
    a.batch(40)
    assert (a.queries(5) == b.queries(5)).all()


def test_widened_oracle_cast_rounds_like_spark():
    """13.55 - 15.0 is -1.4499999999999993; Spark's round(x, 1) gives -1.4."""
    import duckdb

    from perfbench.workloads import ORACLE_DECIMAL

    x = "CAST(13.55 AS DOUBLE) - 15.0"
    sql = f"SELECT CAST(round(try_cast(CAST(({x}) AS VARCHAR) {ORACLE_DECIMAL[0]}), 1) AS DOUBLE)"
    assert duckdb.sql(sql).fetchone()[0] == -1.5
    assert duckdb.sql(sql.replace(*ORACLE_DECIMAL)).fetchone()[0] == -1.4


def _event(kind, **kw):
    return json.dumps({"Event": kind, **kw})


def test_event_log_parser_on_known_records():
    lines = [
        _event("SparkListenerJobStart", **{"Job ID": 0, "Submission Time": 1000}),
        _event("SparkListenerStageCompleted", **{"Stage Info": {"Stage ID": 0, "Submission Time": 1001}}),
        _event("SparkListenerTaskEnd", **{
            "Stage ID": 0,
            "Task Info": {"Launch Time": 1002, "Finish Time": 1202},
            "Task Metrics": {
                "Executor Run Time": 180,
                "Shuffle Write Metrics": {"Shuffle Bytes Written": 50},
                "Disk Bytes Spilled": 7,
                "Output Metrics": {"Bytes Written": 300},
            },
        }),
        _event("SparkListenerTaskEnd", **{
            "Stage ID": 0,
            "Task Info": {"Launch Time": 1100, "Finish Time": 1400},
            "Task Metrics": {"Executor Run Time": 290},
        }),
        # outside the span below
        _event("SparkListenerJobStart", **{"Job ID": 1, "Submission Time": 5000}),
    ]
    per = attribute([("x", 1000.0, 2000.0), ("x", 4000.0, 4500.0)], EventLog(lines))["x"]
    assert per["calls"] == 2 and per["jobs"] == 1 and per["stages"] == 1 and per["tasks"] == 2
    assert per["s"] == pytest.approx(1.5)
    assert per["executor_run_s"] == pytest.approx(0.47)
    assert per["max_task_s"] == pytest.approx(0.29)
    assert per["shuffle_write_bytes"] == 50 and per["spill_bytes"] == 7 and per["output_bytes"] == 300
    # tasks cover [1002, 1400] of [1000, 2000]; the second span is all idle
    assert per["idle_s"] == pytest.approx((1000 - 398) / 1000 + 0.5)


def test_event_log_counts_a_tiny_spark_job(tmp_path):
    """One parquet write of three slices: one job, one stage, three
    tasks, and exactly the bytes of the files it left."""
    from pyspark.sql import SparkSession

    log_dir = tmp_path / "log"
    log_dir.mkdir()
    spark = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-test")
        .config("spark.ui.enabled", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .config("spark.eventLog.dir", "file://" + str(log_dir))
        .getOrCreate()
    )
    out = str(tmp_path / "out")
    tracer = Tracer()
    try:
        spark.range(0, 3000, 1, 3).write.parquet(out)  # outside any span
        with tracer.span("write"):
            spark.range(0, 3000, 1, 3).write.mode("overwrite").parquet(out)
        with tracer.span("nothing"):
            pass
    finally:
        spark.stop()
    (log,) = list(log_dir.iterdir())
    per = attribute(tracer.spans, EventLog.read(str(log)))
    written = sum(os.path.getsize(os.path.join(out, f)) for f in os.listdir(out) if f.startswith("part-"))
    assert (per["write"]["jobs"], per["write"]["stages"], per["write"]["tasks"]) == (1, 1, 3)
    assert per["write"]["output_bytes"] == written
    assert 0 <= per["write"]["idle_s"] < per["write"]["s"]
    assert per["nothing"]["jobs"] == per["nothing"]["tasks"] == 0


def test_metric_names_are_well_formed():
    bench = _bench_json()
    names = [w["name"] for w in bench["workloads"]]
    names += [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names), [n for n in names if not NAME.match(n)]
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == metric_names()
    assert len(bench["per_layer"]) <= 128


def test_end_to_end_metrics_match_the_runner():
    from perfbench.run import E2E_UNITS
    from perfbench.workloads import WORKLOADS

    bench = _bench_json()
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == E2E_UNITS
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)


def test_layer_block_reports_zero_for_spans_never_entered():
    block = layer_metrics({"ingest.batch": {"s": 1.5, "calls": 1}}, {})
    assert [(k, v["unit"]) for k, v in block.items()] == metric_names()
    assert block["ingest.batch.s"]["value"] == 1.5
    assert block["pipeline.extract.jobs"]["value"] == 0


def test_refuses_without_the_program(tmp_path):
    """In a directory holding only the benchmark: non-zero exit, no result."""
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "survey_medallion",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
