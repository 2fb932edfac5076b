"""Registry-wide physical-plan lint (tools/plan_lint.py) as a gate.

Every registered query's formatted plan is swept for the banned
shapes: CartesianProduct, row-at-a-time Python UDFs, and raw-row
global window/sort funnels. The allowlist in tools/plan_lint.py holds
the documented intentional exceptions; anything else fails here at
authoring time instead of in a human plan audit."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from tools.plan_lint import explain_formatted, lint_plan, waive


def test_linter_catches_raw_global_window(spark, sf_dir):
    """Self-test: a deliberately bad plan (running sum windowed over
    the whole raw table with no partition key) is flagged, and the
    engine's own two-phase formulation of the same computation is
    clean — the lint separates the cliff from the fix."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    bad = li.withColumn(
        "rt", F.sum("l_quantity").over(Window.orderBy("l_orderkey", "l_linenumber"))
    )
    assert any("SinglePartition" in f for f in lint_plan(explain_formatted(spark, bad)))

    from ffi_etl_spark.operators.textops import global_cumsum_exclusive

    good = global_cumsum_exclusive(
        li.select("l_orderkey", "l_linenumber", F.col("l_quantity").cast("long").alias("q")),
        ["l_orderkey", "l_linenumber"],
        "q",
    )
    assert lint_plan(explain_formatted(spark, good)) == []


def test_linter_catches_row_udf_and_cartesian(spark, sf_dir):
    from pyspark.sql.functions import udf

    li = spark.read.parquet(f"{sf_dir}/region.parquet")
    slow = li.withColumn("u", udf(lambda s: s.upper())(F.col("r_name")))
    assert any("BatchEvalPython" in f for f in lint_plan(explain_formatted(spark, slow)))

    cart = li.crossJoin(spark.read.parquet(f"{sf_dir}/nation.parquet").hint("shuffle_replicate_nl"))
    assert any("CartesianProduct" in f for f in lint_plan(explain_formatted(spark, cart)))


def test_linter_parses_codegen_stars_and_subqueries():
    """Pure-parser self-test: '*'-starred whole-stage-codegen nodes and
    subquery-section trees must not be dropped — a starred Sort over an
    unreduced SinglePartition exchange is flagged, a starred aggregate
    below the exchange counts as the reduction, and a bad node inside a
    '===== Subqueries =====' tree is still seen."""
    starred_bad = """== Physical Plan ==
* Sort (3)
+- Exchange (2)
   +- * ColumnarToRow (1)

(2) Exchange
Arguments: SinglePartition, ENSURE_REQUIREMENTS, [plan_id=5]
"""
    assert any("SinglePartition" in f for f in lint_plan(starred_bad))

    starred_ok = starred_bad + ""  # same tree but with a reducer below
    starred_ok = """== Physical Plan ==
* Sort (4)
+- Exchange (3)
   +- * HashAggregate (2)
      +- * ColumnarToRow (1)

(3) Exchange
Arguments: SinglePartition, ENSURE_REQUIREMENTS, [plan_id=5]
"""
    assert lint_plan(starred_ok) == []

    with_subquery = """== Physical Plan ==
* Project (2)
+- * ColumnarToRow (1)

===== Subqueries =====

Subquery:1 Hosting operator id = 2 Hosting Expression = scalar-subquery#1
CartesianProduct (5)
:- Scan parquet  (3)
+- Scan parquet  (4)
"""
    assert any("CartesianProduct" in f for f in lint_plan(with_subquery))


def test_registry_plans_clean(registry_builds):
    """The actual sweep: no non-allowlisted query ships a banned plan
    shape. Every registered plan is built at sf0.001 (once, shared with
    test_entry's nested-column sweep); this is the machine version of
    the per-round human plan audit."""
    bad: dict[str, list[str]] = {}
    for name, (_, plan) in registry_builds.items():
        findings = waive(name, lint_plan(plan))
        if findings:
            bad[name] = findings
    assert bad == {}, f"plan lint: {bad}"
