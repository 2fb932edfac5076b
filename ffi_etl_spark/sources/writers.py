"""Sinks (SURVEY.md §2.1 S6-S10).

The reference's Delta ``saveAsTable(overwrite, overwriteSchema,
column-mapping-by-name)`` (utils.py:124-142) maps to parquet overwrite +
temp-view registration: same addressability (``spark.table``/SQL), same
full-replace semantics, and parquet field-ids tolerate the reference's
space/``%``-laden column names. Single-file exports reproduce
utils.py:226-252's coalesce(1)-then-rename dance with ``shutil`` in
place of ``dbutils.fs``.

Error policy (SURVEY.md §2.11): the reference *prints* writer
exceptions (utils.py:140-142). Here that is an explicit switch —
``strict=True`` raises (default; fail-fast core), ``strict=False``
reproduces the reference's print-and-continue for drop-in parity.

Scale: table writes stay distributed (one file per partition);
``coalesce(1)`` is reserved for the final gold exports, which are
K-row aggregates by construction. ``single_file_csv`` never routes
through driver pandas (write_to_volume.py:15-16 does) — the export is
a Spark job either way, so the 100 TB failure mode (driver OOM) is
structurally absent.
"""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import DataFrame, SparkSession


def write_table(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    strict: bool = True,
    partition_by: list[str] | None = None,
) -> None:
    """S7: overwrite-save as a parquet-backed 'managed table'. Callers
    that want ``spark.table(name)`` register the view from their own
    re-read (``Pipeline.run`` does)."""
    try:
        writer = df.write.mode(mode)
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(path)
    except Exception as e:  # noqa: BLE001 — reference parity switch
        if strict:
            raise
        print(f"Error writing data to {path}: {e}")


def list_tables(spark: SparkSession, pattern: str | None = None) -> list[str]:
    """S6: catalog introspection (write_to_volume.py:7-8's SHOW TABLES +
    substring filter)."""
    names = [t.name for t in spark.catalog.listTables()]
    if pattern is not None:
        names = [n for n in names if pattern in n]
    return names


def _single_file_export(df: DataFrame, fmt: str, final_path: str, strict: bool, **options) -> None:
    """coalesce(1) -> temp dir -> locate part file -> move to final path
    (utils.py:226-252 with shutil instead of dbutils.fs)."""
    tmp = final_path + ".__tmp__"
    try:
        writer = df.coalesce(1).write.mode("overwrite")
        for k, v in options.items():
            writer = writer.option(k, v)
        getattr(writer, fmt)(tmp)
        part = glob.glob(os.path.join(tmp, f"part-*"))
        if len(part) != 1:
            raise RuntimeError(f"expected exactly one part file in {tmp}, found {len(part)}")
        os.makedirs(os.path.dirname(final_path) or ".", exist_ok=True)
        if os.path.exists(final_path):
            os.remove(final_path)
        shutil.move(part[0], final_path)
    except Exception as e:  # noqa: BLE001 — reference parity switch
        if strict:
            raise
        print(f"Error exporting {fmt} to {final_path}: {e}")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def single_file_json(df: DataFrame, final_path: str, strict: bool = True) -> None:
    """S8: one-file JSON-lines export (utils.py:245-252)."""
    _single_file_export(df, "json", final_path, strict)


def single_file_csv(df: DataFrame, final_path: str, strict: bool = True) -> None:
    """S9: one-file header CSV export (write_to_volume.py:15-16, minus
    the driver-pandas round-trip)."""
    _single_file_export(df, "csv", final_path, strict, header=True)


def export_gold_tables(
    spark: SparkSession, out_dir: str, pattern: str | None = None, strict: bool = True
) -> list[str]:
    """S8+S9 orchestration (write_to_volume.py:7-16): every registered
    table matching ``pattern`` lands as one JSON file + one header CSV
    under ``out_dir``. Returns the exported table names."""
    names = list_tables(spark, pattern)
    for name in names:
        df = spark.table(name)
        single_file_json(df, os.path.join(out_dir, f"{name}.json"), strict=strict)
        single_file_csv(df, os.path.join(out_dir, f"{name}.csv"), strict=strict)
    return names


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Small-file compaction: rewrite a parquet dataset into
    ceil(total_bytes / target) files. The 100 TB housekeeping primitive —
    streaming sinks and fine-grained upserts accrete small files whose
    per-file open/footer cost eventually dominates scans.

    Returns the new file count. Rewrite goes through a temp dir then an
    atomic-ish swap so a crash never leaves the dataset half-written."""
    import math
    import os
    import shutil

    total = sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    )
    n_files = max(1, math.ceil(total / target_file_bytes))
    tmp = path.rstrip("/") + ".__compact__"
    spark.read.parquet(path).repartition(n_files).write.mode("overwrite").parquet(tmp)
    old = path.rstrip("/") + ".__old__"
    shutil.move(path, old)
    shutil.move(tmp, path)
    shutil.rmtree(old)
    return n_files
