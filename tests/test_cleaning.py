"""Unit tests: cleaning expressions (mojibake, null phrases, nan, headers).

Mirrors reference semantics at utils.py:103-106,146-156,184-187 and
transform_alchemer_data.py:13-39 — including the fused-phrase quirk.
"""

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Row

from ffi_etl_spark.functions.cleaning import (
    NULL_PHRASES,
    clean_headers,
    clean_strings,
    fix_mojibake,
    fix_mojibake_name,
    validate_renames,
)

# the two mojibake sequences, their pieces, their replacements and
# regex metacharacters: a regex kernel would read the latter as patterns
_MOJIBAKE_TOKENS = ["â€™", "Ã", "â", "€", "™", "'", "i", ".", "*", "$", "\\", "a", " "]


def _clean_one(spark, text):
    df = spark.createDataFrame([Row(t=text)])
    return clean_strings(df, open_text_cols=["t"]).collect()[0].t


def test_mojibake_fixed(spark):
    assert _clean_one(spark, "donâ€™t") == "don't"
    assert _clean_one(spark, "cafÃ©") == "cafi©"  # Ã -> i, verbatim reference rule


@given(texts=st.lists(
    st.lists(st.sampled_from(_MOJIBAKE_TOKENS), max_size=12).map("".join),
    min_size=1, max_size=20,
))
@settings(
    max_examples=8,  # one Spark job per example
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
def test_fix_mojibake_matches_driver_repair(spark, texts):
    """The column kernel and the driver-side header repair agree on any
    string, metacharacters included."""
    df = spark.createDataFrame([Row(t=t) for t in texts])
    got = [r.f for r in df.select(fix_mojibake("t").alias("f")).collect()]
    assert got == [fix_mojibake_name(t) for t in texts]


def test_null_phrases_nulled(spark):
    assert _clean_one(spark, "N/A") is None
    assert _clean_one(spark, "  No Thanks!! ") is None
    assert _clean_one(spark, "none") is None


def test_fused_phrase_quirk(spark):
    # utils.py:105 missing comma: "not really" alone is NOT nulled...
    assert "not really" not in NULL_PHRASES
    assert _clean_one(spark, "not really") == "not really"
    # ...but the fused phrase IS
    assert _clean_one(spark, "nada mas que agregarnot really") is None


def test_nan_nulled_everywhere(spark):
    df = spark.createDataFrame([Row(a="nan", b="fine")])
    row = clean_strings(df).collect()[0]
    assert row.a is None and row.b == "fine"


def test_missing_open_text_column_tolerated(spark):
    df = spark.createDataFrame([Row(t="hello")])
    assert clean_strings(df, open_text_cols=["nope"]).collect()[0].t == "hello"


def test_non_string_columns_passthrough(spark):
    df = spark.createDataFrame([Row(n=7, t="x")])
    assert clean_strings(df).collect()[0].n == 7


def test_clean_headers(spark):
    df = spark.createDataFrame([Row(x=1)]).toDF(" What donâ€™t you like? ")
    assert clean_headers(df).columns == ["What don't you like?"]


def test_validate_renames_gate():
    validate_renames(["a", "b"], {"a": "A"})
    with pytest.raises(ValueError, match="not found"):
        validate_renames(["a"], {"missing": "x"})
    with pytest.raises(ValueError, match="too long"):
        validate_renames(["a"], {"a": "x" * 151})
