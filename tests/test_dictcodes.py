"""Dictionary-encoding warehouse layer (functions/dictcodes.py):
code assignment determinism, NULL semantics, the tinyint-domain guard,
and decode parity between a broadcast join of the decode dims and the
inline-map decode.
The end-to-end write->read->agg->decode lifecycle is oracle-gated by
``q1_coded_layout`` (plans/lifecycle_queries.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from glamira_batch_processing_spark.functions.dictcodes import (
    decode_after_agg_inline,
    dict_encode_columns,
)


def _src(spark):
    return spark.createDataFrame(
        [("R", "F", 1), ("A", "O", 2), ("N", "F", 3), ("A", None, 4), (None, "O", 5)],
        "flag string, status string, v int",
    )


def test_codes_are_sorted_dense_and_deterministic(spark):
    _, dims = dict_encode_columns(_src(spark), ["flag"])
    pairs = sorted(
        (r["flag_code"], r["flag"]) for r in dims["flag"].collect()
    )
    # sorted distinct values get dense codes 0..n-1
    assert pairs == [(0, "A"), (1, "N"), (2, "R")]
    # second derivation from a differently-ordered frame agrees
    _, dims2 = dict_encode_columns(_src(spark).orderBy(F.desc("v")), ["flag"])
    assert pairs == sorted(
        (r["flag_code"], r["flag"]) for r in dims2["flag"].collect()
    )


def test_null_encodes_as_null_and_roundtrips(spark):
    coded, dims = dict_encode_columns(_src(spark), ["flag", "status"])
    assert "flag" not in coded.columns and "flag_code" in coded.columns
    rows = {r["v"]: (r["flag_code"], r["status_code"]) for r in coded.collect()}
    assert rows[5][0] is None and rows[4][1] is None
    # groupBy on codes + decode == groupBy on the original strings
    agg = coded.groupBy("flag_code").agg(F.sum("v").alias("sv"))
    back = {
        (r["flag"], r["sv"])
        for r in decode_after_agg_inline(agg, {"flag": dims["flag"]}).collect()
    }
    expect = {
        (r["flag"], r["sv"])
        for r in _src(spark).groupBy("flag").agg(F.sum("v").alias("sv")).collect()
    }
    assert back == expect


def test_inline_decode_matches_join_decode(spark):
    coded, dims = dict_encode_columns(_src(spark), ["flag", "status"])
    agg = coded.groupBy("flag_code", "status_code").agg(
        F.count("*").alias("n")
    )
    joined = agg
    for c, dim in dims.items():
        joined = joined.join(F.broadcast(dim), on=f"{c}_code", how="left")
    j = {(r["flag"], r["status"], r["n"]) for r in joined.collect()}
    i = {
        (r["flag"], r["status"], r["n"])
        for r in decode_after_agg_inline(agg, dims).collect()
    }
    assert j == i and len(j) == 5


def test_wide_column_refused(spark):
    wide = spark.range(200).selectExpr("CAST(id AS STRING) AS flag", "id AS v")
    with pytest.raises(ValueError, match="tinyint code domain"):
        dict_encode_columns(wide, ["flag"])
