"""The local verifier must be at least as strict as the driver's
value hash (VERDICT r6 #1): r6 shipped a red driver row (q119) that
verify_local called green because its float normalization (%.9g) was
MORE lenient than the driver at large magnitudes — 2 decimal places
at 1e7. These tests pin the tightened normalize() so that regression
can't recur."""

import math
import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

import verify_local  # noqa: E402
from verify_local import nested_columns, normalize, rows_to_multiset  # noqa: E402


def test_one_ulp_at_rounding_digit_differs():
    # the exact r6 q119 failure shape: two covar_pop computations that
    # agree to 11 significant digits but round to 4 decimals on
    # opposite sides of the boundary at ~1.2e7 magnitude
    spark_side = -11864191.4402
    duck_side = -11864191.4403
    assert normalize(spark_side) != normalize(duck_side)
    # and genuinely 1 ULP apart must differ too — full precision
    x = 12345678.901234
    assert normalize(x) != normalize(math.nextafter(x, math.inf))


def test_equal_doubles_still_match():
    # identical doubles (both sides rounded identically) stay equal,
    # including negative zero vs zero textual forms
    assert normalize(0.123456) == normalize(0.123456)
    assert normalize(float("nan")) == "nan"
    a = rows_to_multiset([(1.5, "x")], ["v", "k"])
    b = rows_to_multiset([(1.5, "x")], ["v", "k"])
    assert a == b


def test_multiset_detects_single_row_diff():
    a = rows_to_multiset([(1.0, "x"), (2.0, "y")], ["v", "k"])
    b = rows_to_multiset([(1.0, "x"), (2.0000000000000004, "y")], ["v", "k"])
    assert a != b


def test_nested_columns_rejected():
    # the r10 q152 incident: a raw array<int> output column passed the
    # local gate (str() of a list) but crashed the driver canonicalizer
    # (pandas cannot sort list cells). nested_columns must flag every
    # array/map/struct column so the gate FAILS such a query.
    from pyspark.sql.types import (
        ArrayType,
        IntegerType,
        LongType,
        MapType,
        StringType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("codes", ArrayType(IntegerType())),
            StructField("meta", MapType(StringType(), StringType())),
            StructField(
                "pair", StructType([StructField("a", LongType())])
            ),
            StructField("ok", StringType()),
        ]
    )
    assert nested_columns(schema) == ["codes", "meta", "pair"]
    flat = StructType(
        [StructField("vec_id", LongType()), StructField("codes", StringType())]
    )
    assert nested_columns(flat) == []


def test_q152_output_schema_is_scalar(spark, sf_dir):
    # the fixed q152 must itself pass the new gate: the PQ code word
    # ships dash-joined, never as a bare array column
    from pig_spark.queries import q152_pq_ann

    df = q152_pq_ann(spark, sf_dir)
    assert nested_columns(df.schema) == []
    assert dict(df.dtypes)["codes"] == "string"


def test_unknown_query_names_fail(monkeypatch, capsys):
    # a misspelled name in a sweep list must not pass as "0 failures":
    # the verifier names it and exits non-zero before running anything
    monkeypatch.setattr(
        sys, "argv", ["verify_local.py", "/nonexistent", "q41_minhash_pairs", "q150_signature_index"]
    )
    with pytest.raises(SystemExit) as exit_:
        verify_local.main()
    assert exit_.value.code != 0
    out = capsys.readouterr().out
    assert "q150_signature_index" in out
    assert "q41_minhash_pairs" not in out
