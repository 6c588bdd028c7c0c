"""values_df must be value- and schema-identical to createDataFrame
(it replaces the pickled-Python ParallelCollectionRDD path for small
driver-side literal tables — see food_panda_etl_spark/localrel.py)."""

from __future__ import annotations

import pytest

from food_panda_etl_spark.localrel import values_df


def _same(spark, rows, schema):
    a = values_df(spark, rows, schema)
    b = spark.createDataFrame(rows, schema)
    # nullability may differ (VALUES infers non-null where no NULL
    # appears — strictly tighter); names and types must match exactly
    assert [(f.name, f.dataType) for f in a.schema] == [
        (f.name, f.dataType) for f in b.schema
    ], (a.schema, b.schema)
    ra = sorted(map(tuple, a.collect()), key=repr)
    rb = sorted(map(tuple, b.collect()), key=repr)
    assert ra == rb, (ra[:3], rb[:3])


def test_ints_strings_nulls(spark):
    _same(
        spark,
        [("en", 40), ("zh", 15), (None, 0)],
        "lang string, wgt int",
    )
    _same(
        spark,
        [(None, "UNASSIGNED"), (7, "x")],
        "n_nationkey bigint, n_name string",
    )


def test_hostile_strings_roundtrip(spark):
    """BPE merge tables carry arbitrary corpus characters — quotes,
    backslashes, unicode, whitespace runs must all survive the SQL
    literal escaping."""
    rows = [
        (0, "it's", "a\\b", 3),
        (1, 'q"q', "t\tt", 2),
        (2, "héllo", "wörld</w>", 1),
        (3, "%s{}", "-- not a comment", 9),
    ]
    _same(spark, rows, "rank int, lhs string, rhs string, pair_freq bigint")


def test_float_bit_roundtrip(spark):
    import math

    vals = [0.1, 1 / 3, 1e-300, 1.7976931348623157e308, -0.0,
            0.1494140625, math.pi]
    rows = [(i, v) for i, v in enumerate(vals)]
    a = values_df(spark, rows, "i int, v double").collect()
    got = {r.i: r.v for r in a}
    for i, v in enumerate(vals):
        assert got[i].hex() == v.hex(), (i, v)


def test_double_arrays(spark):
    rows = [(0, [0.25, 1 / 3]), (1, [1e-9, -2.5])]
    _same(spark, rows, "cell int, cvec array<double>")


def test_empty_falls_back_to_typed_empty_frame(spark):
    # ADVICE r19 item 1: an empty merges list is a legitimate
    # degenerate input (whitespace-only BPE corpus) — values_df must
    # return the typed empty frame createDataFrame used to, not raise.
    out = values_df(spark, [], "a int, b string")
    assert out.count() == 0
    assert out.schema.simpleString() == "struct<a:int,b:string>"


def test_unsupported_type_falls_back(spark):
    # ADVICE r19 item 2: literal types the VALUES encoder cannot emit
    # (date/timestamp/decimal stratum keys) take the createDataFrame
    # path instead of raising TypeError.
    import datetime

    out = values_df(
        spark, [(datetime.date(2024, 1, 2), 7)], "d date, n int"
    ).collect()
    assert out[0][0] == datetime.date(2024, 1, 2) and out[0][1] == 7


def test_escaped_string_literals_mode_falls_back(spark):
    # ADVICE r19 item 2: _sql_str assumes escapedStringLiterals=false;
    # under the legacy parser mode the relation must come out value-
    # identical via the fallback path. Spark parses boolean confs
    # case-insensitively, so every spelling of true enables the mode
    # (ADVICE r20).
    for flag in ("true", "True", "TRUE"):
        spark.conf.set("spark.sql.parser.escapedStringLiterals", flag)
        try:
            got = values_df(spark, [("a\\b'c",)], "t string").collect()[0][0]
        finally:
            spark.conf.set("spark.sql.parser.escapedStringLiterals", "false")
        assert got == "a\\b'c", flag
