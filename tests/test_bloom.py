"""Partitioned Bloom filter (r12 build-ahead, declared r13):
set-bit-exact equality with an independent Python reference under any
partitioning, duplicate-invariance, mergeability (OR == union build),
the no-false-negative contract end-to-end, shape/geometry validation,
and the grouped form's NULL contracts. The declared-query oracle form
(slated r13) is the full set-bit replay these tests pin — the bit
arithmetic is pure integer on the cms.py affine grid."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from food_panda_etl_spark.operators.bloom import (
    bloom_merge,
    bloom_prefilter,
    bloom_probe,
    bloom_sketch,
)
from food_panda_etl_spark.operators.cms import _ADDS, _MULTS, _P

M_BITS, K = 1024, 4
WIDTH = M_BITS // K


def _ref_bits(keys, width=WIDTH, k_hashes=K) -> set:
    return {
        (j, ((key % _P) * _MULTS[j] + _ADDS[j]) % _P % width)
        for key in keys
        if key is not None
        for j in range(k_hashes)
    }


def _bits(df) -> set:
    return {(r["j"], r["b"]) for r in df.collect()}


@pytest.mark.parametrize("parts", [1, 3, 7])
def test_sketch_equals_reference(spark, parts):
    keys = [0, 1, 99, -5, 1_000_003, 2**62, -(2**61), 7, 7, 7]
    df = spark.createDataFrame(
        [(k,) for k in keys], "k long"
    ).repartition(parts)
    got = bloom_sketch(df, "k", m_bits=M_BITS, k_hashes=K)
    assert _bits(got) == _ref_bits(keys)
    assert all(r["set"] == 1 for r in got.collect())


def test_sketch_depends_only_on_distinct_set(spark):
    a = spark.createDataFrame([(i % 10,) for i in range(100)], "k long")
    b = spark.createDataFrame([(i,) for i in range(10)], "k long")
    assert _bits(bloom_sketch(a, "k", M_BITS, K)) == _bits(
        bloom_sketch(b, "k", M_BITS, K)
    )


def test_merge_equals_union_build(spark):
    xs = [1, 2, 3, 4, 50, 60]
    a = spark.createDataFrame([(k,) for k in xs[:3]], "k long")
    b = spark.createDataFrame([(k,) for k in xs[3:]], "k long")
    u = spark.createDataFrame([(k,) for k in xs], "k long")
    merged = bloom_merge(
        bloom_sketch(a, "k", M_BITS, K), bloom_sketch(b, "k", M_BITS, K)
    )
    assert _bits(merged) == _bits(bloom_sketch(u, "k", M_BITS, K))
    assert all(r["set"] == 1 for r in merged.collect())


def test_no_false_negatives_and_deterministic_probe(spark):
    present = [3, 17, 2**40, -9, 1_000_002]
    df = spark.createDataFrame([(k,) for k in present], "k long")
    sk = bloom_sketch(df, "k", M_BITS, K)
    probes = spark.createDataFrame(
        [(k,) for k in present + [5, 123456, -77]], "k long"
    )
    out = {
        r["k"]: r["maybe_present"]
        for r in bloom_probe(sk, probes, "k", M_BITS, K).collect()
    }
    for k in present:
        assert out[k] == 1, f"false negative at {k}"
    # absent keys: replay the reference verdict (deterministic hashes —
    # a false positive is the SAME false positive everywhere)
    bits = _ref_bits(present)
    for k in [5, 123456, -77]:
        want = int(all(c in bits for c in _ref_bits([k])))
        assert out[k] == want


def test_grouped_sketch_and_null_contracts(spark):
    df = spark.createDataFrame(
        [(None, 1), (None, 1), (0, None), (0, 2)], "g long, k long"
    )
    sk = bloom_sketch(df, "k", M_BITS, K, group_cols=("g",))
    rows = sk.collect()
    # NULL group is its own group; NULL key skipped (g=0 keeps key 2)
    assert {r["g"] for r in rows} == {None, 0}
    assert {(r["j"], r["b"]) for r in rows if r["g"] is None} == _ref_bits(
        [1]
    )
    assert {(r["j"], r["b"]) for r in rows if r["g"] == 0} == _ref_bits([2])


def test_validation_and_merge_shape(spark):
    df = spark.createDataFrame([(1,)], "k long")
    with pytest.raises(ValueError, match="k_hashes must be"):
        bloom_sketch(df, "k", M_BITS, 99)
    with pytest.raises(ValueError, match="multiple of"):
        bloom_sketch(df, "k", 1026, 4)
    with pytest.raises(ValueError, match="exceeds the hash grid"):
        bloom_sketch(df, "k", 8 * _P, 4)
    with pytest.raises(ValueError, match="at least one"):
        bloom_merge()
    sk = bloom_sketch(df, "k", M_BITS, K)
    # reordered columns are the same sketch (sorted-compare, the
    # hll_merge ADVICE r11 convention) …
    assert _bits(bloom_merge(sk.select("set", "b", "j"))) == _bits(sk)
    # … a grouped sketch under flat group_cols is not
    g = bloom_sketch(
        spark.createDataFrame([(0, 1)], "g long, k long"),
        "k",
        M_BITS,
        K,
        group_cols=("g",),
    )
    with pytest.raises(ValueError, match="group_cols must match"):
        bloom_merge(g)


def test_probe_duplicate_rows_and_shape_guards(spark):
    """Review-caught r12: duplicate probe rows must NOT read as absent
    (the old sum-of-matches verdict saw 2k hits != k); a grouped sketch
    probed flat must raise, not silently multi-match into false
    negatives; reserved probe column names must raise."""
    present = [3, 17]
    df = spark.createDataFrame([(k,) for k in present], "k long")
    sk = bloom_sketch(df, "k", M_BITS, K)
    dup_probes = spark.createDataFrame([(3,), (3,), (17,)], "k long")
    out = bloom_probe(sk, dup_probes, "k", M_BITS, K).collect()
    assert len(out) == 2  # one row per DISTINCT probe row
    assert all(r["maybe_present"] == 1 for r in out)
    g = bloom_sketch(
        spark.createDataFrame([(0, 3), (1, 3)], "g long, k long"),
        "k",
        M_BITS,
        K,
        group_cols=("g",),
    )
    with pytest.raises(ValueError, match="probe a grouped sketch"):
        bloom_probe(g, dup_probes, "k", M_BITS, K)
    clash = spark.createDataFrame([(3, 1)], "k long, b int")
    with pytest.raises(ValueError, match="collide with"):
        bloom_probe(sk, clash, "k", M_BITS, K)


def test_probe_plan_is_broadcast_join(spark, sf_dir):
    """The probe's join against the ≤ m-row sketch must plan as a
    BroadcastHashJoin — the big probe side never shuffles (the
    cms_estimate convention); and the map-only build/probe pipeline
    plans with no CartesianProduct."""
    from food_panda_etl_spark.plans import plan_summary
    from food_panda_etl_spark.tables import load_table

    o = load_table(spark, sf_dir, "orders")
    sk = bloom_sketch(o, "o_custkey", m_bits=4096, k_hashes=4)
    probes = spark.range(500).select(F.col("id").alias("k"))
    s = plan_summary(bloom_probe(sk, probes, "k", 4096, 4))
    assert s.broadcast_joins >= 1
    assert s.sort_merge_joins == 0
    assert s.cartesian_products == 0 and s.nested_loop_joins == 0


def test_prefilter_matches_probe_and_plans_map_only(spark, sf_dir):
    """The fact-scale prefilter must agree with bloom_probe verdict-
    for-verdict (same bits, same hashes), return 0 for NULL keys, and
    plan with ZERO exchanges on the fact side — the sketch folds into
    one broadcast row, the fact is a map-only projection after it."""
    present = [3, 17, 2**40, -9]
    base = spark.createDataFrame([(k,) for k in present], "k long")
    sk = bloom_sketch(base, "k", M_BITS, K)
    probe_keys = present + [5, 123456, -77]
    probes = spark.createDataFrame([(k,) for k in probe_keys], "k long")
    want = {
        r["k"]: r["maybe_present"]
        for r in bloom_probe(sk, probes, "k", M_BITS, K).collect()
    }
    got_df = bloom_prefilter(sk, probes, "k", M_BITS, K)
    got = {r["k"]: r["maybe_present"] for r in got_df.collect()}
    assert got == want
    nulls = spark.createDataFrame([(None,), (3,)], "k long")
    out = {
        r["k"]: r["maybe_present"]
        for r in bloom_prefilter(sk, nulls, "k", M_BITS, K).collect()
    }
    assert out[None] == 0 and out[3] == 1
    # duplicate (j, b) rows (naively-unioned shards) must not abort
    # map_from_entries — same verdicts as the duplicate-immune probe
    # (review-caught r12: the nested-map fold crashed here)
    dup_sk = sk.unionByName(sk)
    got_dup = {
        r["k"]: r["maybe_present"]
        for r in bloom_prefilter(dup_sk, probes, "k", M_BITS, K).collect()
    }
    assert got_dup == want
    # plan localization (review-caught r12: a total bound can't tell
    # WHICH subtree exchanges): the sketch-fold subtree owns some fixed
    # exchange count N; swapping the fact from a shuffle-free range to
    # a parquet scan must add ZERO — the fact side is map-only
    from food_panda_etl_spark.plans import plan_summary
    from food_panda_etl_spark.tables import load_table

    rng = spark.range(10).select(F.col("id").alias("kk"))
    n_sketch_side = plan_summary(
        bloom_prefilter(sk, rng, "kk", M_BITS, K)
    ).exchanges
    o = load_table(spark, sf_dir, "orders")
    s = plan_summary(bloom_prefilter(sk, o, "o_custkey", M_BITS, K))
    assert s.cartesian_products == 0
    assert s.sort_merge_joins == 0
    assert s.exchanges == n_sketch_side  # fact adds zero exchanges
    # shape guards mirror bloom_probe's
    g = bloom_sketch(
        spark.createDataFrame([(0, 1)], "g long, k long"),
        "k", M_BITS, K, group_cols=("g",),
    )
    with pytest.raises(ValueError, match="filter to ONE group"):
        bloom_prefilter(g, probes, "k", M_BITS, K)
    with pytest.raises(ValueError, match="different out_col"):
        bloom_prefilter(sk, probes.withColumn("maybe_present", F.lit(1)),
                        "k", M_BITS, K)


def test_prefilter_reads_one_sketch_materialization(spark):
    """The k broadcast builds read ONE materialization of the sketch
    cells (ADVICE r20): a sketch lineage runs once per prefilter, not
    once per hash row, so a nondeterministic lineage cannot give the
    builds divergent bit sets. The lineage's UDF counts its rows."""
    seen = spark.sparkContext.accumulator(0)

    def tap(k):
        seen.add(1)
        return k

    tap_udf = F.udf(tap, "long").asNondeterministic()
    keys = list(range(50))
    base = spark.createDataFrame([(k,) for k in keys], "k long")
    sk = bloom_sketch(base.select(tap_udf("k").alias("k")), "k", M_BITS, K)
    probes = spark.range(100).select(F.col("id").alias("k"))
    out = bloom_prefilter(sk, probes, "k", M_BITS, K).collect()
    assert seen.value == len(keys)  # not K * len(keys)
    assert all(r["maybe_present"] == 1 for r in out if r["k"] in keys)


def test_merge_groups_rebuckets_and_windows(spark):
    """The re-bucketing combine (family symmetry with cms/hll
    merge_groups): per-day sketches OR'd across the day dimension ==
    the direct sketch of all rows; a day-filtered re-bucket answers
    trailing-window membership from state alone with no false
    negatives; shape validation via the shared checker."""
    from food_panda_etl_spark.operators.bloom import bloom_merge_groups

    rows = [(d, 100 * d + i) for d in range(4) for i in range(5)]
    df = spark.createDataFrame(rows, "day int, k long")
    by_day = bloom_sketch(df, "k", M_BITS, K, group_cols=("day",))
    rebucketed = bloom_merge_groups(by_day)
    assert _bits(rebucketed) == _bits(bloom_sketch(df, "k", M_BITS, K))
    # trailing window (days >= 2): present keys all probe 1
    recent = bloom_merge_groups(by_day.filter(F.col("day") >= 2))
    win_keys = [k for d, k in rows if d >= 2]
    probes = spark.createDataFrame([(k,) for k in win_keys], "k long")
    out = bloom_probe(recent, probes, "k", M_BITS, K).collect()
    assert all(r["maybe_present"] == 1 for r in out)
    with pytest.raises(ValueError, match="at least one"):
        bloom_merge_groups()
    flat = bloom_sketch(df, "k", M_BITS, K)
    with pytest.raises(ValueError, match="lacks columns"):
        bloom_merge_groups(flat, group_cols=("day",))
    dup = by_day.select("day", "j", "b", "set", "set")
    with pytest.raises(ValueError, match="duplicated columns"):
        bloom_merge_groups(dup, group_cols=("day",))


def test_geometry_stamp_validated_everywhere(spark):
    """ADVICE r17 #4: (m_bits, k_hashes) ride bloom_sketch output as
    column metadata (the CMS/incremental-family stamp) and every
    consumer validates — probe, prefilter, merge; mixed-geometry
    merges raise against EACH OTHER; stripped stamps (hand-built
    state) stay accepted as the caller's contract."""
    keys = spark.range(500).select(F.col("id").alias("k"))
    probes = spark.range(20).select(F.col("id").alias("k"))
    sk = bloom_sketch(keys, "k", m_bits=4096, k_hashes=4)
    with pytest.raises(ValueError, match="does not match the supplied"):
        bloom_probe(sk, probes, "k", m_bits=2048, k_hashes=4)
    with pytest.raises(ValueError, match="does not match the supplied"):
        bloom_prefilter(sk, probes, "k", m_bits=4096, k_hashes=2)
    sk_other = bloom_sketch(keys, "k", m_bits=2048, k_hashes=4)
    with pytest.raises(ValueError, match="different geometries"):
        bloom_merge(sk, sk_other)
    # the merged output carries the stamp forward
    merged = bloom_merge(
        sk, bloom_sketch(probes, "k", m_bits=4096, k_hashes=4)
    )
    with pytest.raises(ValueError, match="does not match the supplied"):
        bloom_probe(merged, probes, "k", m_bits=4096, k_hashes=2)
    # stripped stamp: the caller's contract — accepted and correct
    # when the geometry actually matches
    bare = sk.withMetadata("set", {})
    got = bloom_probe(bare, probes, "k", m_bits=4096, k_hashes=4)
    assert got.filter(F.col("maybe_present") == 1).count() == 20
