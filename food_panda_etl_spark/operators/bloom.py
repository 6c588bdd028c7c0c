"""Bloom filter over a key column — the mergeable set-membership
summary (Bloom, CACM 1970) that answers "might key k be in the set?"
in O(m) space with NO false negatives and a tunable false-positive
rate. The membership sibling of `operators/cms.py` (point frequency)
and `operators/hll.py` (cardinality): at 100 TB its jobs are
join pre-filtering (probe the small side's filter before shuffling the
big side), decontamination pre-screens, and incremental-ingest "seen
key?" checks — all places where a one-sided error is acceptable and
shipping the exact key set is not.

PARTITIONED variant: k independent bit rows of m/k bits each (hash j
owns row j), not one shared array — same asymptotic FPR (Kirsch &
Mitzenmacher, ESA 2006 discuss the partitioned form's equivalence),
and the row index makes the sketch a plain (j, b) relation:

1. build — each key sets k bits (j, h_j(key)): one narrow k-way
   explode + ONE distinct-style (j, b) hash aggregation. The sketch IS
   a DataFrame of ≤ m set-bit rows — mergeable by construction
   (Bloom merge is bitwise OR == row-set union);
2. probe — candidate keys join the sketch on the same (j, b) cells; a
   key is "maybe present" iff ALL k of its cells are set: one
   ≤ m-row join (broadcast at any realistic geometry) + one per-key
   count. Present keys ALWAYS probe true (no false negatives — the
   audit column every declared query carries);
3. merge — union + distinct across shard sketches, `bloom_merge`.

Determinism: the bit positions reuse the CMS affine hash family
(`cms._cell`: ((key mod P)·A_j + B_j) mod P mod width, overflow-free
for any int64 key), so the sketch, every probe verdict, and the FPR
audit are bit-identical in any engine — the declared query (slated
r13) can hash-match the FULL set-bit replay in DuckDB, not just a
gate verdict.

Scale: the fact table is touched once, shuffling (j, bit) int pairs
that the map-side distinct pre-collapses; m bounds state regardless of
key cardinality. False-positive rate for the partitioned form with n
distinct keys: (1 − (1 − k/m)^n)^k ≈ (1 − e^(−kn/m))^k — size m ≈
1.44·k·n/ln2 bits for the classic optimum. Key column must be integral
(string keys pre-fold with the portable polynomial, the cms.py
contract).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from food_panda_etl_spark.operators.cms import (
    _MULTS,
    _P,
    _cell,
    oracle_dm_sql,
)
from food_panda_etl_spark.operators.sketch_checks import check_merge_columns
from food_panda_etl_spark.operators.state_geometry import (
    check_probe_geometry,
    check_uniform_geometry,
    state_geometry,
)

#: The sketch-geometry stamp keys (the CMS_GEO_KEYS sibling, ADVICE
#: r17 #4): (m_bits, k_hashes) ride `bloom_sketch` output as column
#: metadata so probes/merges/intersections at another geometry fail
#: LOUDLY — two same-SHAPED sketches built at different widths AND to
#: a meaningless near-empty bit table with no error otherwise.
#: "family" versions the hash constants (the CMS affine family).
BLOOM_GEO_KEYS = ("m_bits", "k_hashes", "family")
_FAMILY = "bloom.cms-affine/v1"


def bloom_geometry(m_bits: int, k_hashes: int) -> dict:
    """The metadata dict `bloom_sketch` stamps and every consumer
    validates (unstamped sketches stay accepted with matching geometry
    as the CALLER's contract — the incremental-state convention)."""
    return {
        "m_bits": int(m_bits),
        "k_hashes": int(k_hashes),
        "family": _FAMILY,
    }


def _exploded_cells(
    df: DataFrame,
    col: str,
    k_hashes: int,
    width: int,
    keep: list[str],
) -> DataFrame:
    """``keep`` columns + one (j, b) row per hash of ``col`` — the
    k-cell struct-array + explode expansion shared by the build and
    BOTH probes (flat `bloom_probe` and the grouped
    `bloom_group.bloom_probe_by_group`). ONE definition (review r16:
    the grouped probe mirrored this block; the consolidation was
    deferred to the round that windows bloom.py's declared keys —
    landed r17, and `tests/test_bloom_group.py::
    test_matches_flat_probe_per_group` keeps pinning the grouped ==
    flat-per-group equivalence as the behavior check)."""
    k = F.col(col)
    cells = F.array(*[
        F.struct(F.lit(j).alias("j"), _cell(k, j, width).alias("b"))
        for j in range(k_hashes)
    ])
    return df.select(*keep, F.explode(cells).alias("__c")).select(
        *keep,
        F.col("__c.j").alias("j"),
        F.col("__c.b").alias("b"),
    )


def bloom_sketch(
    df: DataFrame,
    col: str,
    m_bits: int = 4096,
    k_hashes: int = 4,
    group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Build the (*group_cols, j, b) set-bit table — ≤ m_bits rows per
    group (row j uses width m_bits // k_hashes; m_bits must divide
    evenly so the declared geometry is exact).

    Rows with a NULL key are skipped (the cms/hll NULL contract: count
    NULL mass separately if it matters); NULL GROUP keys form their own
    group (identical grouping semantics in both engines)."""
    width = _validate(m_bits, k_hashes)
    clash = sorted({"j", "b", "set", "__c"} & set(group_cols))
    if clash:
        raise ValueError(
            f"bloom_sketch: group_cols {clash} collide with the sketch's "
            "reserved (j, b, set) output / __c temp columns — rename them "
            "first (ADVICE r12: an unguarded build side yields duplicate "
            "column names that only fail far from the cause)"
        )
    return (
        _exploded_cells(
            df.filter(F.col(col).isNotNull()),
            col,
            k_hashes,
            width,
            list(group_cols),
        )
        .groupBy(*group_cols, "j", "b")
        .agg(F.lit(1).cast("int").alias("set"))
        .withMetadata("set", bloom_geometry(m_bits, k_hashes))
    )


def bloom_merge(
    *sketches: DataFrame, group_cols: tuple[str, ...] = ()
) -> DataFrame:
    """Bitwise-OR of any number of shard sketches == distinct union of
    their set-bit rows — the mergeable-summaries combine
    (sketch(A ∪ B) ≡ merge(sketch(A), sketch(B)), property-tested).
    ALL inputs must come from bloom_sketch with the SAME (m_bits,
    k_hashes) AND the SAME ``group_cols`` — same-geometry is a caller
    contract (the cms_merge_groups lesson: bounds checks are
    best-effort at most, so this merge validates SHAPE exactly and
    leaves geometry to the caller). The column check is
    order-insensitive and multiplicity-sensitive (sorted, not set —
    the hll_merge ADVICE r11 lesson)."""
    if not sketches:
        raise ValueError("bloom_merge: need at least one sketch")
    want = [*group_cols, "j", "b", "set"]
    for i, s in enumerate(sketches):
        if sorted(s.columns) != sorted(want):
            raise ValueError(
                f"bloom_merge: sketch #{i} has columns {list(s.columns)}, "
                f"expected {want} — group_cols must match the sketches' own"
            )
    # the combine itself is the re-bucketing combine with nothing
    # dropped — ONE definition (review-caught: a duplicated body here
    # is the cms/hll drift class sketch_checks.py exists to prevent)
    return bloom_merge_groups(*sketches, group_cols=group_cols)


def bloom_merge_groups(
    *sketches: DataFrame, group_cols: tuple[str, ...] = ()
) -> DataFrame:
    """OR set bits across sketches AND across any group dimensions not
    in ``group_cols`` — the re-bucketing combine completing the family
    symmetry (`cms_merge_groups` sums cells, `hll_merge_groups` maxes
    registers, this unions bits): day-filters → trailing-window
    membership ("seen this key in the last N days?") at ≤ m rows per
    surviving group, no rescan. Same-geometry is the caller contract
    (the bloom_merge rule); shape is checked via the shared
    `check_merge_columns` (subset semantics — extra columns are the
    dims being dropped; duplicated needed columns rejected loudly)."""
    if not sketches:
        raise ValueError("bloom_merge_groups: need at least one sketch")
    check_merge_columns(
        "bloom_merge_groups", {*group_cols, "j", "b", "set"}, sketches
    )
    geo = check_uniform_geometry(
        "bloom_merge_groups",
        BLOOM_GEO_KEYS,
        [(f"sketch #{i}", s, "set") for i, s in enumerate(sketches)],
        "bits from different (m_bits, k_hashes) cell spaces would OR "
        "into garbage",
    )
    parts = [s.select(*group_cols, "j", "b", "set") for s in sketches]
    out = parts[0]
    for s in parts[1:]:
        out = out.unionByName(s)
    merged = out.groupBy(*group_cols, "j", "b").agg(
        F.max("set").alias("set")
    )
    if geo is not None:
        merged = merged.withMetadata("set", geo)
    return merged


def bloom_probe(
    sketch: DataFrame,
    probes: DataFrame,
    col: str,
    m_bits: int = 4096,
    k_hashes: int = 4,
) -> DataFrame:
    """(*probes.columns, maybe_present int) — 1 iff every one of the
    key's k cells is set; ONE row per DISTINCT probe row (the groupBy
    collapses duplicates, and the verdict is a pure function of the
    key). Present keys ALWAYS return 1 (no false negatives — the
    one-sided contract); absent keys return 1 with probability ≈
    (1 − e^(−kn/m))^k. (m_bits, k_hashes) MUST match the build (same
    caller contract as the merge); the sketch SHAPE is validated here
    too — a grouped sketch joined flat would multi-match cells and
    silently produce false negatives (review-caught), the exact
    silent-corruption class the merge check exists for. The verdict
    counts DISTINCT hit hash rows, not matched sketch rows, so it is
    also immune to duplicate probe rows (sum-of-matches was not:
    2k hits ≠ k read as absent — review-caught). The probe is one
    broadcast-sized join on (j, b) + one per-key agg — never a shuffle
    of the sketch."""
    width = _validate(m_bits, k_hashes)
    check_probe_geometry(
        "bloom_probe",
        bloom_geometry(m_bits, k_hashes),
        state_geometry(sketch, "set", BLOOM_GEO_KEYS),
        "probe cells would be read from a different bit space — "
        "absent keys could read present and, with a mismatched "
        "k_hashes, present keys could read absent (rebuild the sketch "
        "or match m_bits/k_hashes)",
    )
    if sorted(sketch.columns) != ["b", "j", "set"]:
        raise ValueError(
            f"bloom_probe: sketch has columns {list(sketch.columns)}, "
            "expected [j, b, set] — to probe a grouped sketch, filter "
            "to ONE group and select('j', 'b', 'set') (a single group's "
            "rows ARE a flat sketch) rather than probing flat"
        )
    clash = sorted({"j", "b", "set", "__c"} & set(probes.columns))
    if clash:
        raise ValueError(
            f"bloom_probe: probe columns {clash} collide with the "
            "sketch's reserved (j, b, set) / __c temp — rename them first"
        )
    exploded = _exploded_cells(probes, col, k_hashes, width, probes.columns)
    hits = exploded.join(F.broadcast(sketch), ["j", "b"], "left")
    return (
        hits.groupBy(*probes.columns)
        .agg(
            (
                F.count_distinct(
                    F.when(F.col("set").isNotNull(), F.col("j"))
                )
                == k_hashes
            )
            .cast("int")
            .alias("maybe_present")
        )
    )


def bloom_prefilter(
    sketch: DataFrame,
    df: DataFrame,
    col: str,
    m_bits: int = 4096,
    k_hashes: int = 4,
    out_col: str = "maybe_present",
) -> DataFrame:
    """``df`` + an ``out_col`` int verdict — the FACT-SCALE probe: use
    this to pre-filter the BIG side of a join before its shuffle (the
    100 TB job the module docstring promises). :func:`bloom_probe`
    aggregates per probe key, which is right for a verdict TABLE but
    costs a groupBy — a shuffle of the probe frame. Here each hash
    row's set-bit positions become one BROADCAST hash relation and the
    fact side takes k_hashes stacked BroadcastHashJoin LEFT probes on
    its k cell expressions — zero fact shuffles, zero fact
    aggregations (plan-gated, exchange count PINNED), and each probe
    is an O(1) hash-table lookup. (The pre-r20 form folded the sketch
    into ONE broadcast map row and read it with try_element_at — but
    Spark map values are unsorted arrays, so every lookup LINEARLY
    SCANNED the ≤ m-entry map: at the derived decontamination geometry
    (~10⁵ set bits x 4 lookups per fact row) the "map-only" projection
    measured ~48 executor-seconds at sf0.1, two orders above the hash
    joins. Verdicts are bit-identical — same affine cells, same
    one-sided contract.) Each per-hash build side is the DISTINCT b
    set of that j row (≤ width rows, so at most one match per probe —
    no fact-row duplication even for naively-unioned shard sketches
    with duplicate (j, b) rows; `bloom_merge` remains the documented
    combine). Present keys ALWAYS get 1; NULL keys get 0 (a NULL cell
    expression never equi-matches — the same reason the join this
    guards would drop the row). The k build sides read one
    ``localCheckpoint`` of the sketch's distinct (j, b) cells, so
    calling this runs the sketch's shuffle stage once, right away."""
    width = _validate(m_bits, k_hashes)
    check_probe_geometry(
        "bloom_prefilter",
        bloom_geometry(m_bits, k_hashes),
        state_geometry(sketch, "set", BLOOM_GEO_KEYS),
        "fact rows would be screened against a different bit space "
        "(rebuild the sketch or match m_bits/k_hashes)",
    )
    if sorted(sketch.columns) != ["b", "j", "set"]:
        raise ValueError(
            f"bloom_prefilter: sketch has columns {list(sketch.columns)},"
            " expected [j, b, set] — to use a grouped sketch, filter to "
            "ONE group and select('j', 'b', 'set') first"
        )
    clash = [c for c in df.columns if c.startswith("__bloom")] + (
        [out_col] if out_col in df.columns else []
    )
    if clash:
        raise ValueError(
            f"bloom_prefilter: df already has {sorted(set(clash))!r} — "
            "__bloom*-prefixed names are the operator's probe columns "
            "and out_col must be fresh; rename or pass a different "
            "out_col"
        )
    if out_col.startswith("__"):
        raise ValueError(
            f"bloom_prefilter: out_col {out_col!r} uses the operator's "
            "reserved __-prefix — a '__bloom*' out_col would silently "
            "collide with the probe columns and then be dropped (ADVICE "
            "r12); pick an unprefixed name"
        )
    k = F.col(col)
    # ONE materialization of the distinct (j, b) cells feeds all k
    # broadcast builds: the sketch lineage runs once, not k times, and a
    # nondeterministic lineage cannot hand the builds divergent bit sets
    # (which would break "present keys ALWAYS get 1")
    cells = sketch.select("j", "b").distinct().localCheckpoint(eager=False)
    out = df
    hit_all = None
    for j in range(k_hashes):
        # ≤ width distinct positions per hash row: at most ONE match
        # per probe, so the left join can never duplicate fact rows
        row_j = cells.filter(F.col("j") == j).select(
            F.col("b").alias(f"__bloom{j}")
        )
        out = out.join(
            F.broadcast(row_j),
            _cell(k, j, width) == F.col(f"__bloom{j}"),
            "left",
        )
        hit = F.col(f"__bloom{j}").isNotNull()
        hit_all = hit if hit_all is None else (hit_all & hit)
    return (
        out.withColumn(
            out_col,
            F.when(k.isNotNull() & hit_all, F.lit(1))
            .otherwise(F.lit(0))
            .cast("int"),
        )
        .drop(*[f"__bloom{j}" for j in range(k_hashes)])
    )


def _validate(m_bits: int, k_hashes: int) -> int:
    """Shared geometry validation → per-row width (m_bits / k_hashes)."""
    if not 1 <= k_hashes <= len(_MULTS):
        raise ValueError(
            f"bloom: k_hashes must be in [1, {len(_MULTS)}], got {k_hashes}"
        )
    if m_bits < k_hashes or m_bits % k_hashes != 0:
        raise ValueError(
            f"bloom: m_bits ({m_bits}) must be a positive multiple of "
            f"k_hashes ({k_hashes}) — each hash row owns m/k bits"
        )
    width = m_bits // k_hashes
    if width > _P:
        raise ValueError(
            f"bloom: m_bits/k_hashes = {width} exceeds the hash grid "
            f"P = {_P} — effective bits would silently cap at P per row"
        )
    return width


def oracle_bloom_dm_sql(k_hashes: int) -> str:
    """The DuckDB replay of the hash rows — the SAME affine (j, A_j,
    B_j) rows interpolated from the operator's constants (one builder
    per side, the cms _DM_VALUES convention). Returns a VALUES-table
    SQL fragment callers CROSS JOIN and compute
    ``(((key % P) + P) % P * a + c) % P % width`` with — the +P
    re-reduction matters: the engine's `_cell` uses pmod (non-negative
    residues) while DuckDB's % truncates, so the raw ``key % P`` form
    diverges on NEGATIVE keys (review-caught). A fragment, so build
    and probe replays share one definition — since r13 a thin alias of
    the family-wide `cms.oracle_dm_sql` builder (review r13: four
    hand-joined copies of the fragment had accumulated)."""
    return oracle_dm_sql(k_hashes, dim="j")
