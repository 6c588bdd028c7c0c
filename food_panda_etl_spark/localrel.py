"""Pure-JVM local literal relations (r19 optimization).

``spark.createDataFrame(list_of_tuples)`` plans a ParallelCollectionRDD
whose every partition round-trips through a pickled Python worker: a
240-row literal table costs ~0.4 s of worker scheduling per action at
local[32], and 4+ s if a later ``coalesce(1)`` forces ONE task to
replay all 32 Python slices sequentially. Small driver-side literal
tables (query terms, quota tables, centroid lists, merge tables) are
hot-path inputs to a dozen declared queries, so they are built here as
SQL ``VALUES`` relations instead — a LocalTableScan, no Python workers.

Value fidelity:
- floats are emitted with ``repr`` (≤17 significant digits): IEEE 754
  round-trip guarantees the parsed double is bit-identical, and Spark's
  decimal→double literal cast is correctly rounded;
- strings are escaped for Spark's default literal parser (backslash and
  quote escapes processed): ``\\`` and ``'`` are doubled/escaped so
  arbitrary corpus-derived text (BPE symbols, stratum keys) survives;
- None maps to a typed NULL via the declared column type.

The result is value- and schema-identical to the createDataFrame form
(property-tested in tests/test_localrel.py).
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession


def _sql_str(s: str) -> str:
    # Spark's default parser (escapedStringLiterals=false) processes
    # backslash escapes inside single-quoted literals: escape the
    # backslash itself, then the quote. Raw control characters ride
    # through the parser as-is.
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _sql_val(v, typ: str) -> str:
    if v is None:
        return f"CAST(NULL AS {typ})"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        # STRING→double cast, not a numeric literal: the numeric path
        # routes through DECIMAL, which has no −0.0 and no NaN/inf;
        # the string parse is correctly rounded and sign-preserving
        return f"CAST('{v!r}' AS DOUBLE)"
    if isinstance(v, int):
        return f"CAST({v} AS {typ})"
    if isinstance(v, str):
        return _sql_str(v)
    if isinstance(v, (list, tuple)):
        inner = typ[typ.index("<") + 1 : typ.rindex(">")] if "<" in typ else "DOUBLE"
        return "array(" + ", ".join(_sql_val(x, inner) for x in v) + ")"
    raise _Unsupported(f"values_df: unsupported literal type {type(v)!r}")


class _Unsupported(TypeError):
    """An input value the VALUES encoder has no literal form for —
    values_df falls back to createDataFrame instead of failing
    (ADVICE r19: date/timestamp/decimal stratum keys worked via
    createDataFrame before r19 and must keep working)."""


def values_df(
    spark: SparkSession,
    rows: Iterable[Sequence],
    schema: str,
) -> DataFrame:
    """A DataFrame of driver-side literals via a VALUES relation.

    ``schema`` is the usual DDL string ("lang string, wgt int"); every
    row is cast column-wise to the declared type, so the result matches
    ``spark.createDataFrame(rows, schema)`` in both values and schema.

    Degenerate/unsupported inputs FALL BACK to ``createDataFrame``
    rather than raising (ADVICE r19 items 1-2): an EMPTY row list is
    legal (e.g. `_bpe_fit` on a whitespace-only corpus produces an
    empty merges table — an empty ParallelCollection is cheap and a
    VALUES relation cannot be empty), and so is any literal type the
    encoder has no SQL form for (date/timestamp/decimal stratum keys
    reach this via pps_stratified quota tables) — those rows take the
    pre-r19 pickled path, only the common None/bool/int/float/str/list
    fast path stays pure-JVM.
    """
    cols = []
    for part in _split_top(schema):
        name, typ = part.strip().split(None, 1)
        cols.append((name, typ.strip()))
    rows = list(rows)
    if not rows:
        return spark.createDataFrame([], schema)
    # _sql_str's escaping assumes the default parser mode (ADVICE r19
    # item 2): under escapedStringLiterals=true backslashes are taken
    # literally and '\\' / \' would corrupt string values — take the
    # pickled path there instead of emitting a wrong relation. Spark
    # parses boolean confs case-insensitively ("True" enables it too).
    if (
        spark.conf.get("spark.sql.parser.escapedStringLiterals", "false").lower()
        == "true"
    ):
        return spark.createDataFrame([tuple(r) for r in rows], schema)
    try:
        vals = ", ".join(
            "(" + ", ".join(_sql_val(v, t) for v, (_, t) in zip(r, cols)) + ")"
            for r in rows
        )
    except _Unsupported:
        return spark.createDataFrame([tuple(r) for r in rows], schema)
    sel = ", ".join(
        f"CAST(col{i + 1} AS {t}) AS {n}" for i, (n, t) in enumerate(cols)
    )
    return spark.sql(f"SELECT {sel} FROM VALUES {vals}")


def _split_top(schema: str) -> list[str]:
    """Split a DDL column list on top-level commas (angle brackets in
    array<...>/map<...>/struct<...> nest)."""
    parts, depth, cur = [], 0, []
    for ch in schema:
        if ch == "<":
            depth += 1
        elif ch == ">":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    if cur:
        parts.append("".join(cur))
    return parts
