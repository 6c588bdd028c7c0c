"""Table catalog over the driver-generated parquet test tables.

Reads are plain ``spark.read.parquet`` — schemas come from parquet footers
(already explicit/typed; see FIXTURES.md §A). Keeping the scan declarative
is what lets Catalyst push filters and prune columns into the scan.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

# Tables small enough (at any SF — nation/region are fixed-size; part/
# supplier/customer grow slowly) that broadcast-joining them is the right
# physical plan at 100 TB. lineitem/orders/events/documents are fact-sized.
DIMENSION_TABLES = {"region", "nation", "supplier", "part"}


# Per-(session, path) parquet SCHEMA cache (r19 optimization): a bare
# spark.read.parquet() runs a footer/schema-inference job on EVERY
# call (~95 ms at local[32]), and a 133-key bench issues ~400
# load_table calls per pass. Caching the inferred StructType and
# passing it back via reader.schema() skips the job; this is METADATA
# caching (what a metastore does), not result caching — every action
# still computes from the parquet bytes, and the cache dies with the
# process. Keyed by (applicationId, path) so a new session (or a test's
# fresh local session) re-infers; each entry holds the file's mtime with
# its schema and is replaced when the file is rewritten, so a path keeps
# one entry however often it changes.
_SCHEMA_CACHE: dict[tuple[str, str], tuple[int, StructType]] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    # The engine's determinism contract (SURVEY.md §7) is UTC sessions:
    # every declared query's timestamp math must hash-match a naive-UTC
    # DuckDB oracle. Pin it here so sessions we did not build (the
    # correctness driver's, a notebook's) behave identically on a
    # non-UTC host. Runtime-settable, idempotent.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        # events.parquet carries INT64 TIMESTAMP(NANOS), which Spark
        # rejects outright unless nanos are surfaced as epoch-nanos longs.
        # The conf is runtime-settable, and setting it here (not only in
        # session.py's builder) means sessions we did NOT build — the
        # correctness driver's, a notebook's — can read the table too.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = f"{sf_dir}/{name}.parquet"
    # mtime checked on every hit (ADVICE r19 item 3): a same-path rewrite
    # with a different schema within one session would otherwise read
    # through the stale StructType and yield silent NULLs for renamed
    # columns. os.stat of a local path is ~microseconds — still no Spark
    # job. (Non-local/unstat-able paths fall back to mtime=0: same-session
    # immutability is then the caller's contract, as documented above.)
    try:
        mtime = os.stat(path).st_mtime_ns
    except OSError:
        mtime = 0
    key = (spark.sparkContext.applicationId, path)
    hit = _SCHEMA_CACHE.get(key)
    if hit is None or hit[0] != mtime:
        df = spark.read.parquet(path)
        _SCHEMA_CACHE[key] = (mtime, df.schema)
    else:
        df = spark.read.schema(hit[1]).parquet(path)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # TIMESTAMP(NANOS) read as epoch-nanos long (see session.py);
        # truncate to micros exactly like DuckDB does (floor division —
        # values are post-1970, so `div` == floor).
        from pyspark.sql import functions as F

        df = df.withColumn(
            "ts",
            F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz"),
        )
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}
