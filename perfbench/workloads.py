"""The two workloads: their steps, inputs and correctness checks.

A step has a ``build`` (Python plan construction, including any jobs the
package fires eagerly while building) and an ``action`` (the one call a
user makes to get the result). ``check`` runs after the clock stops and
returns a list of problems (empty = correct).
"""

from __future__ import annotations

import glob
import os
import random
import re
import shutil
from dataclasses import dataclass, field

# Relational keys, where Catalyst and codegen execution dominate, then
# the curation keys: the prefix-filter similarity join (one eager job
# while its plan is built) and a pandas-UDF step across the Arrow
# boundary. Every key is oracled.
QUERY_KEYS = [
    "q_tpch_q1",
    "q_tpch_q3",
    "q_range_join",
    "q_topk_per_group",
    "q_jaccard_prefix_join",
    "q_nfc_normalize",
]

# Input scale: the fixture tables' sf0.01 row counts (60k lineitem).
SF = 0.01


@dataclass
class Result:
    columns: list[str]
    rows: list
    extra: dict = field(default_factory=dict)


class QueryStep:
    """One oracled ``QUERIES`` key: collect its rows, hash-match DuckDB."""

    def __init__(self, key: str):
        self.name = key
        self.key = key

    def build(self, ctx):
        from food_panda_etl_spark.queries import QUERIES

        return QUERIES[self.key](ctx.spark, ctx.table_dir)

    def action(self, ctx, df) -> Result:
        return Result(list(df.columns), df.collect())

    def check(self, ctx, res: Result) -> list[str]:
        from oracle import digest

        want = ctx.oracle_digests[self.key]
        got = digest(res.columns, res.rows)
        if got != want:
            return [f"{self.key}: {got[0]} rows hash {got[1][:12]} != oracle {want[0]} rows {want[1][:12]}"]
        return []


class QueryWorkload:
    # Nominal seconds of one measured pass on 4 cores; ``--seconds`` is
    # turned into whole passes with it.
    pass_s = 6.0

    def __init__(self, name: str, keys: list[str]):
        self.name = name
        self.steps = [QueryStep(k) for k in keys]

    def prepare(self, ctx) -> None:
        pass

    def pass_order(self, rng: random.Random) -> list:
        order = list(self.steps)
        rng.shuffle(order)
        return order

    def end_pass(self, ctx, results: dict) -> None:
        pass


# ---------------------------------------------------------------- ingest

BACKEND_SPEC = "perfbench.counting_backend:CountingBackend"
# Extraction stamps: 2024-03-05 00:00:00 UTC and +100 s — single-digit
# month and day, so the sink's zero padding is visible in the layout.
STARTED_AT = 1_709_596_800
COMPLETED_AT = STARTED_AT + 100


class IngestLand:
    """vendor_list scan -> lookups -> split -> enrich -> partitioned sink."""

    name = "land"

    def build(self, ctx):
        from food_panda_etl_spark.sources import lookup_vendor_payloads, split_payloads
        from food_panda_etl_spark.vendor import enrich_vendors

        codes = (
            ctx.spark.read.format("vendor_list")
            .option("cities", ",".join(ctx.cities))
            .option("backend", ctx.backend_spec)
            .load()
        )
        looked = lookup_vendor_payloads(codes, backend_spec=ctx.backend_spec)
        details, reviews, ratings = split_payloads(looked)
        return enrich_vendors(
            codes.select("city_id", "code"),
            details,
            reviews,
            ratings,
            started_at=STARTED_AT,
            completed_at=COMPLETED_AT,
        )

    def action(self, ctx, df) -> Result:
        from food_panda_etl_spark.sinks import write_partitioned_vendors

        write_partitioned_vendors(df, ctx.lake)
        files = glob.glob(os.path.join(ctx.lake, "**", "*.parquet"), recursive=True)
        return Result([], [], {"files": files})

    def check(self, ctx, res: Result) -> list[str]:
        import pyarrow.dataset as ds

        problems = []
        table = ds.dataset(ctx.lake, format="parquet", partitioning="hive").to_table()
        want = sum(ctx.n_vendors.values())
        if table.num_rows != want:
            problems.append(f"land: {table.num_rows} rows != {want} vendors listed")
        cities = sorted(d.split("=", 1)[1] for d in os.listdir(ctx.lake) if d.startswith("city_id="))
        if cities != sorted(ctx.cities):
            problems.append(f"land: city_id dirs {cities} != {sorted(ctx.cities)}")
        layout = re.compile(r"city_id=[^/]+/year=\d{4}/month=\d{2}/day=\d{2}/[^/]+\.parquet$")
        for f in res.extra["files"]:
            if not layout.search(os.path.relpath(f, ctx.lake)):
                problems.append(f"land: bad partition path {os.path.relpath(f, ctx.lake)}")
                break
        rows = table.select(["code", "name", "details"]).to_pylist()
        failed = {f"c{c}-v00011" for c in ctx.cities}
        for r in rows:
            if r["code"] in failed and (r["name"] != "Unknown" or r["details"] is not None):
                problems.append(f"land: {r['code']} should degrade to Unknown/null details")
                break
        if len(failed & {r["code"] for r in rows}) != len(failed):
            problems.append("land: a c<city>-v00011 vendor is missing")
        return problems


class IngestScan:
    """Read the lake back: a full count, or a ``city_id``-pruned count."""

    def __init__(self, pruned: bool):
        self.pruned = pruned
        self.name = "scan_city" if pruned else "scan_full"

    def build(self, ctx):
        from pyspark.sql import functions as F

        df = ctx.spark.read.parquet(ctx.lake)
        if self.pruned:
            df = df.filter(F.col("city_id") == ctx.cities[0])
        return df.groupBy().count()

    def action(self, ctx, df) -> Result:
        return Result(list(df.columns), df.collect())

    def check(self, ctx, res: Result) -> list[str]:
        want = ctx.n_vendors[ctx.cities[0]] if self.pruned else sum(ctx.n_vendors.values())
        got = res.rows[0][0]
        return [] if got == want else [f"{self.name}: count {got} != {want}"]


class IngestWorkload:
    name = "ingest"
    pass_s = 6.5

    def __init__(self, n_cities: int):
        self.n_cities = n_cities
        self.land = IngestLand()
        self.steps = [self.land, IngestScan(False), IngestScan(True)]

    def prepare(self, ctx) -> None:
        from food_panda_etl_spark.sources import FakeVendorBackend, register_vendor_list_source

        register_vendor_list_source(ctx.spark)
        backend = FakeVendorBackend()
        ctx.n_vendors = {c: backend.n_vendors(c) for c in ctx.cities}

    def pass_order(self, rng: random.Random) -> list:
        scans = self.steps[1:]
        rng.shuffle(scans)
        return [self.land, *scans]

    def end_pass(self, ctx, results: dict) -> None:
        """Record the pass's lake, then drop it so each pass lands fresh."""
        files = results[self.land].extra["files"] if self.land in results else []
        leaf_dirs = {os.path.dirname(f) for f in files}
        ctx.lake_stats.append(
            {
                "rows": sum(ctx.n_vendors.values()),
                "files": len(files),
                "bytes": sum(os.path.getsize(f) for f in files),
                "partitions": len(leaf_dirs),
            }
        )
        shutil.rmtree(ctx.lake, ignore_errors=True)


def pick_cities(rng: random.Random, n: int) -> list[str]:
    """``n`` city ids, each listing 158-162 vendors (four pages), so the
    seed changes which keys flow through the chain but not how many."""
    from food_panda_etl_spark.sources import FakeVendorBackend

    backend = FakeVendorBackend()
    pool = [str(c) for c in range(100, 10_000) if 158 <= backend.n_vendors(str(c)) <= 162]
    return rng.sample(pool, n)


def make(name: str):
    if name == "queries":
        return QueryWorkload(name, QUERY_KEYS)
    if name == "ingest":
        return IngestWorkload(n_cities=2)
    raise SystemExit(f"unknown workload {name!r}; expected queries or ingest")
