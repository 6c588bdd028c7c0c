"""Paginated REST listing scan as a Spark Python DataSource, plus the
per-key enrichment lookups as an Arrow-batched ``mapInPandas`` stage.

Scale design vs the reference (its ``src/main.rs:107-176``):
the reference walks cities serially, pages serially (jittered sleeps), and
enriches vendors one at a time. Here the *driver* does only the cheap
probe (page 0 per city → ``available_count`` → page count, mirroring
``src/main.rs:120-123``); every city becomes one ``InputPartition`` that
walks its own pages in order, so the listing parallelizes across cities.
A Python data-source task pays a fixed worker hand-off cost that dwarfs
one page fetch, so a task per page bought no speed; walking a city's
pages serially is also the reference's order and the polite pattern
against a rate-limited listing API. Enrichment lookups run inside
``mapInPandas`` over whatever partitioning the code universe already has
and are materialized once per run, so every vendor is looked up exactly
once however many relations consume the result. Politeness knobs
(per-partition rate limits) belong in the backend; correctness never
depends on them.
"""

from __future__ import annotations

import importlib
import math
from collections.abc import Iterator
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition
from pyspark.sql.types import StructType

from food_panda_etl_spark.sources.retry import retry_with_backoff

DEFAULT_BACKEND = "food_panda_etl_spark.sources.fake_backend:FakeVendorBackend"
DEFAULT_PAGE_SIZE = 48  # src/main.rs:120


def _resolve_backend(spec: str):
    """Instantiate ``module.path:ClassName[?key=val&key=val]`` — options
    travel to executors as strings, so the backend is addressed, not
    pickled. Query-string kwargs parameterize real backends (e.g.
    ``...http_backend:HttpVendorBackend?base_url=http://host:8080``)."""
    from urllib.parse import parse_qsl

    target, _, qs = spec.partition("?")
    mod, _, cls = target.partition(":")
    kwargs = dict(parse_qsl(qs)) if qs else {}
    return getattr(importlib.import_module(mod), cls)(**kwargs)


@dataclass
class _CityPartition(InputPartition):
    city_id: str
    pages: int
    page_size: int


class _VendorListReader(DataSourceReader):
    def __init__(self, options: dict):
        self.backend_spec = options.get("backend", DEFAULT_BACKEND)
        self.cities = [c for c in options.get("cities", "").split(",") if c]
        if not self.cities:
            raise ValueError("vendor_list source requires option 'cities' (csv)")
        self.page_size = int(options.get("page_size", str(DEFAULT_PAGE_SIZE)))
        self.retries = int(options.get("retries", "3"))

    def partitions(self) -> list[InputPartition]:
        """Driver-side probe per city: page 0 → available_count →
        ``total_pages = ceil(available/returned)`` (``src/main.rs:120-123``),
        then one InputPartition per city carrying its page count — the
        unit of executor fan-out."""
        backend = _resolve_backend(self.backend_spec)
        parts: list[InputPartition] = []
        for city in self.cities:
            # Same retry policy as the executor-side read(): a transient
            # failure during planning must not fail the whole job.
            probe = retry_with_backoff(
                lambda _a, c=city: backend.list_page(c, 0, self.page_size),
                retries=self.retries,
            )
            avail = probe["data"]["available_count"]
            pages = max(1, math.ceil(avail / self.page_size))
            parts.append(_CityPartition(city, pages, self.page_size))
        return parts

    def read(self, partition: _CityPartition) -> Iterator[tuple]:
        backend = _resolve_backend(self.backend_spec)
        city, size = partition.city_id, partition.page_size
        for page in range(partition.pages):
            resp = retry_with_backoff(
                lambda _attempt, p=page: backend.list_page(city, p * size, size),
                retries=self.retries,
            )
            for item in resp["data"]["items"]:
                # batch_number is the 1-based page — src/services/vendor.rs:66
                yield (city, item["code"], page + 1)


class VendorListDataSource(DataSource):
    """``spark.read.format("vendor_list").option("cities", "11,22").load()``"""

    @classmethod
    def name(cls) -> str:
        return "vendor_list"

    def schema(self) -> str:
        return "city_id string, code string, batch_number int"

    def reader(self, schema: StructType) -> DataSourceReader:
        return _VendorListReader(self.options)


def register_vendor_list_source(spark: SparkSession) -> None:
    spark.dataSource.register(VendorListDataSource)


#: Output schema of :func:`lookup_vendor_payloads`.
LOOKUP_SCHEMA = (
    "code string, details string, ratings string, "
    "reviews array<struct<review: string, created_at: bigint>>"
)


def lookup_vendor_payloads(
    codes: DataFrame,
    *,
    backend_spec: str = DEFAULT_BACKEND,
    retries: int = 3,
) -> DataFrame:
    """The three per-code enrichment lookups (details / reviews / ratings,
    ``src/services/vendor.rs:47-55``) as one Arrow-batched stage.

    One ``mapInPandas`` pass per partition replaces the reference's
    row-at-a-time RPC loop; failed lookups yield nulls (the left-outer
    degradation of ``src/services/vendor.rs:96-105``). Returns
    ``(code, details, ratings, reviews[])`` — feed :func:`split_payloads`
    to get the three relations ``enrich_vendors`` expects.

    The result is materialized once (``localCheckpoint``), so each code
    is looked up exactly once per run however many relations consume
    it, and every consumer sees the same answer for a code (a details
    400 nulls that code's ratings and reviews everywhere, as
    ``src/services/vendor.rs:82-95`` requires). Calling this fires one
    Spark job: adaptive execution runs the ``distinct`` shuffle stage,
    with the listing scan, when the checkpoint is planned; the lookups
    themselves run in the first action that reads the result. A lost
    executor then fails that action instead of silently re-calling the
    API; the dynamic-overwrite sink keeps a re-run idempotent.
    """
    import pandas as pd  # executor-side import

    def fetch(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        backend = _resolve_backend(backend_spec)
        for pdf in batches:
            out = {"code": [], "details": [], "ratings": [], "reviews": []}
            for code in pdf["code"]:
                details = retry_with_backoff(
                    lambda _a, c=code: backend.details(c), retries=retries
                )
                out["code"].append(code)
                out["details"].append(details)
                if details is None:
                    # HTTP-400 path: skip dependent lookups entirely
                    # (src/services/vendor.rs:82-95)
                    out["ratings"].append(None)
                    out["reviews"].append(None)
                    continue
                out["ratings"].append(
                    retry_with_backoff(lambda _a, c=code: backend.ratings(c), retries=retries)
                )
                revs = retry_with_backoff(
                    lambda _a, c=code: backend.reviews(c), retries=retries
                )
                out["reviews"].append(
                    [{"review": r, "created_at": ts} for r, ts in revs] or None
                )
            yield pd.DataFrame(out)

    return (
        codes.select("code")
        .distinct()
        .mapInPandas(fetch, LOOKUP_SCHEMA)
        .localCheckpoint(eager=False)
    )


def split_payloads(looked_up: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Fan the wide lookup result into the (details, reviews, ratings)
    relations of ``vendor.enrich_vendors`` — pure column ops over the
    materialized lookup result, so the three relations make no backend
    calls of their own."""
    details = looked_up.select("code", "details")
    ratings = looked_up.select("code", "ratings")
    reviews = looked_up.select(
        "code", F.explode("reviews").alias("r")
    ).select("code", F.col("r.review").alias("review"), F.col("r.created_at").alias("created_at"))
    return details, reviews, ratings
