"""Ingestion connector tests: paginated Python DataSource, retry policy,
mapInPandas enrichment lookups, and the full rebuilt ETL end-to-end."""

from __future__ import annotations

import json
import math
import os
from collections import Counter

import pytest
from pyspark.sql import functions as F

from food_panda_etl_spark.plans import plan_summary
from food_panda_etl_spark.sinks import write_partitioned_vendors
from food_panda_etl_spark.sources import (
    FakeVendorBackend,
    lookup_vendor_payloads,
    register_vendor_list_source,
    retry_with_backoff,
    split_payloads,
)
from food_panda_etl_spark.sources.rest import DEFAULT_BACKEND
from food_panda_etl_spark.vendor import PAGE_SIZE, enrich_vendors

BACKEND = FakeVendorBackend()


class CountingBackend(FakeVendorBackend):
    """The fake backend, recording its listing and details calls. The
    scan and the lookups resolve it from a ``backend_spec`` inside Python
    workers, so every call appends one ``kind<TAB>key<TAB>in_task`` line
    to ``<log>/calls.tsv`` (one O_APPEND write, never interleaved).
    ``in_task`` tells executor-side page reads from the planning probes,
    which run outside any task. With ``flaky=1`` the details endpoint
    400s on every other call for a code (calls counted per code on
    disk): repeated lookups of one vendor disagree, as a live API's can.
    """

    def __init__(self, log: str, flaky: str = "0"):
        self.log = log
        self.flaky = flaky == "1"

    def _append(self, name: str, line: str) -> int:
        """Append ``line`` to ``<log>/<name>``; returns the file's length
        just after this write (atomic under O_APPEND)."""
        fd = os.open(
            os.path.join(self.log, name), os.O_WRONLY | os.O_CREAT | os.O_APPEND, 0o644
        )
        try:
            os.write(fd, line.encode())
            return os.lseek(fd, 0, os.SEEK_CUR)
        finally:
            os.close(fd)

    def _record(self, kind: str, key: str) -> None:
        from pyspark import TaskContext

        in_task = int(TaskContext.get() is not None)
        self._append("calls.tsv", f"{kind}\t{key}\t{in_task}\n")

    def list_page(self, city_id: str, offset: int, limit: int) -> dict:
        self._record("list", f"{city_id}:{offset}")
        return super().list_page(city_id, offset, limit)

    def details(self, code: str) -> str | None:
        self._record("details", code)
        if self.flaky and self._append(f"details-{code}", ".") % 2 == 0:
            return None
        return super().details(code)


def _calls(log: str) -> Counter:
    """``(kind, key, in_task)`` → number of calls."""
    with open(os.path.join(log, "calls.tsv")) as fh:
        return Counter(tuple(line.rstrip("\n").split("\t")) for line in fh)


def _land_chain(spark, cities: str, backend: str):
    """The ingest chain up to the sink: listing scan → lookups → split →
    enrichment (the reference's ``src/main.rs:107-273``)."""
    register_vendor_list_source(spark)
    codes = (
        spark.read.format("vendor_list")
        .option("cities", cities)
        .option("backend", backend)
        .load()
    )
    looked = lookup_vendor_payloads(codes, backend_spec=backend)
    details, reviews, ratings = split_payloads(looked)
    return enrich_vendors(
        codes.select("city_id", "code"), details, reviews, ratings,
        started_at=1_741_300_000, completed_at=1_741_300_500,
    )


@pytest.fixture()
def vendor_source(spark):
    register_vendor_list_source(spark)
    return spark.read.format("vendor_list").option("cities", "11,22")


def test_listing_scan_counts_and_pages(vendor_source):
    df = vendor_source.load()
    got = {r["city_id"]: r["n"] for r in df.groupBy("city_id").count().withColumnRenamed("count", "n").collect()}
    assert got == {c: BACKEND.n_vendors(c) for c in ("11", "22")}
    # one task per city — the executor fan-out unit; it walks its pages
    assert df.rdd.getNumPartitions() == 2
    # batch_number is the 1-based page index: page p holds codes
    # [p*48, (p+1)*48) in code order
    rows = df.filter("city_id = '11'").orderBy("code").collect()
    assert [r["batch_number"] for r in rows] == [
        i // PAGE_SIZE + 1 for i in range(len(rows))
    ]


def test_listing_scan_custom_page_size(vendor_source):
    df = vendor_source.option("page_size", "10").load()
    assert df.filter("city_id = '11'").count() == BACKEND.n_vendors("11")
    assert df.rdd.getNumPartitions() == 2
    last_page = {
        r["city_id"]: r["p"]
        for r in df.groupBy("city_id").agg(F.max("batch_number").alias("p")).collect()
    }
    assert last_page == {
        c: math.ceil(BACKEND.n_vendors(c) / 10) for c in ("11", "22")
    }


def test_retry_with_backoff_attempts_and_sleeps():
    calls, sleeps = [], []

    def flaky(attempt):
        calls.append(attempt)
        if len(calls) < 3:
            raise RuntimeError("transient")
        return "ok"

    out = retry_with_backoff(
        flaky, retries=3, base_delay_s=1.0, max_jitter_s=0.0, sleeper=sleeps.append
    )
    assert out == "ok"
    assert calls == [0, 1, 2]  # attempt index exposed → client rotation hook
    assert sleeps == [1.0, 2.0]  # doubling backoff, no real sleep


def test_retry_with_backoff_exhaustion():
    with pytest.raises(RuntimeError, match="always"):
        retry_with_backoff(
            lambda a: (_ for _ in ()).throw(RuntimeError("always")),
            retries=2,
            sleeper=lambda _s: None,
        )


def test_lookup_payloads_shapes(spark):
    codes = spark.createDataFrame(
        [("c9-v00011",), ("c9-v00003",), ("c9-v00004",)], "code string"
    )
    rows = {r["code"]: r for r in lookup_vendor_payloads(codes).collect()}
    # v00011: 11 % 23 == 11 → 400 path: everything null
    assert rows["c9-v00011"]["details"] is None
    assert rows["c9-v00011"]["ratings"] is None and rows["c9-v00011"]["reviews"] is None
    # v00003: details present but no name key; 3 reviews
    assert "name" not in json.loads(rows["c9-v00003"]["details"])
    assert len(rows["c9-v00003"]["reviews"]) == 3
    # v00004: fully populated
    assert json.loads(rows["c9-v00004"]["details"])["name"] == "Vendor c9-v00004"
    assert rows["c9-v00004"]["ratings"] is not None


def test_full_etl_end_to_end(spark, out_dir):
    """The whole reference pipeline rebuilt: paginated listing scan →
    batched enrichment lookups → left-outer enrichment lineage →
    hive-partitioned parquet (``/root/reference/src/main.rs:107-273`` as
    one declarative flow)."""
    vendors = _land_chain(spark, "7", DEFAULT_BACKEND)
    base = os.path.join(out_dir, "lake")
    write_partitioned_vendors(vendors, base)

    back = spark.read.parquet(base)
    n = BACKEND.n_vendors("7")
    assert back.count() == n
    # partition layout carries the derived date keys
    assert set(os.listdir(base)) >= {"city_id=7"}
    got = {r["code"]: r for r in back.collect()}
    # 400-path rows survive with null payloads and Unknown name
    v11 = got["c7-v00011"]
    assert v11["details"] is None and v11["name"] == "Unknown"
    # missing-name details degrade to Unknown but keep the payload
    v3 = got["c7-v00003"]
    assert v3["details"] is not None and v3["name"] == "Unknown"
    # reviews pack into a JSON array, newest first
    v4 = got["c7-v00004"]
    revs = json.loads(v4["reviews"])
    assert [r["k"] for r in revs] == [3, 2, 1, 0]
    assert got["c7-v00042"]["name"] == "Vendor c7-v00042"


def test_land_fetches_each_page_and_vendor_once(spark, out_dir):
    """A full land run looks every vendor up exactly once and reads
    every listing page once per scan instance: the lookup result is
    materialized once for its three consumers, and the listing is read
    by the lookup stage and by the enrichment's key universe."""
    log = os.path.join(out_dir, "calls")
    os.makedirs(log)
    vendors = _land_chain(spark, "11,22", f"tests.test_sources:CountingBackend?log={log}")
    write_partitioned_vendors(vendors, os.path.join(out_dir, "lake"))
    calls = _calls(log)
    n = {c: BACKEND.n_vendors(c) for c in ("11", "22")}
    details = {key: k for (kind, key, _t), k in calls.items() if kind == "details"}
    # Σ n_vendors calls, one per distinct code
    assert sum(details.values()) == len(details) == sum(n.values())
    pages = {
        f"{c}:{p * PAGE_SIZE}" for c in n for p in range(math.ceil(n[c] / PAGE_SIZE))
    }
    probes = {key: k for (kind, key, t), k in calls.items() if kind == "list" and t == "0"}
    reads = {key: k for (kind, key, t), k in calls.items() if kind == "list" and t == "1"}
    # one planning probe (page 0) per city for the shared scan relation,
    # then each of the two scan instances reads every page once
    assert probes == {f"{c}:0": 1 for c in n}
    assert reads == {page: 2 for page in pages}


def test_land_consistent_under_changing_backend(spark, out_dir):
    """Every consumer of the lookups sees one answer per vendor: even
    when the details endpoint flips between 200 and 400 on successive
    calls, a landed row is either the 400 form — null details, so null
    ratings and reviews (``src/services/vendor.rs:82-95``) — or the
    backend's full answer, never a mix of two calls."""
    log = os.path.join(out_dir, "calls")
    os.makedirs(log)
    vendors = _land_chain(spark, "11,22", f"tests.test_sources:CountingBackend?log={log}&flaky=1")
    base = os.path.join(out_dir, "lake")
    write_partitioned_vendors(vendors, base)
    rows = spark.read.parquet(base).collect()
    assert len(rows) == BACKEND.n_vendors("11") + BACKEND.n_vendors("22")
    mixed = []
    for r in rows:
        code = r["code"]
        if r["details"] is None:
            ok = r["ratings"] is None and r["reviews"] is None
        else:
            ok = r["ratings"] == BACKEND.ratings(code) and (
                (r["reviews"] is None) == (not BACKEND.reviews(code))
            )
        if not ok:
            mixed.append((code, r["details"] is None, r["ratings"] is None, r["reviews"] is None))
    assert mixed == []


def test_land_chain_plan_has_one_python_node(spark):
    """The land chain's plan holds one Python node: the key-universe
    listing scan. The lookup stage, with its own listing scan, sits
    behind the checkpoint; its three consumers read the materialized
    rows instead of re-running the scan and the pandas stage."""
    s = plan_summary(_land_chain(spark, "11,22", DEFAULT_BACKEND))
    assert s.python_scans == 1
    assert s.python_evals == 0
