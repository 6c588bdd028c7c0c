"""The load_table schema cache must not serve a stale StructType after
the file at the same path is rewritten with a different schema (ADVICE
r19 item 3: the stale read yields silent NULLs for renamed columns)."""

from __future__ import annotations

import os
import shutil

from food_panda_etl_spark import tables
from food_panda_etl_spark.tables import load_table


def test_rewritten_table_reinfers_schema(spark, tmp_path):
    sf_dir = str(tmp_path)
    # v1: documents with (doc_id, text)
    spark.createDataFrame(
        [(1, "hello")], "doc_id bigint, text string"
    ).write.mode("overwrite").parquet(f"{sf_dir}/documents.parquet")
    v1 = load_table(spark, sf_dir, "documents")
    assert set(v1.columns) == {"doc_id", "text"}
    assert v1.count() == 1
    # rewrite the SAME path with a renamed column; bump mtime explicitly
    # (same-second rewrites are real on fast filesystems — st_mtime_ns
    # usually differs anyway, this makes the test deterministic)
    spark.createDataFrame(
        [(2, "bye")], "doc_id bigint, body string"
    ).write.mode("overwrite").parquet(f"{sf_dir}/documents.parquet.tmp")
    shutil.rmtree(f"{sf_dir}/documents.parquet")
    os.rename(f"{sf_dir}/documents.parquet.tmp", f"{sf_dir}/documents.parquet")
    v2 = load_table(spark, sf_dir, "documents")
    assert set(v2.columns) == {"doc_id", "body"}
    rows = v2.collect()
    assert rows[0]["body"] == "bye"  # NOT a silent NULL through a stale schema


def test_rewrites_replace_the_cache_entry(spark, tmp_path):
    """Each rewrite of a path replaces that path's cache entry instead
    of adding one keyed by the new mtime (ADVICE r20: the cache grew by
    one schema per rewrite)."""
    sf_dir = str(tmp_path)
    path = f"{sf_dir}/documents.parquet"
    key = (spark.sparkContext.applicationId, path)
    before = len(tables._SCHEMA_CACHE)
    for i in range(3):
        spark.createDataFrame([(i, "x")], f"doc_id bigint, c{i} string").write.mode(
            "overwrite"
        ).parquet(path)
        os.utime(path, ns=(i + 1, i + 1))  # distinct mtimes on any filesystem
        df = load_table(spark, sf_dir, "documents")
        assert set(df.columns) == {"doc_id", f"c{i}"}
        assert tables._SCHEMA_CACHE[key][0] == i + 1
    assert len(tables._SCHEMA_CACHE) == before + 1
