"""Bucketed-join tests: the SCALING.md co-location claim, asserted on
the physical plan."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from polars_text_spark.plans import explain_str
from polars_text_spark.sources.bucketing import read_bucketed, write_bucketed


@pytest.fixture()
def no_broadcast(spark):
    """At test-data sizes the planner prefers broadcast and disables
    bucketing outright; turning broadcast off surfaces the bucketed
    sort-merge join a large fact-fact join would use."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    yield
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_bucketed_join_has_no_exchange(spark, sf_dir, no_broadcast):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    meta = docs.select("doc_id", "lang", "source")
    texts = docs.select("doc_id", "text", "n_chars")
    write_bucketed(meta, "b_meta", bucket_by="doc_id", buckets=4, sort_by="doc_id")
    write_bucketed(texts, "b_texts", bucket_by="doc_id", buckets=4, sort_by="doc_id")

    joined = read_bucketed(spark, "b_meta").join(
        read_bucketed(spark, "b_texts"), "doc_id"
    )
    plan = explain_str(joined, "simple")
    # Co-located: the equi-join runs without re-shuffling either side.
    assert "Exchange" not in plan
    assert joined.count() == docs.count()

    # groupBy on the bucket key also skips the shuffle
    agg = read_bucketed(spark, "b_meta").groupBy("doc_id").count()
    assert "Exchange" not in explain_str(agg, "simple")


def test_mismatched_buckets_reshuffle(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    write_bucketed(
        docs.select("doc_id", "lang"), "b_four", bucket_by="doc_id", buckets=4
    )
    write_bucketed(
        docs.select("doc_id", "source"), "b_eight", bucket_by="doc_id", buckets=8
    )
    joined = read_bucketed(spark, "b_four").join(
        read_bucketed(spark, "b_eight"), "doc_id"
    )
    # One side must re-shuffle (or re-bucket); the plan shows it.
    plan = explain_str(joined, "simple")
    assert "Exchange" in plan or "BroadcastHashJoin" in plan


def test_write_bucketed_one_file_per_bucket(spark, sf_dir):
    """Round-16 write defrag: write_bucketed hash-repartitions onto
    the bucket columns, so a many-partition input commits ONE data
    file per non-empty bucket instead of one per (input partition x
    bucket) — 256 files at 32x4 before the change."""
    import glob
    import os

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "lang")
        .repartition(16)
    )
    write_bucketed(docs, "b_defrag", bucket_by="doc_id", buckets=4)
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    files = [
        f
        for f in glob.glob(os.path.join(wh, "b_defrag", "*"))
        if not os.path.basename(f).startswith(("_", "."))
    ]
    assert len(files) <= 4, files
    # contents and co-location intact: the bucketed self-join still
    # resolves every row
    assert spark.table("b_defrag").count() == docs.count()


def test_write_bucketed_append_one_fragment_per_bucket(spark, sf_dir):
    """Appends land as at most one new fragment per bucket, so
    incremental ingest cannot fragment a store into
    per-input-partition shards."""
    import glob
    import os

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang"
    )
    write_bucketed(docs, "b_appfrag", bucket_by="doc_id", buckets=4)
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")

    def nfiles():
        return len(
            [
                f
                for f in glob.glob(os.path.join(wh, "b_appfrag", "*"))
                if not os.path.basename(f).startswith(("_", "."))
            ]
        )

    before = nfiles()
    write_bucketed(
        docs.limit(50).repartition(8),
        "b_appfrag",
        bucket_by="doc_id",
        buckets=4,
        mode="append",
    )
    assert nfiles() - before <= 4
