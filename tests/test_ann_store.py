"""Bucketed ANN store: repeated similarity queries skip the
corpus-side shuffle, asserted on the physical plan and on output
parity with the direct sha-LSH operator."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from polars_text_spark.operators.ann_store import (
    append_ann_shard,
    topk_against_shard,
    topk_from_store,
    write_ann_store,
)
from polars_text_spark.operators.similarity import cosine_topk_lsh_sha
from polars_text_spark.plans import explain_str
from polars_text_spark.sources.bucketing import read_bucketed


@pytest.fixture()
def no_broadcast(spark):
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    yield
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


@pytest.fixture(scope="module")
def vectors(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").filter(
        F.col("embedding").isNotNull()
    )


def test_store_topk_matches_direct_operator(spark, vectors):
    write_ann_store(vectors, "ann_store_p", dim=64, buckets=4)
    qs = vectors.filter(F.col("vec_id") < 5)
    direct = {
        (r.query_id, r.neighbor_id, r.rank, round(r.cosine, 9))
        for r in cosine_topk_lsh_sha(vectors, qs, k=10, dim=64).collect()
    }
    stored = {
        (r.query_id, r.neighbor_id, r.rank, round(r.cosine, 9))
        for r in topk_from_store(spark, "ann_store_p", qs, k=10, dim=64).collect()
    }
    assert direct and stored == direct


def test_store_side_joins_are_shuffle_free(spark, vectors, no_broadcast):
    """Both store tables must reach their joins without an Exchange:
    the band join shuffles only the QUERY side, the unit-vector join
    only the candidate side. Asserted on hard counts so a bucketing
    regression (an extra Exchange re-partitioning a store scan) FAILS
    the test rather than sliding past a substring pattern."""
    write_ann_store(vectors, "ann_store_x", dim=64, buckets=4)
    qs = vectors.filter(F.col("vec_id") < 3)
    plan = explain_str(
        topk_from_store(spark, "ann_store_x", qs, k=5, dim=64), "simple"
    )
    # both store scans must come from the bucketed tables and be read
    # bucketed (the scan line advertises the selected buckets)
    for tbl in ("ann_store_x_bands", "ann_store_x_vectors"):
        assert tbl in plan, plan
    assert plan.count("Bucketed: true") == 2, plan
    # exactly the four query-side exchanges: query bands onto band_key,
    # dedup hash on (query_id, neighbor_id), candidates onto
    # neighbor_id, and the rank window on query_id. A fifth Exchange
    # means a store scan got re-partitioned.
    assert plan.count("Exchange") == 4, plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan


def test_store_tables_round_trip(spark, vectors):
    write_ann_store(vectors, "ann_store_r", dim=64, buckets=4)
    bands = read_bucketed(spark, "ann_store_r_bands")
    unit = read_bucketed(spark, "ann_store_r_vectors")
    n = vectors.count()
    assert unit.count() == n
    assert bands.count() == n * 4  # one row per (vector, band)
    # unit vectors have norm ~1 (or 0 for zero vectors)
    row = unit.select(
        F.aggregate("u", F.lit(0.0), lambda a, x: a + x * x).alias("sq")
    ).agg(F.max(F.abs(F.col("sq") - 1.0)).alias("dev")).collect()[0]
    assert row["dev"] < 1e-9


def test_store_rejects_mismatched_parameters(spark, vectors):
    write_ann_store(vectors, "ann_store_m", dim=64, num_planes=16, bands=4, buckets=4)
    qs = vectors.filter(F.col("vec_id") < 3)
    with pytest.raises(ValueError, match="never\\s+collide|never collide"):
        topk_from_store(spark, "ann_store_m", qs, k=5, dim=64, bands=2)


def test_lsh_sha_drops_null_vectors_like_store(spark, vectors):
    """Null embeddings must not surface as cosine=null rows — and the
    direct operator must stay value-identical to the store over a
    corpus CONTAINING nulls."""
    from pyspark.sql import Row

    with_null = vectors.unionByName(
        spark.createDataFrame(
            [Row(vec_id=999999, embedding=None, label=None)], vectors.schema
        )
    )
    qs = with_null.filter(F.col("vec_id") < 3)
    direct = cosine_topk_lsh_sha(with_null, qs, k=5, dim=64)
    assert direct.where(F.col("cosine").isNull()).count() == 0
    assert direct.where(F.col("neighbor_id") == 999999).count() == 0
    write_ann_store(with_null, "ann_store_n", dim=64, buckets=4)
    stored = {
        tuple(r) for r in topk_from_store(spark, "ann_store_n", qs, k=5, dim=64).collect()
    }
    assert stored == {tuple(r) for r in direct.collect()}


# ---------------------------------------------------------------------------
# Incremental ingest (round 8): append_ann_shard + topk_against_shard.
# ---------------------------------------------------------------------------


def test_append_shard_then_query_matches_union_direct(spark, vectors):
    """write base store -> append shard -> topk_from_store must be
    value-identical to the direct sha-LSH operator over the UNIONED
    corpus (the incremental-ingest parity contract)."""
    base = vectors.filter(F.col("vec_id") % 4 != 0)
    shard = vectors.filter(F.col("vec_id") % 4 == 0)
    write_ann_store(base, "ann_store_i", dim=64, buckets=4)
    append_ann_shard(shard, "ann_store_i")
    qs = vectors.filter(F.col("vec_id") < 6)
    direct = {
        (r.query_id, r.neighbor_id, r.rank, round(r.cosine, 9))
        for r in cosine_topk_lsh_sha(vectors, qs, k=10, dim=64).collect()
    }
    stored = {
        (r.query_id, r.neighbor_id, r.rank, round(r.cosine, 9))
        for r in topk_from_store(spark, "ann_store_i", qs, k=10, dim=64).collect()
    }
    assert direct and stored == direct


def test_append_does_not_rewrite_standing_files(spark, vectors):
    """The append adds bucket files; standing files stay byte-identical
    (no table rewrite)."""
    import glob
    import os

    base = vectors.filter(F.col("vec_id") % 4 != 0)
    shard = vectors.filter(F.col("vec_id") % 4 == 0)
    write_ann_store(base, "ann_store_a", dim=64, buckets=4)
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    loc = os.path.join(warehouse, "ann_store_a_vectors")
    before = {
        p: os.path.getmtime(p) for p in glob.glob(f"{loc}/*.parquet")
    }
    assert before
    append_ann_shard(shard, "ann_store_a")
    after = {p: os.path.getmtime(p) for p in glob.glob(f"{loc}/*.parquet")}
    assert set(before) < set(after)  # strictly more files
    for p, mtime in before.items():
        assert after[p] == mtime  # standing files untouched


def test_topk_against_shard_matches_union_direct(spark, vectors):
    """Pre-append incremental query: shard queried against store+shard
    equals the direct operator over the union with shard queries."""
    base = vectors.filter(F.col("vec_id") % 4 != 0)
    shard = vectors.filter(F.col("vec_id") % 4 == 0)
    write_ann_store(base, "ann_store_q", dim=64, buckets=4)
    qshard = shard.filter(F.col("vec_id") < 20)
    direct = {
        (r.query_id, r.neighbor_id, r.rank, round(r.cosine, 9))
        for r in cosine_topk_lsh_sha(vectors, qshard, k=5, dim=64).collect()
    }
    # corpus = base + FULL shard; filter to the query ids afterwards
    inc = topk_against_shard(
        spark, "ann_store_q", shard, k=5
    ).filter(F.col("query_id") < 20)
    stored = {
        (r.query_id, r.neighbor_id, r.rank, round(r.cosine, 9))
        for r in inc.collect()
    }
    assert direct and stored == direct


def test_duplicate_query_rows_rank_distinct_neighbors(spark, vectors):
    """A repeated query row (or shard row) must not re-multiply after
    the candidate dedup: every rank holds a distinct neighbor, and the
    rows equal those of the deduplicated query frame, on both the
    store and the store+shard paths."""
    base = vectors.filter(F.col("vec_id") % 4 != 0)
    shard = vectors.filter(F.col("vec_id") % 4 == 0)
    write_ann_store(base, "ann_store_dupq", dim=64, buckets=4)

    def rows(df):
        return sorted(
            (r.query_id, r.neighbor_id, r.rank, round(r.cosine, 9))
            for r in df.collect()
        )

    def distinct_per_query(got):
        per = {}
        for q, n, _, _ in got:
            per.setdefault(q, []).append(n)
        return all(len(ns) == len(set(ns)) for ns in per.values())

    qs = vectors.filter(F.col("vec_id") < 5)
    dup_qs = qs.unionByName(qs.filter(F.col("vec_id") == 1))
    got = rows(topk_from_store(spark, "ann_store_dupq", dup_qs, k=5, dim=64))
    assert got and distinct_per_query(got)
    assert got == rows(topk_from_store(spark, "ann_store_dupq", qs, k=5, dim=64))

    dup_shard = shard.unionByName(shard.filter(F.col("vec_id") == 4))
    got = rows(topk_against_shard(spark, "ann_store_dupq", dup_shard, k=5))
    assert got and distinct_per_query(got)
    assert got == rows(topk_against_shard(spark, "ann_store_dupq", shard, k=5))


def test_topk_against_shard_store_side_shuffle_free(spark, vectors, no_broadcast):
    """No Exchange above either STORE scan: the standing tables read
    their buckets in place; only shard-side frames shuffle."""
    base = vectors.filter(F.col("vec_id") % 4 != 0)
    shard = vectors.filter(F.col("vec_id") % 4 == 0)
    write_ann_store(base, "ann_store_s", dim=64, buckets=4)
    plan = explain_str(
        topk_against_shard(spark, "ann_store_s", shard, k=5), "formatted"
    )
    for tbl in ("ann_store_s_bands", "ann_store_s_vectors"):
        assert tbl in plan, plan
    assert plan.count("Bucketed: true") == 2, plan


def test_compact_store_merges_append_fragments(spark, vectors, no_broadcast):
    """Three appends fragment the bucket files; a rebucket at the
    CURRENT count (the store's compaction pass) merges them to one
    file per bucket, preserves every row, and keeps the co-located
    (Bucketed: true) scan."""
    import pyspark.sql.functions as F  # noqa: F811

    from polars_text_spark.operators.ann_store import _phys, rebucket_store

    base = vectors.filter(F.col("vec_id") % 4 == 1)
    write_ann_store(base, "ann_store_c", dim=64, buckets=4)
    for rem in (2, 3, 0):
        append_ann_shard(vectors.filter(F.col("vec_id") % 4 == rem), "ann_store_c")

    def rows(suffix):
        return {
            tuple(r) for r in spark.table(_phys(spark, "ann_store_c", suffix))
            .selectExpr("id", "to_json(struct(*))").collect()
        }

    def n_files(suffix):
        return len(spark.table(_phys(spark, "ann_store_c", suffix)).inputFiles())

    before = {s: (rows(s), n_files(s)) for s in ("bands", "vectors")}
    rebucket_store(spark, "ann_store_c", 4)
    for s, (content, n_before) in before.items():
        assert rows(s) == content, s
        assert n_files(s) < n_before, s
        assert n_files(s) <= 4, s  # one file per bucket
    # compacted store still answers shuffle-free on the store side
    qs = vectors.filter(F.col("vec_id") < 3)
    plan = explain_str(
        topk_from_store(spark, "ann_store_c", qs, k=5, dim=64), "simple"
    )
    assert plan.count("Bucketed: true") == 2, plan
    assert plan.count("Exchange") == 4, plan


def test_compact_rejects_unbucketed_table(spark, vectors):
    """The rebucket/purge rewrite (the store's compaction pass) refuses
    a store table that is not bucketed, leaving the store untouched."""
    import pytest as _pytest

    from polars_text_spark.operators.ann_store import rebucket_store
    from polars_text_spark.sources.bucketing import (
        clear_table,
        store_generation,
    )

    write_ann_store(vectors.limit(20), "ann_plain", dim=64, buckets=4)
    clear_table(spark, "ann_plain_vectors")
    spark.range(10).write.format("parquet").saveAsTable("ann_plain_vectors")
    with _pytest.raises(ValueError, match="not bucketed"):
        rebucket_store(spark, "ann_plain", 4)
    assert store_generation(spark, "ann_plain") == 0
    assert not spark.catalog.tableExists("ann_plain_bands_g1")
    assert spark.table("ann_plain_vectors").count() == 10


def test_append_rejects_dim_mismatch(spark, vectors):
    """A shard whose vectors have the wrong dimensionality must fail
    loudly: null-padded band keys would silently destroy recall.
    Round 16: the guard is IN-PLAN (sha_band_keys raises inside the
    banding projection — free, where the former pre-flight scan was a
    full extra pass over the shard), so the append's own write job
    aborts before any table commits; the store stays intact."""
    from pyspark.sql import Row

    base = vectors.filter(F.col("vec_id") % 4 != 0)
    write_ann_store(base, "ann_store_d", dim=64, buckets=4)
    short = spark.createDataFrame(
        [Row(vec_id=777777, embedding=[0.5] * 32, label=None)],
        vectors.schema,
    )
    with pytest.raises(Exception, match="32 components.*dim=64"):
        append_ann_shard(short, "ann_store_d")
    # the aborted append committed nothing: the store answers as before
    assert spark.table("ann_store_d_vectors").filter(
        F.col("id") == 777777
    ).count() == 0


def test_query_paths_reject_dim_mismatch(spark, vectors):
    """Wrong-dim QUERY shards must fail loudly too: they null-pad
    through sha_band_keys into degenerate band keys and return
    silently-wrong/empty neighbors (the read-path twin of the
    append-path guard). Round 16: the guard is in-plan, so the raise
    surfaces when the lazy result is ACTED on — no pre-flight job per
    read."""
    from pyspark.sql import Row

    base = vectors.filter(F.col("vec_id") % 4 != 0)
    write_ann_store(base, "ann_store_qd", dim=64, buckets=4)
    short = spark.createDataFrame(
        [Row(vec_id=777778, embedding=[0.5] * 32, label=None)],
        vectors.schema,
    )
    with pytest.raises(Exception, match="32 components.*dim=64"):
        topk_against_shard(spark, "ann_store_qd", short, k=3).collect()
    with pytest.raises(Exception, match="32 components.*dim=64"):
        topk_from_store(
            spark, "ann_store_qd", short, k=3, dim=64
        ).collect()


def test_append_rejects_overlapping_ids(spark, vectors):
    """Appending a shard whose ids already exist must fail loudly:
    duplicated ids double their rows in both tables and burn top-k
    rank slots with duplicate candidates on every later query."""
    base = vectors.filter(F.col("vec_id") % 4 != 0)
    write_ann_store(base, "ann_store_ov", dim=64, buckets=4)
    overlapping = vectors.filter(F.col("vec_id") % 4 != 0).limit(2)
    with pytest.raises(ValueError, match="already exists"):
        append_ann_shard(overlapping, "ann_store_ov")
    # disjoint shard still appends fine after the rejected attempt
    fresh = vectors.filter(F.col("vec_id") % 4 == 0).limit(2)
    append_ann_shard(fresh, "ann_store_ov")
    n = read_bucketed(spark, "ann_store_ov_vectors").count()
    assert n == base.count() + 2


# ---- round-9: tombstone deletion lifecycle -------------------------------


def test_ann_delete_matches_rebuild_from_filtered_corpus(spark, vectors):
    """Store minus deleted ids ≡ store rebuilt from filtered corpus,
    for both the standing-query and shard-query read paths."""
    from polars_text_spark.operators.ann_store import delete_ids

    write_ann_store(vectors, "ann_del", dim=64, buckets=4)
    doomed = vectors.select("vec_id").filter(F.col("vec_id") % 7 == 0)
    delete_ids(doomed, "ann_del")
    kept = vectors.join(F.broadcast(doomed), "vec_id", "left_anti")
    write_ann_store(kept, "ann_del_ref", dim=64, buckets=4)
    qs = vectors.filter(F.col("vec_id") % 7 == 1).limit(4)
    key = lambda rows: {
        (r.query_id, r.neighbor_id, r.rank, round(r.cosine, 9)) for r in rows
    }
    got = key(topk_from_store(spark, "ann_del", qs, k=8, dim=64).collect())
    ref = key(topk_from_store(spark, "ann_del_ref", qs, k=8, dim=64).collect())
    assert got and got == ref


def test_ann_purge_then_reappend(spark, vectors):
    from polars_text_spark.operators.ann_store import delete_ids, purge_deleted

    base = vectors.filter(F.col("vec_id") < 40)
    write_ann_store(base, "ann_pg", dim=64, buckets=4)
    doomed = base.select("vec_id").filter(F.col("vec_id") < 5)
    delete_ids(doomed, "ann_pg")
    # re-appending a tombstoned id before purge must fail loudly
    shard = vectors.filter(F.col("vec_id") < 2)
    with pytest.raises(ValueError, match="already exists"):
        append_ann_shard(shard, "ann_pg")
    purge_deleted(spark, "ann_pg")
    assert not spark.catalog.tableExists("ann_pg_tombstones")
    from polars_text_spark.operators.ann_store import _phys

    remaining = {
        r.id
        for r in read_bucketed(spark, _phys(spark, "ann_pg", "vectors")).collect()
    }
    assert remaining == set(range(5, 40))
    # after purge the ids are free again; a query identical to the
    # re-appended vector shares ALL its band keys, so it must surface
    # as its own top neighbor (cosine 1) — proves the re-ingested rows
    # are really read
    append_ann_shard(shard, "ann_pg")
    qs = vectors.filter(F.col("vec_id") == 0)
    out = topk_from_store(
        spark, "ann_pg", qs, k=50, dim=64, exclude_self=False
    ).collect()
    best = min(out, key=lambda r: r.rank)
    assert best.neighbor_id == 0 and best.cosine == pytest.approx(1.0)
    neigh = {r.neighbor_id for r in out}
    assert not ({2, 3, 4} & neigh)


def test_ann_pending_tombstones_keep_store_reads_shuffle_free(
    spark, vectors, no_broadcast
):
    """Hard-count twin of test_store_side_joins_are_shuffle_free with
    a pending tombstone set: the two anti-joins must arrive as
    BroadcastExchanges ONLY — the non-broadcast Exchange count stays
    at the tombstone-free baseline of 4 (query bands onto band_key,
    candidate dedup, candidates onto neighbor_id, rank window)."""
    from polars_text_spark.operators.ann_store import delete_ids

    write_ann_store(vectors, "ann_ts", dim=64, buckets=4)
    delete_ids(vectors.select("vec_id").limit(3), "ann_ts")
    qs = vectors.filter(F.col("vec_id") < 3)
    plan = explain_str(
        topk_from_store(spark, "ann_ts", qs, k=5, dim=64), "simple"
    )
    assert plan.count("Bucketed: true") == 2, plan
    n_broadcast = plan.count("BroadcastExchange")
    n_shuffle = plan.count("Exchange") - n_broadcast
    assert n_broadcast == 2, plan  # one per store table's anti-join
    assert n_shuffle == 4, plan


def test_ann_rebuild_same_name_clears_stale_tombstones(spark, vectors):
    """Rebuilding under the same name must discard the previous
    generation's tombstones — otherwise the fresh store silently
    loses those ids at read time and rejects their re-ingest."""
    from polars_text_spark.operators.ann_store import delete_ids

    base = vectors.filter(F.col("vec_id") % 3 != 0)
    write_ann_store(base, "ann_gen", dim=64, buckets=4)
    doomed = base.select("vec_id").limit(8)
    delete_ids(doomed, "ann_gen")
    write_ann_store(base, "ann_gen", dim=64, buckets=4)  # no purge first
    write_ann_store(base, "ann_gen_ref", dim=64, buckets=4)
    qs = vectors.filter(F.col("vec_id") % 5 == 1).limit(3)
    key = lambda rows: {
        (r.query_id, r.neighbor_id, r.rank, round(r.cosine, 9)) for r in rows
    }
    got = key(topk_from_store(spark, "ann_gen", qs, k=6, dim=64).collect())
    ref = key(topk_from_store(spark, "ann_gen_ref", qs, k=6, dim=64).collect())
    assert got and got == ref
    # previously-tombstoned ids append cleanly into the new generation
    kept = base.join(F.broadcast(doomed), "vec_id", "left_anti")
    write_ann_store(kept, "ann_gen", dim=64, buckets=4)
    append_ann_shard(
        base.join(F.broadcast(doomed), "vec_id", "left_semi"), "ann_gen"
    )


# ---------------------------------------------------------------------------
# Re-bucketing (round 13): rebucket_store — the lifecycle step for a
# store grown past its write-time bucket count.
# ---------------------------------------------------------------------------


def test_rebucket_store_preserves_answers_and_meta(spark, vectors):
    """append -> rebucket -> top-k must be bit-identical to the
    pre-rebucket answers; the meta row records the new count so later
    appends write at it; both tables carry the new bucket spec."""
    from polars_text_spark.operators.ann_store import rebucket_store

    base = vectors.filter(F.col("vec_id") % 4 != 0)
    shard = vectors.filter(F.col("vec_id") % 4 == 0)
    write_ann_store(base, "ann_rb", dim=64, buckets=4)
    qs = vectors.filter(F.col("vec_id") < 6)
    before = {
        tuple(r)
        for r in topk_from_store(spark, "ann_rb", qs, k=10, dim=64).collect()
    }
    rebucket_store(spark, "ann_rb", 8)
    after = {
        tuple(r)
        for r in topk_from_store(spark, "ann_rb", qs, k=10, dim=64).collect()
    }
    assert before and after == before
    from polars_text_spark.sources.bucketing import read_meta

    meta = read_meta(spark, "ann_rb")  # max-gen row of the meta log
    assert meta["buckets"] == 8
    from polars_text_spark.operators.ann_store import _phys

    for tbl in (_phys(spark, "ann_rb", "bands"), _phys(spark, "ann_rb", "vectors")):
        info = {
            r["col_name"]: r["data_type"]
            for r in spark.sql(f"DESCRIBE EXTENDED {tbl}").collect()
        }
        assert int(info["Num Buckets"]) == 8, tbl
    # a post-rebucket append writes at the NEW count (the meta row is
    # what the append reads) and the grown store answers exactly
    append_ann_shard(shard, "ann_rb")
    direct = {
        (r.query_id, r.neighbor_id, r.rank, round(r.cosine, 9))
        for r in cosine_topk_lsh_sha(vectors, qs, k=10, dim=64).collect()
    }
    stored = {
        (r.query_id, r.neighbor_id, r.rank, round(r.cosine, 9))
        for r in topk_from_store(spark, "ann_rb", qs, k=10, dim=64).collect()
    }
    assert stored == direct


def test_rebucket_store_reads_stay_shuffle_free(spark, vectors, no_broadcast):
    """After the rewrite, store-side joins still read co-located
    buckets: same hard Exchange count as the freshly-written store."""
    from polars_text_spark.operators.ann_store import rebucket_store

    write_ann_store(vectors, "ann_rbp", dim=64, buckets=4)
    rebucket_store(spark, "ann_rbp", 8)
    qs = vectors.filter(F.col("vec_id") < 3)
    plan = explain_str(
        topk_from_store(spark, "ann_rbp", qs, k=5, dim=64), "simple"
    )
    assert plan.count("Bucketed: true") == 2, plan
    assert plan.count("Exchange") == 4, plan


def test_rebucket_store_preserves_pending_tombstones(spark, vectors):
    """Tombstoned ids stay hidden across the rewrite (the tombstone
    table is NOT folded in — purge_deleted still owns that), and the
    purge works on the re-bucketed tables."""
    from polars_text_spark.operators.ann_store import (
        delete_ids,
        purge_deleted,
        rebucket_store,
    )

    write_ann_store(vectors, "ann_rbt", dim=64, buckets=4)
    delete_ids(vectors.filter(F.col("vec_id") % 5 == 0).select("vec_id"), "ann_rbt")
    qs = vectors.filter(F.col("vec_id") < 6)
    before = {
        tuple(r)
        for r in topk_from_store(spark, "ann_rbt", qs, k=10, dim=64).collect()
    }
    assert not any(r[1] % 5 == 0 for r in before)
    rebucket_store(spark, "ann_rbt", 8)
    assert spark.catalog.tableExists("ann_rbt_tombstones")
    after = {
        tuple(r)
        for r in topk_from_store(spark, "ann_rbt", qs, k=10, dim=64).collect()
    }
    assert after == before
    purge_deleted(spark, "ann_rbt")
    assert {
        tuple(r)
        for r in topk_from_store(spark, "ann_rbt", qs, k=10, dim=64).collect()
    } == before


def test_ann_store_band_stats_audit(spark, vectors):
    """The standing-store band audit: bucket counts must equal a
    direct groupBy over the same band keys, telemetry columns behave
    (no sig column -> cross-sig unknown), tombstones respected."""
    from polars_text_spark.operators.ann_store import (
        band_stats_from_ann_store,
        delete_ids,
    )

    write_ann_store(vectors, "ann_audit", dim=64, buckets=4)
    r = band_stats_from_ann_store(spark, "ann_audit", band_cap=5).collect()[0]
    per = (
        spark.table("ann_audit_bands")
        .groupBy("band_key")
        .count()
        .collect()
    )
    assert r.n_buckets == len(per)
    assert r.max_bucket_size == max(p["count"] for p in per)
    assert r.n_saturated_buckets == sum(1 for p in per if p["count"] > 5)
    assert r.cross_sig_missed_bound is None  # no signature grouping
    n_before = r.n_buckets
    # tombstoning a vector removes its band rows from the audit
    delete_ids(vectors.limit(1), "ann_audit")
    r2 = band_stats_from_ann_store(spark, "ann_audit", band_cap=5).collect()[0]
    assert r2.saturated_member_rows <= r.saturated_member_rows
    assert r2.n_buckets <= n_before
