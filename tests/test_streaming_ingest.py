"""Continuous MinHash-store ingest (streaming/ingest.py): micro-batch
appends under availableNow must build the SAME store as one batch
write over the union corpus, stay idempotent under full redelivery,
and respect pending tombstones."""

from __future__ import annotations

import re
from functools import partial

import pytest
from pyspark.sql import functions as F

from polars_text_spark.operators.dedup_store import (
    delete_ids,
    pairs_from_store,
    write_minhash_store,
)
from polars_text_spark.streaming.dedup import read_docs_stream
from polars_text_spark.streaming.ingest import stream_into_minhash_store


@pytest.fixture(scope="module")
def corpus(spark, sf_dir):
    return (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("text").isNotNull())
        .select(
            "doc_id",
            "text",
            "lang",
            "source",
            F.current_timestamp().alias("ingest_ts"),
        )
        .limit(120)
    )


def _pairs(spark, name):
    return {
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in pairs_from_store(spark, name).collect()
    }


def _drain(spark, src_dir, ckpt, name, **kw):
    q = stream_into_minhash_store(
        read_docs_stream(spark, src_dir, max_files_per_trigger=1),
        name,
        checkpoint_dir=ckpt,
        buckets=4,
        available_now=True,
        **kw,
    )
    assert q.awaitTermination(600), "stream did not finish in 600s"
    assert not q.isActive


def test_stream_ingest_matches_batch_store(spark, corpus, tmp_path):
    src = str(tmp_path / "drops")
    # three shard drops appended as FLAT part files (the file stream
    # source does not recurse); the third REDELIVERS some shard-one
    # docs (crawl re-fetch) — the sink must drop them, not raise or
    # duplicate
    for shard in (
        corpus.filter(F.col("doc_id") % 3 == 0),
        corpus.filter(F.col("doc_id") % 3 == 1),
        corpus.filter((F.col("doc_id") % 3 == 2) | (F.col("doc_id") % 6 == 0)),
    ):
        shard.repartition(1).write.mode("append").parquet(src)

    _drain(spark, src, str(tmp_path / "ck1"), "mh_stream")
    write_minhash_store(corpus, "mh_stream_ref", buckets=4)
    got = _pairs(spark, "mh_stream")
    assert got == _pairs(spark, "mh_stream_ref")
    assert got, "parity on an empty pair set is vacuous"

    # full redelivery (fresh checkpoint, same source) is a no-op
    _drain(spark, src, str(tmp_path / "ck2"), "mh_stream")
    assert _pairs(spark, "mh_stream") == got
    n = spark.table("mh_stream_shingles").count()
    assert n == corpus.count()


def _job_count(spark, fn, group: str) -> int:
    """Spark jobs ``fn()`` submits, counted under a job group (jobs
    from AQE's helper threads inherit it)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _table_state(spark, tables):
    return {
        t: (spark.table(t).count(), len(spark.table(t).inputFiles()))
        for t in tables
    }


@pytest.mark.parametrize("store", ["minhash", "ann"])
def test_sink_batch_budget_and_redelivery(spark, corpus, sf_dir, tmp_path, store):
    """One micro-batch through the sink body itself, on a static
    batch read from parquet like a file-stream batch. A novel batch
    into either store stays on its job budget (the novelty filter is
    folded into the append, no separate probe job); redelivering the
    same batch to either store adds no row and no data file to either
    table."""
    from polars_text_spark.operators.ann_store import write_ann_store
    from polars_text_spark.streaming.ingest import (
        ann_ingest_batch,
        minhash_ingest_batch,
    )

    name = f"{store}_sink_budget"
    if store == "minhash":
        rows, key = corpus, "doc_id"
        tables = [f"{name}_bands", f"{name}_shingles"]
        write_minhash_store(rows.filter(F.col(key) % 2 == 0), name, buckets=4)
        sink = minhash_ingest_batch(name, buckets=4)
    else:
        rows = (
            spark.read.parquet(f"{sf_dir}/embeddings.parquet")
            .filter(F.col("embedding").isNotNull())
            .limit(100)
        )
        key = "vec_id"
        tables = [f"{name}_bands", f"{name}_vectors"]
        write_ann_store(
            rows.filter(F.col(key) % 2 == 0), name, dim=64, buckets=4
        )
        sink = ann_ingest_batch(name, dim=64, buckets=4)
    src = str(tmp_path / "batch")
    rows.filter(F.col(key) % 2 == 1).write.parquet(src)
    batch = spark.read.parquet(src)

    jobs = _job_count(spark, lambda: sink(batch, 0), f"{name}-novel")
    assert jobs <= 5, f"novel micro-batch ran {jobs} jobs"
    grown = _table_state(spark, tables)
    assert grown[tables[1]][0] == rows.count()

    sink(batch, 1)  # redelivery
    assert _table_state(spark, tables) == grown


def test_stream_ingest_skips_tombstoned_ids(spark, corpus, tmp_path):
    src = str(tmp_path / "drops")
    base = corpus.filter(F.col("doc_id") % 2 == 0)
    late = corpus.filter(F.col("doc_id") % 2 == 1)
    base.repartition(1).write.mode("append").parquet(src)
    _drain(spark, src, str(tmp_path / "ck1"), "mh_stream_ts")

    doomed = base.select("doc_id").limit(5)
    delete_ids(doomed, "mh_stream_ts")
    # the next drop redelivers the tombstoned docs plus new ones; a
    # tombstoned id must NOT re-enter before purge (read-time
    # anti-join would silently swallow it)
    late.unionByName(
        base.join(F.broadcast(doomed), "doc_id", "left_semi")
    ).repartition(1).write.mode("append").parquet(src)
    _drain(spark, src, str(tmp_path / "ck2"), "mh_stream_ts")

    stored = {
        r.id for r in spark.table("mh_stream_ts_shingles").select("id").collect()
    }
    dead = {r.doc_id for r in doomed.collect()}
    assert dead <= stored  # physically present until purge
    live_pairs = _pairs(spark, "mh_stream_ts")
    assert all(
        a not in dead and b not in dead for a, b, _ in live_pairs
    )


def test_ann_stream_ingest_matches_batch_store(spark, sf_dir, tmp_path):
    from pyspark.sql import types as T

    from polars_text_spark.operators.ann_store import (
        topk_from_store,
        write_ann_store,
    )
    from polars_text_spark.streaming.ingest import stream_into_ann_store

    vecs = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .filter(F.col("embedding").isNotNull())
        .limit(100)
    )
    src = str(tmp_path / "vecdrops")
    # second drop redelivers part of the first (at-least-once)
    vecs.filter(F.col("vec_id") % 2 == 0).repartition(1).write.mode(
        "append"
    ).parquet(src)
    vecs.filter(
        (F.col("vec_id") % 2 == 1) | (F.col("vec_id") % 4 == 0)
    ).repartition(1).write.mode("append").parquet(src)

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = stream_into_ann_store(
        stream.select("vec_id", "embedding"),
        "ann_stream",
        checkpoint_dir=str(tmp_path / "ck"),
        dim=64,
        buckets=4,
        available_now=True,
    )
    assert q.awaitTermination(600), "stream did not finish in 600s"
    assert not q.isActive

    write_ann_store(vecs, "ann_stream_ref", dim=64, buckets=4)
    qs = vecs.filter(F.col("vec_id") % 7 == 1).limit(4)
    key = lambda rows: {
        (r.query_id, r.neighbor_id, r.rank, round(r.cosine, 9)) for r in rows
    }
    got = key(topk_from_store(spark, "ann_stream", qs, k=8, dim=64).collect())
    ref = key(
        topk_from_store(spark, "ann_stream_ref", qs, k=8, dim=64).collect()
    )
    assert got and got == ref
    # redelivered ids were dropped, not duplicated
    n = spark.table("ann_stream_vectors").count()
    assert n == vecs.count()


def test_bloom_stream_ingest_matches_batch_fit(spark, corpus, tmp_path):
    """Draining shard drops through the Bloom sink must produce a
    filter bit-identical to one batch fit over the corpus, and a
    full redelivery (fresh checkpoint, same source) must be a
    structural no-op — bit_or re-ORs the same bits."""
    from polars_text_spark.operators.bloom import (
        bloom_fit,
        read_bloom_store,
    )
    from polars_text_spark.streaming.ingest import stream_into_bloom_store

    src = str(tmp_path / "bloom_drops")
    for shard in (
        corpus.filter(F.col("doc_id") % 3 == 0),
        corpus.filter(F.col("doc_id") % 3 == 1),
        # overlap with shard one: re-fetches are harmless for a Bloom
        corpus.filter((F.col("doc_id") % 3 == 2) | (F.col("doc_id") % 6 == 0)),
    ):
        shard.repartition(1).write.mode("append").parquet(src)

    def drain(ckpt):
        q = stream_into_bloom_store(
            read_docs_stream(spark, src, max_files_per_trigger=1),
            "bloom_stream",
            checkpoint_dir=ckpt,
            key_col="text",
            m_bits=65536,
            n_hashes=5,
            available_now=True,
        )
        assert q.awaitTermination(180)
        assert not q.isActive

    drain(str(tmp_path / "bck1"))
    got = read_bloom_store(spark, "bloom_stream").first()[0]
    want = bloom_fit(corpus, "text", m_bits=65536, n_hashes=5).first()[0]
    assert got == want

    drain(str(tmp_path / "bck2"))
    assert read_bloom_store(spark, "bloom_stream").first()[0] == want


def test_stream_ingest_across_rebucket_generations(spark, corpus, tmp_path):
    """Streaming ingest around a rebucket (round 14): triggers before
    the cutover write the old generation, triggers after it resolve
    the NEW generation from the meta pointer and append at the new
    bucket count — the store stays consistent and answers exactly."""
    from polars_text_spark.operators.dedup_store import (
        _phys,
        rebucket_minhash_store,
    )
    from polars_text_spark.sources.bucketing import store_generation

    src1 = str(tmp_path / "gen_drop1")
    src2 = str(tmp_path / "gen_drop2")
    first = corpus.filter(F.col("doc_id") % 2 == 0)
    second = corpus.filter(F.col("doc_id") % 2 == 1)
    first.repartition(1).write.mode("append").parquet(src1)
    second.repartition(1).write.mode("append").parquet(src2)

    _drain(spark, src1, str(tmp_path / "gck1"), "mh_genstream")
    assert store_generation(spark, "mh_genstream") == 0

    rebucket_minhash_store(spark, "mh_genstream", 8)
    assert store_generation(spark, "mh_genstream") == 1

    # post-cutover triggers must land in the NEW generation's tables
    _drain(spark, src2, str(tmp_path / "gck2"), "mh_genstream")
    assert store_generation(spark, "mh_genstream") == 1
    n = spark.table(_phys(spark, "mh_genstream", "shingles")).count()
    assert n == corpus.count()
    # and the physical tables carry the post-rebucket bucket count
    info = {
        r["col_name"]: r["data_type"]
        for r in spark.sql(
            f"DESCRIBE EXTENDED {_phys(spark, 'mh_genstream', 'bands')}"
        ).collect()
    }
    assert int(info["Num Buckets"]) == 8

    write_minhash_store(corpus, "mh_genstream_ref", buckets=8)
    got = _pairs(spark, "mh_genstream")
    assert got == _pairs(spark, "mh_genstream_ref")
    assert got, "parity on an empty pair set is vacuous"


def test_stream_refuses_foreign_hash_family(spark, corpus, tmp_path):
    """The sink passes the batch append's gate: a store whose meta
    records another shingle hash family is refused (its band keys can
    never collide with new rows), not silently appended to."""
    name = "mh_hashv_stream"
    rows = corpus.select("doc_id", "text")
    write_minhash_store(rows.filter(F.col("doc_id") % 2 == 0), name, buckets=4)
    # a v1-era store: the meta rewritten with hashv=1
    old = spark.table(f"{name}_meta").collect()[0]
    spark.createDataFrame(
        [(old["num_perm"], old["bands"], old["shingle_n"],
          old["buckets"], 1)],
        "num_perm int, bands int, shingle_n int, buckets int, hashv int",
    ).write.format("parquet").mode("overwrite").saveAsTable(f"{name}_meta")
    src = str(tmp_path / "drops")
    rows.filter(F.col("doc_id") % 2 == 1).repartition(1).write.parquet(src)
    with pytest.raises(Exception, match="hash family"):
        _drain(spark, src, str(tmp_path / "ck"), name)
    assert spark.table(f"{name}_shingles").count() == rows.filter(
        F.col("doc_id") % 2 == 0
    ).count()


@pytest.mark.parametrize("store", ["minhash", "ann"])
def test_stream_refuses_store_without_meta(
    spark, corpus, sf_dir, tmp_path, store
):
    """Data tables without a meta table (a crashed bootstrap, a
    pre-meta store) are refused like the batch append refuses them;
    bootstrapping over them would sweep the standing rows."""
    from polars_text_spark.operators.ann_store import write_ann_store
    from polars_text_spark.streaming.ingest import stream_into_ann_store

    name = f"{store}_nometa_stream"
    if store == "minhash":
        rows = corpus.select("doc_id", "text")
        key, tables = "doc_id", ("bands", "shingles")
        write_minhash_store(rows.filter(F.col(key) % 2 == 0), name, buckets=4)

        def start(frame, ckpt):
            return stream_into_minhash_store(
                frame, name, checkpoint_dir=ckpt, buckets=4,
                available_now=True,
            )
    else:
        rows = (
            spark.read.parquet(f"{sf_dir}/embeddings.parquet")
            .filter(F.col("embedding").isNotNull())
            .select("vec_id", "embedding")
            .limit(60)
        )
        key, tables = "vec_id", ("bands", "vectors")
        write_ann_store(
            rows.filter(F.col(key) % 2 == 0), name, dim=64, buckets=4
        )

        def start(frame, ckpt):
            return stream_into_ann_store(
                frame, name, checkpoint_dir=ckpt, dim=64, buckets=4,
                available_now=True,
            )

    spark.sql(f"DROP TABLE {name}_meta")
    before = {t: spark.table(f"{name}_{t}").count() for t in tables}
    assert all(before.values())
    src = str(tmp_path / "drops")
    rows.filter(F.col(key) % 2 == 1).repartition(1).write.parquet(src)
    q = start(
        spark.readStream.schema(rows.schema).parquet(src),
        str(tmp_path / "ck"),
    )
    with pytest.raises(Exception, match="no meta table"):
        q.awaitTermination(600)
    assert {t: spark.table(f"{name}_{t}").count() for t in tables} == before


def _id_keyed_store(spark, corpus, sf_dir, store, name):
    """A small store of the even ids, with its two physical tables,
    its sink and its batch append."""
    from polars_text_spark.operators.ann_store import (
        append_ann_shard,
        write_ann_store,
    )
    from polars_text_spark.operators.dedup_store import append_minhash_shard
    from polars_text_spark.streaming.ingest import (
        ann_ingest_batch,
        minhash_ingest_batch,
    )

    if store == "minhash":
        rows, key = corpus.select("doc_id", "text"), "doc_id"
        write_minhash_store(rows.filter(F.col(key) % 2 == 0), name, buckets=4)
        sink = minhash_ingest_batch(name, buckets=4)
        append = partial(append_minhash_shard, name=name)
        tables = [f"{name}_bands", f"{name}_shingles"]
    else:
        rows = (
            spark.read.parquet(f"{sf_dir}/embeddings.parquet")
            .filter(F.col("embedding").isNotNull())
            .select("vec_id", "embedding")
            .limit(100)
        )
        key = "vec_id"
        write_ann_store(
            rows.filter(F.col(key) % 2 == 0), name, dim=64, buckets=4
        )
        sink = ann_ingest_batch(name, dim=64, buckets=4)
        append = partial(append_ann_shard, name=name)
        tables = [f"{name}_bands", f"{name}_vectors"]
    return rows, key, tables, sink, append


def _landed(spark, frame, path):
    """``frame`` written to parquet and read back, like a landed shard
    or a file-stream micro-batch (no predicate on the id in its plan)."""
    frame.write.parquet(path)
    return spark.read.parquet(path)


def _with_null_id(rows, key):
    """``rows`` plus one copy of its first row under a null id."""
    return rows.unionByName(
        rows.limit(1).withColumn(
            key, F.lit(None).cast(rows.schema[key].dataType)
        )
    )


@pytest.mark.parametrize("store", ["minhash", "ann"])
def test_sink_redelivery_drops_null_ids(spark, corpus, sf_dir, tmp_path, store):
    """A null id never matches the novelty anti-join, so a sink that
    kept null-id rows would append them again on every delivery. The
    sink drops them: the first delivery stores only the non-null ids,
    and redelivering the batch changes neither table's row count nor
    its data-file count."""
    name = f"{store}_sink_null_id"
    rows, key, tables, sink, _ = _id_keyed_store(
        spark, corpus, sf_dir, store, name
    )
    batch = _landed(
        spark, _with_null_id(rows.filter(F.col(key) % 2 == 1), key),
        str(tmp_path / "batch"),
    )
    sink(batch, 0)
    grown = _table_state(spark, tables)
    assert grown[tables[1]][0] == rows.count()
    sink(batch, 1)  # redelivery
    assert _table_state(spark, tables) == grown
    assert spark.table(tables[1]).filter(F.col("id").isNull()).count() == 0


def _offending_shard(spark, rows, key, name, offender):
    """The store's novel (odd) rows plus one offender of the kind
    ``offender``: a second copy of a shard row, a stored row, a stored
    row tombstoned awaiting purge, or a row under a null id."""
    from polars_text_spark.sources.bucketing import tombstone_ids

    odd, even = rows.filter(F.col(key) % 2 == 1), rows.filter(F.col(key) % 2 == 0)
    if offender == "shard":
        return odd.unionByName(odd.limit(1))
    if offender == "null":
        return _with_null_id(odd, key)
    if offender == "tombstoned":
        tombstone_ids(even.limit(1), name, id_col=key)
    return odd.unionByName(even.limit(1))


_REFUSALS = {
    "shard": "appears more than once in the shard",
    "stored": "already exists",
    "tombstoned": "already exists.*tombstoned awaiting purge",
    "null": "holds a\\s+null id",
}


@pytest.mark.parametrize("offender", list(_REFUSALS))
@pytest.mark.parametrize("store", ["minhash", "ann"])
def test_append_refuses_repeated_id(
    spark, corpus, sf_dir, tmp_path, store, offender
):
    """The batch append gate refuses a shard holding an id it repeats,
    an id the store holds, an id tombstoned awaiting purge, or a null
    id, each with its own message: a duplicate id-table row
    double-counts every pair (MinHash) or neighbor (ANN) of that id, a
    tombstoned one is swallowed at read time, and a null id never
    matches a stored one, so every retry would append it again. The
    refusal fires inside the append's first write job, and neither
    table gains a row or a data file."""
    name = f"{store}_append_{offender}"
    rows, key, tables, _, append = _id_keyed_store(
        spark, corpus, sf_dir, store, name
    )
    shard = _landed(
        spark, _offending_shard(spark, rows, key, name, offender),
        str(tmp_path / "shard"),
    )
    before = _table_state(spark, tables)
    with pytest.raises(ValueError, match=_REFUSALS[offender]):
        append(shard)
    assert _table_state(spark, tables) == before


# Spark jobs per call. The first call after a fresh store write reads
# the meta log once ("sink"); later calls find the log unchanged. A
# sink batch then runs the id exchange and the two table writes
# ("warm"). A batch append of a landed shard runs the same jobs as a
# warm batch: its id gate rides the id exchange ("append").
_JOB_BUDGETS = {
    "minhash": {"sink": 5, "warm": 4, "append": 4},
    "ann": {"sink": 5, "warm": 4, "append": 4},
}


@pytest.mark.parametrize("store", ["minhash", "ann"])
def test_sink_and_append_job_budgets(spark, corpus, sf_dir, tmp_path, store):
    """A novel sink micro-batch, a second novel micro-batch into the
    same store and a batch append of a landed shard stay on their job
    budgets, for both id-keyed stores."""
    name = f"{store}_job_budget"
    rows, key, tables, sink, append = _id_keyed_store(
        spark, corpus, sf_dir, store, name
    )
    batch = _landed(spark, rows.filter(F.col(key) % 8 == 1), str(tmp_path / "b"))
    warm = _landed(spark, rows.filter(F.col(key) % 8 == 5), str(tmp_path / "w"))
    shard = _landed(spark, rows.filter(F.col(key) % 4 == 3), str(tmp_path / "s"))
    budget = _JOB_BUDGETS[store]
    jobs = _job_count(spark, lambda: sink(batch, 0), f"{name}-sink")
    assert jobs <= budget["sink"], f"novel sink batch ran {jobs} jobs"
    jobs = _job_count(spark, lambda: sink(warm, 1), f"{name}-warm")
    assert jobs <= budget["warm"], f"second novel sink batch ran {jobs} jobs"
    jobs = _job_count(spark, lambda: append(shard), f"{name}-append")
    assert jobs <= budget["append"], f"append ran {jobs} jobs"
    assert _table_state(spark, tables)[tables[1]][0] == rows.count()


@pytest.mark.parametrize("store", ["minhash", "ann"])
def test_sink_moves_a_batch_once(spark, corpus, sf_dir, tmp_path, store):
    """A sink micro-batch is exchanged ONCE, by id into the store's
    bucket count: the dedup and the novelty verdict's joins reuse that
    partitioning, the store's id table reads its buckets in place (no
    Exchange above its scan, and no broadcast of it at any size), and
    the id-table write reuses it too, so each table gains at most one
    data file per bucket. The batch gate's guarded frame, the second
    face of the same verdict, moves a shard the same single time: its
    repeat count and store join add no exchange."""
    from polars_text_spark.operators.ann_store import ANN_STORE
    from polars_text_spark.operators.dedup_store import MINHASH_STORE
    from polars_text_spark.plans import explain_str
    from polars_text_spark.sources.bucketing import read_meta

    name = f"{store}_one_exchange"
    rows, key, tables, sink, _ = _id_keyed_store(
        spark, corpus, sf_dir, store, name
    )
    batch = _landed(spark, rows.filter(F.col(key) % 2 == 1), str(tmp_path / "b"))
    kind = MINHASH_STORE if store == "minhash" else ANN_STORE
    meta = read_meta(spark, name)
    for face in (kind._novel, kind._guarded):
        plan = explain_str(face(batch, name, meta, id_col=key), "simple")
        assert "BroadcastExchange" not in plan, plan
        lines = plan.splitlines()
        exchanges = [i for i, ln in enumerate(lines) if "Exchange" in ln]
        assert len(exchanges) == 1, plan
        assert re.search(
            rf"Exchange hashpartitioning\({key}#\d+L?, 4\)", lines[exchanges[0]]
        ), plan
        # the one exchange moves the batch; the id table is scanned bucketed
        below = lines[exchanges[0] + 1]
        assert "FileScan" in below and tables[1] not in below, plan
        assert re.search(rf"{tables[1]}\[.*Bucketed: true", plan), plan

    before = _table_state(spark, tables)
    sink(batch, 0)
    after = _table_state(spark, tables)
    assert after[tables[1]][0] == rows.count()
    for t in tables:
        assert 0 < after[t][1] - before[t][1] <= 4, (t, before, after)


def test_minhash_sink_batches_match_batch_store(spark, corpus):
    """Two sink micro-batches, the first bootstrapping the store and
    the second redelivering some of its ids, build the same store as
    one batch write over their union: the same pairs and one shingle
    row per id."""
    from polars_text_spark.sources.bucketing import clear_table
    from polars_text_spark.streaming.ingest import minhash_ingest_batch

    name = "mh_sink_parity"
    for t in ("meta", "bands", "shingles", "tombstones"):
        clear_table(spark, f"{name}_{t}")
    base = corpus.select("doc_id", "text").limit(32).localCheckpoint()
    # exact copies under new ids: the pair set is never empty
    docs = base.unionByName(
        base.limit(8).withColumn("doc_id", F.col("doc_id") + 100_000)
    )
    sink = minhash_ingest_batch(name, buckets=4)
    sink(docs.filter(F.col("doc_id") % 2 == 0), 0)
    sink(docs.filter((F.col("doc_id") % 2 == 1) | (F.col("doc_id") % 4 == 0)), 1)

    write_minhash_store(docs, f"{name}_ref", buckets=4)
    got = _pairs(spark, name)
    assert got and got == _pairs(spark, f"{name}_ref")
    assert spark.table(f"{name}_shingles").count() == docs.count() == 40
