"""Bucketed-store LIFECYCLE demo — the round-9 incremental surface.

Runs at sf0.001 in ~2 min:

    python examples/store_lifecycle.py [sf_dir]

Walks both write-once stores (MinHash dedup, LSH ANN) through the full
state machine a 100 TB corpus store lives in:

    write (bulk)  ->  append (daily shard, O(shard))
                  ->  query (shuffle-free store side)
                  ->  delete_ids (tombstones, O(batch))
                  ->  query again (anti-joined reads)
                  ->  purge_deleted (ATOMIC generational cutover;
                      the meta row is the pointer — round 14)
                  ->  compact (undo append fragmentation; resolve the
                      physical name through the generation pointer)
                  ->  audit + rebucket (grow the bucket count)
                  ->  rebuild (hash-family migration, tombstone-safe)

plus the CONTINUOUS shape: a foreachBatch stream drops document
shards into the MinHash store as they land (at-least-once redelivery
is a no-op — the sink appends only novel ids).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

import polars_text_spark as pts
from polars_text_spark.operators import ann_store, dedup_store
from polars_text_spark.sources.bucketing import phys_table, store_generation


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = pts.get_spark("store-lifecycle")
    spark.sparkContext.setLogLevel("ERROR")

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("text").isNotNull()
    )
    vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet").filter(
        F.col("embedding").isNotNull()
    )

    print("== MinHash dedup store ==")
    base = docs.filter(F.col("doc_id") % 4 != 0)
    shard = docs.filter(F.col("doc_id") % 4 == 0)
    dedup_store.write_minhash_store(base, "demo_mh", buckets=4)
    dedup_store.append_minhash_shard(shard, "demo_mh")
    pairs = dedup_store.pairs_from_store(spark, "demo_mh")
    print(f"pairs over grown store: {pairs.count()}")
    doomed = docs.select("doc_id").limit(25)
    dedup_store.delete_ids(doomed, "demo_mh")
    print(f"pairs after tombstoning 25 docs: "
          f"{dedup_store.pairs_from_store(spark, 'demo_mh').count()}")
    dedup_store.purge_deleted(spark, "demo_mh")
    print(f"pairs after purge (same): "
          f"{dedup_store.pairs_from_store(spark, 'demo_mh').count()}")
    # round 14: maintenance is an atomic GENERATIONAL cutover — the
    # physical tables are now versioned and the meta row is the
    # pointer every read/append resolves through
    print(f"store generation after purge: "
          f"{store_generation(spark, 'demo_mh')} "
          f"(bands table: {phys_table('demo_mh', 'bands', store_generation(spark, 'demo_mh'))})")
    # hash-family migration (round 14): a store written under an older
    # shingle family refuses appends loudly; rebuild_minhash_store
    # re-derives it from the authority corpus under the CURRENT family
    # — signature params + bucket count read from the meta, pending
    # tombstones preserved, atomic cutover. The authority corpus here
    # is everything still live (the purge made the deletions physical)
    live = docs.join(doomed, "doc_id", "left_anti")
    dedup_store.rebuild_minhash_store(spark, "demo_mh", live)
    print(f"pairs after v-family rebuild (same): "
          f"{dedup_store.pairs_from_store(spark, 'demo_mh').count()}; "
          f"generation {store_generation(spark, 'demo_mh')}")

    print("== ANN store ==")
    vbase = vecs.filter(F.col("vec_id") % 4 != 0)
    vshard = vecs.filter(F.col("vec_id") % 4 == 0)
    ann_store.write_ann_store(vbase, "demo_ann", dim=64, buckets=4)
    # answer the shard's neighbors BEFORE committing the append
    pre = ann_store.topk_against_shard(spark, "demo_ann", vshard, k=5)
    print(f"pre-append shard neighbors: {pre.count()}")
    ann_store.append_ann_shard(vshard, "demo_ann")
    qs = vecs.filter(F.col("vec_id") < 5)
    print(f"top-k from grown store: "
          f"{ann_store.topk_from_store(spark, 'demo_ann', qs, k=5, dim=64).count()}")
    ann_store.delete_ids(vecs.select("vec_id").filter(F.col("vec_id") % 9 == 0),
                         "demo_ann")
    print(f"top-k with tombstones: "
          f"{ann_store.topk_from_store(spark, 'demo_ann', qs, k=5, dim=64).count()}")
    ann_store.purge_deleted(spark, "demo_ann")
    # resolve the PHYSICAL name through the generation pointer —
    # after any maintenance op the unsuffixed name is gone (round 14);
    # the purge rewrote each bucket into one file
    bands_phys = phys_table(
        "demo_ann", "bands", store_generation(spark, "demo_ann")
    )
    n_files = len(spark.table(bands_phys).inputFiles())
    print(f"post-purge: {n_files} band files ({bands_phys})")
    print(f"top-k after purge: "
          f"{ann_store.topk_from_store(spark, 'demo_ann', qs, k=5, dim=64).count()}")
    # the store grew past its write-time bucket count: audit, then
    # one rewrite shuffle per table moves it to 8 buckets (answers
    # identical; later appends write at the new count)
    audit = ann_store.band_stats_from_ann_store(spark, "demo_ann").collect()[0]
    print(f"band audit: max bucket {audit.max_bucket_size}, "
          f"{audit.n_saturated_buckets} saturated")
    ann_store.rebucket_store(spark, "demo_ann", 8)
    print(f"top-k after rebucket to 8 (same): "
          f"{ann_store.topk_from_store(spark, 'demo_ann', qs, k=5, dim=64).count()}")

    print("== Bloom store (seen-keys ledger) ==")
    from polars_text_spark.operators import bloom

    keys = docs.select("doc_id", "text")
    bloom.write_bloom_store(
        keys.filter(F.col("doc_id") % 2 == 0), "text", "demo_bloom",
        m_bits=1 << 16, n_hashes=5,
    )
    bloom.append_bloom_shard(
        keys.filter(F.col("doc_id") % 2 == 1), "text", "demo_bloom"
    )
    # deletion verb (round 15): a Bloom cannot unset bits, so deletion
    # is a REBUILD from the authority key set — now on the same atomic
    # generational cutover as the MinHash/ANN stores (a streaming
    # trigger racing the rebuild aborts it loudly instead of losing
    # its keys at the flip)
    bloom.rebuild_bloom_store(
        spark, keys.filter(F.col("doc_id") % 4 != 2), "text", "demo_bloom"
    )
    print(f"bloom store generation after rebuild: "
          f"{store_generation(spark, 'demo_bloom')}")
    filt = bloom.read_bloom_store(spark, "demo_bloom")
    hits = bloom.bloom_might_contain(keys, "text", filt).where(
        F.col("might_contain")
    )
    print(f"bloom-positive docs after rebuild-with-deletions: "
          f"{hits.count()} of {keys.count()}")

    print("== continuous ingest (streaming) ==")
    import tempfile

    from polars_text_spark.streaming.dedup import read_docs_stream
    from polars_text_spark.streaming.ingest import stream_into_minhash_store

    tmp = tempfile.mkdtemp()
    drops = (
        docs.select(
            "doc_id", "text", "lang", "source",
            F.current_timestamp().alias("ingest_ts"),
        )
    )
    # two shard drops; the second REDELIVERS half of the first
    drops.filter(F.col("doc_id") % 2 == 0).repartition(1).write.mode(
        "append"
    ).parquet(f"{tmp}/drops")
    drops.filter(
        (F.col("doc_id") % 2 == 1) | (F.col("doc_id") % 4 == 0)
    ).repartition(1).write.mode("append").parquet(f"{tmp}/drops")
    q = stream_into_minhash_store(
        read_docs_stream(spark, f"{tmp}/drops", max_files_per_trigger=1),
        "demo_mh_stream",
        checkpoint_dir=f"{tmp}/ck",
        buckets=4,
        available_now=True,
    )
    q.awaitTermination(180)
    n = spark.table("demo_mh_stream_shingles").count()
    print(f"streamed store holds {n} docs "
          f"(= corpus {drops.count()}: redelivered ids were dropped)")
    print(f"pairs over streamed store: "
          f"{dedup_store.pairs_from_store(spark, 'demo_mh_stream').count()}")


if __name__ == "__main__":
    main()
