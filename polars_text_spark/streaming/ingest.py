"""Continuous crawl ingest into the bucketed MinHash and ANN stores
(Structured Streaming ``foreachBatch`` + the id-keyed store protocol
of ``sources/bucketing.py``, which both stores share).

The production shape at 100 TB: a crawler drops document shards into
a directory all day; the dedup store must grow with them so tonight's
near-dup pass (or the next shard's incremental pairing) sees this
morning's crawl. Running ``write_minhash_store`` nightly re-shingles
and re-shuffles the whole standing corpus; micro-batch appends cost
O(new shard) each.

Delivery semantics: ``foreachBatch`` is at-least-once — a batch can
be REDELIVERED after a driver restart, and a crawl stream can also
redeliver the same document in two different batches. The batch-raise
contract of ``append_minhash_shard`` (duplicate id = caller bug) is
therefore wrong here; instead every batch is filtered to its NOVEL
ids and only the remainder appends — redelivery becomes a no-op, not
a poison pill. Both faces read one id verdict
(``IdKeyedStore._verdict``): the batch gate raises on a row it tags,
the sink drops it.

Both sinks run ONE body, ``IdKeyedStore.sink`` in
``sources/bucketing.py``, which hands that LAZY filtered frame
straight to the same append body the batch ``append_*_shard`` uses: no
separate novelty job runs. The batch is exchanged once, by id into the
store's bucket count; the dedup, the verdict's sort-merge join against
the id-bucketed store and the id-table write all reuse that
partitioning.
The append body pins its input with a lazy local checkpoint that fills
during the bands write, so the filter runs once, against the store as
it stood before the batch; a redelivered batch appends zero rows and
writes no files. The store's meta log is read through a
file-set-stamped memo (``bucketing.read_meta``), so the append gate
and the post-write generation check run no job while no maintenance op
has written it, and the MinHash bands are derived row-wise from the
one-row-per-id stage: a novel MinHash or ANN micro-batch runs 4 Spark
jobs, the id exchange, the bands exchange and the two table writes
(one more when the meta log changed since the last read). The write
order that makes a crash between the two table writes safe to
redeliver is defined once, on that append body. Rows with a null id
are dropped like rows with a null payload: a null id never matches a
stored one, so it would append again on every delivery. A store whose
tables exist without a meta table (a crashed bootstrap, or a pre-meta
store) is refused like the batch append refuses it, never
re-bootstrapped over its standing rows.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "ann_ingest_batch",
    "bloom_ingest_batch",
    "minhash_ingest_batch",
    "stream_into_ann_store",
    "stream_into_bloom_store",
    "decontam_gate_batch",
    "stream_decontaminated_corpus",
    "stream_into_minhash_store",
    "stream_topk_against_store",
    "stream_web_gated_corpus",
    "topk_serve_batch",
    "web_gate_batch",
]


def _start(frame: DataFrame, sink, checkpoint_dir: str, available_now: bool):
    """Attach ``sink`` as the ``foreachBatch`` function of the
    streaming ``frame`` and start it. ``available_now=True`` drains
    everything currently in the source and stops; otherwise the query
    runs continuously. Returns the StreamingQuery."""
    writer = (
        frame.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(sink)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def minhash_ingest_batch(
    name: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    buckets: int = 8,
):
    """A ``foreachBatch`` function ``(batch_df, batch_id) -> None``
    that grows the MinHash store ``name`` by the batch's novel ids
    (the shared sink body, ``IdKeyedStore.sink``). A batch into an
    absent store bootstraps it with the given signature parameters;
    every later batch passes the batch append's gate — the recorded
    meta (parameters can never drift mid-stream) and its shingle hash
    family."""
    from polars_text_spark.operators.dedup_store import (
        MINHASH_STORE,
        write_minhash_store,
    )

    return MINHASH_STORE.sink(
        name, id_col=id_col, payload_col=text_col,
        bootstrap=partial(
            write_minhash_store, name=name, text_col=text_col, id_col=id_col,
            num_perm=num_perm, bands=bands, shingle_n=shingle_n, buckets=buckets,
        ),
    )


def stream_into_minhash_store(
    docs: DataFrame,
    name: str,
    *,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    buckets: int = 8,
    available_now: bool = False,
):
    """Attach the ingest sink to a streaming document frame and start
    it. ``available_now=True`` drains everything currently in the
    source and stops — the catch-up / backfill mode; the default runs
    continuously as new shards land. Returns the StreamingQuery."""
    return _start(
        docs,
        minhash_ingest_batch(
            name,
            text_col=text_col,
            id_col=id_col,
            num_perm=num_perm,
            bands=bands,
            shingle_n=shingle_n,
            buckets=buckets,
        ),
        checkpoint_dir,
        available_now,
    )


def ann_ingest_batch(
    name: str,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int,
    num_planes: int = 16,
    bands: int = 4,
    buckets: int = 8,
):
    """``foreachBatch`` sink growing the ANN store ``name`` by each
    batch's novel ids — the same sink body as
    :func:`minhash_ingest_batch`. Dimensionality is validated per
    batch, in-plan by the append body (a wrong-dim drop would null-pad
    into degenerate band keys: silent recall 0)."""
    from polars_text_spark.operators.ann_store import ANN_STORE, write_ann_store

    return ANN_STORE.sink(
        name, id_col=id_col, payload_col=vec_col,
        bootstrap=partial(
            write_ann_store, name=name, id_col=id_col, vec_col=vec_col,
            dim=dim, num_planes=num_planes, bands=bands, buckets=buckets,
        ),
    )


def stream_into_ann_store(
    vectors: DataFrame,
    name: str,
    *,
    checkpoint_dir: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int,
    num_planes: int = 16,
    bands: int = 4,
    buckets: int = 8,
    available_now: bool = False,
):
    """Attach the ANN ingest sink to a streaming vector frame and
    start it (see :func:`stream_into_minhash_store`)."""
    return _start(
        vectors,
        ann_ingest_batch(
            name,
            vec_col=vec_col,
            id_col=id_col,
            dim=dim,
            num_planes=num_planes,
            bands=bands,
            buckets=buckets,
        ),
        checkpoint_dir,
        available_now,
    )


def topk_serve_batch(
    name: str,
    out_path: str,
    *,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int,
    num_planes: int = 16,
    bands: int = 4,
    exclude_self: bool = True,
):
    """``foreachBatch`` function serving ANN queries CONTINUOUSLY
    against the standing store: each micro-batch of query vectors is
    scored with ``operators.ann_store.topk_from_store`` (band-key
    equi-join candidates — store side Exchange-free on its buckets —
    plus the exact-cosine re-rank) and the per-query top-k lands in a
    parquet result log at ``out_path``.

    The serving twin of the ingest sinks above: ingest grows the store
    as shards land, this scores a query stream against whatever the
    store holds AT EACH TRIGGER — the standard shape for continuous
    retrieval evaluation or near-real-time dedup lookups. foreachBatch
    because the verdict aggregates (candidate dedup + the rank
    window); the BATCH operator runs verbatim per bounded micro-batch,
    so stream==batch parity is structural. Exactly-once via dynamic
    partition overwrite keyed on ``__serve_batch`` (the
    ``web_gate_batch`` recipe: redelivery rewrites its own partition,
    O(batch) per trigger, provenance for free). Tombstoned ids are
    excluded at read time like every store read, so deletions take
    effect at the NEXT trigger without restarting the stream."""
    from polars_text_spark.operators.ann_store import topk_from_store

    def serve(batch_df: DataFrame, batch_id: int) -> None:
        hits = topk_from_store(
            batch_df.sparkSession,
            name,
            batch_df,
            k=k,
            id_col=id_col,
            vec_col=vec_col,
            dim=dim,
            num_planes=num_planes,
            bands=bands,
            exclude_self=exclude_self,
        )
        (
            hits.withColumn("__serve_batch", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("__serve_batch")
            .parquet(out_path)
        )

    return serve


def stream_topk_against_store(
    queries: DataFrame,
    name: str,
    out_path: str,
    *,
    checkpoint_dir: str,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int,
    num_planes: int = 16,
    bands: int = 4,
    exclude_self: bool = True,
    available_now: bool = False,
):
    """Attach the ANN serving sink to a streaming query-vector frame
    and start it (see :func:`topk_serve_batch`). Returns the
    StreamingQuery."""
    return _start(
        queries,
        topk_serve_batch(
            name,
            out_path,
            k=k,
            id_col=id_col,
            vec_col=vec_col,
            dim=dim,
            num_planes=num_planes,
            bands=bands,
            exclude_self=exclude_self,
        ),
        checkpoint_dir,
        available_now,
    )


def web_gate_batch(
    rules: DataFrame,
    blocklist: DataFrame,
    out_path: str,
    *,
    agent: str = "*",
    url_col: str = "target_uri",
):
    """``foreachBatch`` function running the crawl-compliance gates —
    robots.txt verdict, then domain-blocklist verdict — on each
    micro-batch of crawled pages and appending the surviving rows to a
    curated parquet corpus at ``out_path``. The streaming twin of
    examples/web_ingest.py's batch shape: a real crawl pipeline is
    streaming-first, and these gates are its first two stages.

    Why foreachBatch and not a plain stream transformation: both
    verdicts aggregate (robots computes one verdict per DISTINCT
    (domain, path) key; the blocklist dedups its matched-id set), and
    unwatermarked aggregations are illegal in an append-mode stream.
    Inside foreachBatch each micro-batch is a bounded DataFrame, so
    the BATCH operators run verbatim — stream==batch parity is
    structural, not re-implemented (pinned by
    tests/test_streaming_web_gates.py).

    Delivery semantics: output is partitioned by ``__ingest_batch``
    and written with DYNAMIC partition overwrite, so a redelivered
    batch (at-least-once foreachBatch) rewrites exactly its own
    partition — idempotent, O(batch) per trigger. The standing-corpus
    anti-join the store sinks use would also work but costs a standing
    scan per trigger; a provenance batch column is the cheaper
    exactly-once for a plain corpus sink (and useful lineage anyway).

    ``rules`` is a PARSED robots frame (``operators.robots.
    parse_robots`` output) and ``blocklist`` a ``pattern`` frame —
    both config-scale, captured once and reused every trigger; the
    robots join broadcasts rules, the blocklist probe broadcasts
    patterns, so per batch the only shuffles are the slim
    (domain, path) verdict keys."""
    from polars_text_spark.operators.robots import robots_verdict
    from polars_text_spark.operators.web import blocklist_verdict

    def gate(batch_df: DataFrame, batch_id: int) -> None:
        gated = robots_verdict(
            batch_df, rules, agent=agent, url_col=url_col
        )
        allowed = gated.filter(F.col("allowed")).drop(
            "allowed", "matched_prefix", "path"
        )
        screened = blocklist_verdict(
            allowed, blocklist, domain_col="domain", id_col=url_col
        )
        clean = screened.filter(~F.col("blocked")).drop("blocked", "domain")
        (
            clean.withColumn("__ingest_batch", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("__ingest_batch")
            .parquet(out_path)
        )

    return gate


def stream_web_gated_corpus(
    pages: DataFrame,
    rules: DataFrame,
    blocklist: DataFrame,
    out_path: str,
    *,
    checkpoint_dir: str,
    agent: str = "*",
    url_col: str = "target_uri",
    available_now: bool = False,
):
    """Attach the web-compliance gate sink to a streaming page frame
    (e.g. ``streaming.warc.read_warc_stream`` ->
    ``sources.warc.warc_text_documents``, both stateless and therefore
    stream-composable) and start it. Returns the StreamingQuery."""
    return _start(
        pages,
        web_gate_batch(
            rules, blocklist, out_path, agent=agent, url_col=url_col
        ),
        checkpoint_dir,
        available_now,
    )


def decontam_gate_batch(
    benchmark: DataFrame,
    out_path: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 4,
    max_shared_shingles: int = 0,
    keep_flags: bool = False,
):
    """``foreachBatch`` function running benchmark DECONTAMINATION on
    each micro-batch of crawled documents — the third stage of the
    streaming crawl pipeline (after :func:`web_gate_batch`'s robots +
    blocklist verdicts): rows sharing more than
    ``max_shared_shingles`` distinct word ``n``-grams with the held-out
    benchmark are dropped before they can enter the training corpus.

    The benchmark frame is static and config-scale by construction (a
    test set, not a corpus) — captured once, its exploded shingle set
    broadcast per trigger exactly like the batch operator
    (``operators.decontam.ngram_contamination`` runs verbatim inside
    the bounded micro-batch, so stream==batch parity is structural;
    foreachBatch because the per-doc collision counts aggregate).
    Survivors append exactly-once via dynamic partition overwrite on
    ``__ingest_batch`` (the established recipe). ``keep_flags=True``
    writes ALL rows with their collision counts instead of dropping —
    the audit mode."""
    from polars_text_spark.operators.decontam import ngram_contamination

    def gate(batch_df: DataFrame, batch_id: int) -> None:
        hits = ngram_contamination(
            batch_df, benchmark, text_col, id_col, n=n
        )
        flagged = batch_df.join(hits, id_col, "left").withColumn(
            "n_shared_shingles",
            F.coalesce(F.col("n_shared_shingles"), F.lit(0)),
        )
        if keep_flags:
            out = flagged.drop("n_bench_docs")
        else:
            out = flagged.filter(
                F.col("n_shared_shingles") <= max_shared_shingles
            ).drop("n_shared_shingles", "n_bench_docs")
        (
            out.withColumn("__ingest_batch", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("__ingest_batch")
            .parquet(out_path)
        )

    return gate


def stream_decontaminated_corpus(
    docs: DataFrame,
    benchmark: DataFrame,
    out_path: str,
    *,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 4,
    max_shared_shingles: int = 0,
    keep_flags: bool = False,
    available_now: bool = False,
):
    """Attach the decontamination gate sink to a streaming document
    frame and start it (see :func:`decontam_gate_batch`)."""
    return _start(
        docs,
        decontam_gate_batch(
            benchmark,
            out_path,
            text_col=text_col,
            id_col=id_col,
            n=n,
            max_shared_shingles=max_shared_shingles,
            keep_flags=keep_flags,
        ),
        checkpoint_dir,
        available_now,
    )


def bloom_ingest_batch(
    name: str,
    *,
    key_col: str = "text",
    m_bits: int = 1 << 20,
    n_hashes: int = 7,
    seed: int = 0,
):
    """A ``foreachBatch`` function growing the Bloom store ``name``
    by each batch's keys — the streaming "seen keys" ledger (crawl
    frontier, processed-id gate).

    First batch bootstraps the store with the given parameters; every
    later batch appends under the RECORDED meta (parameters cannot
    drift mid-stream). Idempotence under at-least-once delivery is
    structural here, stronger than the id-keyed stores' dedup logic:
    re-delivering a batch re-ORs exactly the same bits, so no id gate
    is needed at all.

    A ``rebuild_bloom_store`` cutover racing a trigger is detected in
    EVERY interleaving (rounds 15-16, three checks): the rebuild's
    pre-flip file re-list aborts it when a trigger OR'd bits in
    during the window; the trigger's own post-write generation check
    raises conservatively when it completes after the flip; and a
    trigger that lands entirely inside the re-list→flip gap is caught
    by the rebuild's POST-flip audit (old generation preserved — see
    :func:`rebuild_bloom_store`). In all three cases the stream's
    at-least-once restart re-ORs the batch into the surviving
    generation (idempotent in both worlds); pausing the stream across
    rebuilds remains the operationally clean choice.
    """
    from polars_text_spark.operators.bloom import (
        append_bloom_shard,
        write_bloom_store,
    )

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if not spark.catalog.tableExists(f"{name}_meta"):
            write_bloom_store(
                batch_df,
                key_col,
                name,
                m_bits=m_bits,
                n_hashes=n_hashes,
                seed=seed,
            )
        else:
            append_bloom_shard(batch_df, key_col, name)

    return ingest


def stream_into_bloom_store(
    docs: DataFrame,
    name: str,
    *,
    checkpoint_dir: str,
    key_col: str = "text",
    m_bits: int = 1 << 20,
    n_hashes: int = 7,
    seed: int = 0,
    available_now: bool = False,
):
    """Attach the Bloom ingest sink to a streaming frame and start
    it. Size ``m_bits`` for the EVENTUAL key count (a Bloom cannot
    grow; over-filling raises the realized fpp, never breaks
    correctness — no false negatives regardless)."""
    return _start(
        docs,
        bloom_ingest_batch(
            name,
            key_col=key_col,
            m_bits=m_bits,
            n_hashes=n_hashes,
            seed=seed,
        ),
        checkpoint_dir,
        available_now,
    )
