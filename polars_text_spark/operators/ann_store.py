"""Bucketed ANN store: similarity search without re-shuffling the corpus.

The vector-search twin of :mod:`polars_text_spark.operators.dedup_store`.
At 100 TB the corpus side of every ANN query is write-once state: LSH
band keys and unit-normalized vectors only change when the corpus does.
Persisting them ONCE as bucketed tables means

- **repeated queries** (every new query batch, threshold tuning) join
  the tiny query side against the standing band table — the store side
  reads co-located buckets with NO Exchange (plan-asserted);
- the exact-cosine re-rank joins candidates against the unit-vector
  table bucketed by id — again shuffle-free on the corpus side;
- the band keys are the sha-derived deterministic planes
  (:func:`polars_text_spark.operators.similarity.sha_band_keys`), so
  store contents are reproducible and auditable across engines.

Store layout (two bucketed catalog tables + the meta pointer):
``<name>_bands(id, band_key string)`` bucketed+sorted by ``band_key``;
``<name>_vectors(id, u array<double>)`` bucketed+sorted by ``id``.
Signature parameters are embedded at write time; pass the same ones at
query time. Since round 14 the PHYSICAL table names are generational
(``<name>_bands_g1`` after the first maintenance rewrite) and
``<name>_meta`` is the atomic pointer — resolve through
``sources.bucketing.live_table`` (``_phys`` here) instead of
hardcoding names (see :mod:`polars_text_spark.operators.dedup_store`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from polars_text_spark.operators.similarity import (
    dot,
    rank_topk,
    sha_band_keys,
    with_l2_normalized,
)
from polars_text_spark.sources.bucketing import (
    check_generation_unchanged as _check_generation_unchanged,
    clear_table,
    live_table as _phys,
    meta_gen,
    minus_tombstones as _minus_tombstones,
    phys_table,
    pooled_writes,
    read_meta,
    probe_id_clash,
    read_tombstones as _tombstones,
    rewrite_generation,
    snapshot_rewrite,
    sweep_stale_generations,
    tombstone_ids,
    write_bucketed,
    write_meta_row,
)

__all__ = [
    "append_ann_shard",
    "band_stats_from_ann_store",
    "delete_ids",
    "purge_deleted",
    "rebucket_store",
    "topk_against_shard",
    "topk_from_store",
    "write_ann_store",
]

_SUFFIXES = ("bands", "vectors")


def write_ann_store(
    vectors: DataFrame,
    name: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int,
    num_planes: int = 16,
    bands: int = 4,
    buckets: int = 8,
) -> None:
    """Materialize ``<name>_bands`` and ``<name>_vectors`` bucketed
    tables for ``vectors`` (one pass over the vectors each). A fresh
    write is generation 0 (unsuffixed physical names); physical tables
    a previous store of the same name left behind — including suffixed
    maintenance generations — are swept first."""
    spark = vectors.sparkSession
    # current_gen=-1 matches no table: drop ALL generations
    sweep_stale_generations(spark, name, _SUFFIXES, -1)
    banded, unit = _shard_projections(
        vectors,
        id_col=id_col,
        vec_col=vec_col,
        dim=dim,
        num_planes=num_planes,
        bands=bands,
    )
    # The two table writes are independent projections of the same
    # input, so they overlap (pooled_writes). A fresh write is
    # generation 0 and nothing reads the store mid-write, so commit
    # order between the two tables carries no crash contract (unlike
    # append, which stays bands-first).
    pooled_writes(spark, [
        lambda: write_bucketed(
            banded, f"{name}_bands", bucket_by="band_key",
            buckets=buckets, sort_by="band_key",
        ),
        lambda: write_bucketed(
            unit, f"{name}_vectors", bucket_by="id",
            buckets=buckets, sort_by="id",
        ),
    ])
    # a rebuild starts a NEW store generation: tombstones from the
    # previous generation would silently delete rows from the fresh
    # store at read time and block re-appending their ids
    clear_table(spark, f"{name}_tombstones")
    # signature parameters ride with the store so a query-time mismatch
    # (whose band keys could NEVER collide -> silent recall-0) fails
    # loudly; buckets rides too so incremental appends reuse the
    # write-time bucket spec (a mismatched append would break the
    # shuffle-free co-location guarantee). A fresh store starts a new
    # meta log at generation 0.
    meta = spark.createDataFrame(
        [(int(dim), int(num_planes), int(bands), int(buckets), 0)],
        "dim int, num_planes int, bands int, buckets int, gen int",
    )
    write_meta_row(spark, meta, f"{name}_meta", reset=True)


def _shard_projections(
    shard: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    dim: int,
    num_planes: int,
    bands: int,
) -> tuple[DataFrame, DataFrame]:
    """(banded, unit) frames of vectors under the store's signature —
    the two tables :func:`write_ann_store` and every append write."""
    base = shard.where(F.col(vec_col).isNotNull())
    banded = base.select(
        F.col(id_col).alias("id"),
        F.explode(
            sha_band_keys(
                F.col(vec_col), dim=dim, num_planes=num_planes, bands=bands
            )
        ).alias("band_key"),
    )
    unit = with_l2_normalized(
        base.select(F.col(id_col).alias("id"), vec_col), vec_col, "u"
    ).select("id", "u")
    return banded, unit


def _store_meta(
    spark: SparkSession, name: str, *, require_buckets: bool = True
) -> tuple[int, int, int, int | None, int]:
    """(dim, num_planes, bands, buckets, gen) from ONE meta read —
    callers that also need the generation must not pay a second
    meta-log collect (round 16: it was one extra driver job per store
    read/append)."""
    m = read_meta(spark, name)
    if m is None:
        raise ValueError(
            f"ann store '{name}' has no meta table; (re)create it "
            "with write_ann_store"
        )
    has_buckets = "buckets" in m.asDict()
    if require_buckets and not has_buckets:
        raise ValueError(
            f"ann store '{name}' predates incremental ingest (its meta "
            "lacks the bucket count); rewrite it with write_ann_store "
            "before appending shards"
        )
    return (
        int(m["dim"]),
        int(m["num_planes"]),
        int(m["bands"]),
        int(m["buckets"]) if has_buckets else None,
        meta_gen(m),
    )


def band_stats_from_ann_store(
    spark: SparkSession, name: str, *, band_cap: int | None = 1000
) -> DataFrame:
    """Bucket-cardinality audit of the standing ANN band table — the
    vector twin of :func:`polars_text_spark.operators.dedup_store.
    band_stats_from_store`. Under-provisioned ``(num_planes, bands)``
    on a grown corpus is exactly the degenerate candidate-fan-out
    regime the re-rank router guards (``rerank="auto"``, SCALING.md
    round-13): run this after appends; when ``max_bucket_size``
    approaches corpus/2^bits-per-band the store wants a rebuild at
    wider planes, and until then queries want ``rerank="arrow"``.
    One groupBy on the band table's own key (no Exchange on the store
    side), tombstones respected. ANN bands carry no signature-group
    column, so the cross-signature telemetry columns are null — the
    saturation counts are the actionable part here."""
    from polars_text_spark.operators.dedup import band_bucket_stats

    banded = _minus_tombstones(
        spark.table(_phys(spark, name, "bands")), _tombstones(spark, name)
    )
    return band_bucket_stats(banded, ["band_key"], band_cap=band_cap)


def rebucket_store(spark: SparkSession, name: str, new_buckets: int) -> None:
    """Rewrite BOTH store tables under a new bucket count — the
    lifecycle step :func:`write_ann_store` freezing ``buckets`` at
    write time makes necessary: a store that grows 100x through
    :func:`append_ann_shard` keeps its write-time bucket count, so
    every co-located read and compaction task scales with
    corpus/buckets. One rewrite shuffle per table (the compaction pass
    it also is — append fragments merge for free), then the meta row
    is updated so subsequent appends write at the new count.

    Signature parameters, contents, and pending tombstones are all
    preserved: band keys don't depend on the bucket count, the
    rewrite carries tombstoned rows through (reads keep anti-joining
    the tombstone table until :func:`purge_deleted`), and the answer
    to every query is bit-identical before and after (parity-tested;
    ``ann_store_rebucket`` pins it under the driver hash).

    Sizing guidance (SCALING.md): target ~store_rows/new_buckets rows
    per bucket task at the CURRENT corpus size times expected growth
    until the next maintenance window — re-bucketing is one shuffle,
    under-bucketing taxes every read until the next one.

    Atomic and race-checked: see
    :func:`polars_text_spark.sources.bucketing.rewrite_generation`."""
    m = read_meta(spark, name)
    if m is None:
        raise ValueError(
            f"ann store '{name}' has no meta table; (re)create it "
            "with write_ann_store"
        )
    rewrite_generation(
        spark,
        name,
        _SUFFIXES,
        m,
        snapshot_rewrite(spark, buckets=new_buckets),
        changes={"buckets": int(new_buckets)},
    )


def delete_ids(ids: DataFrame, name: str, *, id_col: str = "vec_id") -> None:
    """Logical deletion (right-to-be-forgotten / recrawled-domain
    purge) WITHOUT rewriting the store: append the ids to the
    ``<name>_tombstones`` table. Every read path anti-joins the
    tombstone set from then on; :func:`purge_deleted` later folds the
    tombstones into the files (one compaction pass) instead of a
    per-deletion store rewrite — O(batch) deletes, amortized O(store)
    physical reclaim.

    Contract: a tombstoned id cannot be re-appended until
    :func:`purge_deleted` runs (append rejects ids in store ∪
    tombstones) — otherwise the read-time anti-join would silently
    swallow the re-ingested row."""
    tombstone_ids(ids, name, id_col=id_col)


def purge_deleted(spark: SparkSession, name: str) -> None:
    """Fold the tombstone set into the store files: rewrite both
    bucketed tables with the tombstones anti-joined away, then clear
    the tombstone table. After this the store is byte-equivalent to
    one rebuilt from the filtered corpus (parity-tested) and
    re-appending previously-deleted ids becomes legal again. Atomic
    and race-checked: see
    :func:`polars_text_spark.sources.bucketing.rewrite_generation`;
    the tombstone clear happens AFTER the cutover, so a crash between
    the two leaves reads correct (the anti-join of already-purged ids
    is a no-op). A store without a meta table is refused, tombstones
    and rows left in place."""
    ts = _tombstones(spark, name)
    if ts is None:
        return
    m = read_meta(spark, name)
    if m is None:
        raise ValueError(
            f"ann store '{name}' has no meta table; rewrite it with "
            "write_ann_store from its live rows instead of purging in "
            "place"
        )
    ts = ts.localCheckpoint(eager=True)  # survives the table drops below
    rewrite_generation(spark, name, _SUFFIXES, m, snapshot_rewrite(spark, anti=ts))
    clear_table(spark, f"{name}_tombstones")


def append_ann_shard(
    shard: DataFrame,
    name: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incremental ingest: append a NEW shard's band keys and unit
    vectors into the standing store tables (the ANN twin of
    :func:`polars_text_spark.operators.dedup_store.incremental_pairs_from_store`'s
    write half).

    Signature parameters are read from the store meta — they CANNOT
    legitimately differ (a shard banded under different planes would
    never collide with standing keys), so there is nothing to pass and
    nothing to get wrong. The append reuses the write-time bucket spec:
    Spark adds new bucket files per bucket id, the standing files are
    untouched (no table rewrite), and subsequent store-side joins still
    read every bucket co-located with NO Exchange. Only the (small)
    shard shuffles — once, at write time, into its bucket files.

    Contract: shard ids must be DISJOINT from store ids — enforced
    with a limit-1 semi-join probe (the shard probes the id-bucketed
    vector table, nothing store-sized is broadcast) before any
    write, because a duplicated id would
    silently double its rows in both tables and burn top-k rank slots
    with duplicate candidates on every later query.
    """
    spark = shard.sparkSession
    # dimensionality is guarded IN-PLAN by sha_band_keys (round 16):
    # the former pre-flight scan was a full extra pass over the shard
    meta = _store_meta(spark, name)
    clash = probe_id_clash(
        shard,
        # the meta tuple ends with the generation the append writes to
        spark.table(phys_table(name, "vectors", meta[-1])),
        _tombstones(spark, name),
        id_col=id_col,
    )
    if clash is not None:
        raise ValueError(
            f"shard id {clash!r} already exists in ann store "
            f"'{name}'; appending would silently duplicate its rows in "
            "the bands/vectors tables and corrupt later top-k results "
            "(the incremental-ingest contract requires disjoint ids)"
        )
    _append_rows(shard, name, meta, id_col=id_col, vec_col=vec_col)


def _append_rows(
    rows: DataFrame,
    name: str,
    meta: tuple[int, int, int, int, int],
    *,
    id_col: str,
    vec_col: str,
) -> None:
    """Append ``rows`` (ids already proven new to the store) under
    ``meta`` from :func:`_store_meta` — the one append body behind
    :func:`append_ann_shard` and the streaming sink
    (``streaming.ingest.ann_ingest_batch``).

    Write order is BANDS FIRST, vectors last, and both callers decide
    an id's presence on the VECTORS table. A crash between the two
    writes leaves band rows whose ids still read as new, so the retry
    re-appends them: duplicate band collisions are dropDuplicates'd by
    every read path, while a duplicate unit-vector row would duplicate
    (query, neighbor) rows in the exact re-rank. The post-write
    generation check fails the append loudly when a maintenance
    cutover raced it."""
    dim, num_planes, bands, buckets, gen_at_start = meta
    # A LAZY local checkpoint, as in the MinHash append body: it fills
    # during the bands write and feeds the vectors write, so the
    # streaming sink's lazy novelty filter (bucketing.novel_rows) runs
    # exactly once, before any vector row lands. Appended rows are the
    # small side by contract, so the pin is bounded.
    rows = rows.select(id_col, vec_col).localCheckpoint(eager=False)
    banded, unit = _shard_projections(
        rows,
        id_col=id_col,
        vec_col=vec_col,
        dim=dim,
        num_planes=num_planes,
        bands=bands,
    )
    write_bucketed(
        banded,
        phys_table(name, "bands", gen_at_start),
        bucket_by="band_key",
        buckets=buckets,
        sort_by="band_key",
        mode="append",
    )
    write_bucketed(
        unit,
        phys_table(name, "vectors", gen_at_start),
        bucket_by="id",
        buckets=buckets,
        sort_by="id",
        mode="append",
    )
    _check_generation_unchanged(rows.sparkSession, name, gen_at_start)


def topk_against_shard(
    spark: SparkSession,
    name: str,
    shard: DataFrame,
    *,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """Top-``k`` neighbors of a NEW shard's vectors over the standing
    store PLUS the shard itself — the full-corpus answer an ingest
    pipeline needs BEFORE (or without) committing
    :func:`append_ann_shard`. Returns ``(query_id, neighbor_id, cosine,
    rank)``, value-identical to
    :func:`polars_text_spark.operators.similarity.cosine_topk_lsh_sha`
    over ``store ∪ shard`` with the shard as queries (tested).

    Scale shape: the store's band and vector tables read their buckets
    in place (no Exchange above either store scan, plan-asserted); only
    the shard's two small projections shuffle, and the shard-internal
    candidate join broadcasts the shard bands.

    Contract: shard ids must be DISJOINT from store ids (the
    incremental-ingest invariant — same stance as
    ``incremental_pairs_from_store``). Shard rows are deduplicated on
    ``id_col`` (as queries and as neighbors), so a repeated row does
    not repeat a neighbor across ranks; rows sharing an id must carry
    the same vector (one of them is kept). Call this before
    :func:`append_ann_shard`; after the append, :func:`topk_from_store`
    answers over the grown store directly.
    """
    # read-only: works on pre-bucket-meta stores too
    dim, num_planes, bands, _, __gen = _store_meta(
        spark, name, require_buckets=False
    )
    # wrong-dim shards fail loudly inside sha_band_keys (in-plan
    # guard, round 16) when the banding projection first runs
    banded, unit = _shard_projections(
        shard,
        id_col=id_col,
        vec_col=vec_col,
        dim=dim,
        num_planes=num_planes,
        bands=bands,
    )
    unit = unit.dropDuplicates(["id"])
    q_bands = banded.select(F.col("id").alias("query_id"), "band_key")
    qunit = unit.select(
        F.col("id").alias("query_id"), F.col("u").alias("__qvec")
    )
    __ts = _tombstones(spark, name)
    # __gen came from the same meta read as the signature params —
    # one collect resolves everything (round 16)
    store_bands = _minus_tombstones(
        spark.table(phys_table(name, "bands", __gen)), __ts
    ).select(F.col("id").alias("neighbor_id"), "band_key")
    shard_bands = banded.select(
        F.col("id").alias("neighbor_id"), "band_key"
    )
    # Slim candidate stream + neighbor-keyed dedup (round 17) — same
    # restructure as topk_from_store: no vector payload rides the
    # candidate exchanges, the dedup keying doubles as the re-rank
    # join keying, and the query vectors re-attach after the dedup
    # (this also deletes the former upfront banded-x-unit join that
    # carried __qvec into the candidate generation).
    cands = (
        store_bands.join(q_bands, "band_key")
        .unionByName(q_bands.join(F.broadcast(shard_bands), "band_key"))
        .select("query_id", "neighbor_id")
        .repartition(F.col("neighbor_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    if exclude_self:
        cands = cands.filter(F.col("neighbor_id") != F.col("query_id"))
    neighbors = (
        _minus_tombstones(spark.table(phys_table(name, "vectors", __gen)), __ts)
        .unionByName(unit)
        .select(F.col("id").alias("neighbor_id"), F.col("u").alias("__vvec"))
    )
    scored = (
        cands.join(neighbors, "neighbor_id")
        .join(qunit, "query_id")
        .select(
            "query_id",
            "neighbor_id",
            dot(F.col("__qvec"), F.col("__vvec")).alias("cosine"),
        )
    )
    return rank_topk(scored, k)


def topk_from_store(
    spark: SparkSession,
    name: str,
    queries: DataFrame,
    *,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int,
    num_planes: int = 16,
    bands: int = 4,
    exclude_self: bool = True,
) -> DataFrame:
    """Top-``k`` neighbors of ``queries`` against the standing store:
    band-key equi-join candidates (store side shuffle-free), exact
    cosine re-rank against the bucketed unit-vector table. Returns
    ``(query_id, neighbor_id, cosine, rank)`` — value-identical to
    :func:`polars_text_spark.operators.similarity.cosine_topk_lsh_sha`
    over the same corpus (tested). Raises if (dim, num_planes, bands)
    differ from the store's write-time parameters. Query rows are
    deduplicated on ``id_col``, so a repeated query row does not repeat
    a neighbor across ranks; rows sharing an id must carry the same
    vector (one of them is kept).

    Re-rank routing note: the store path always uses the expression
    re-rank. The Arrow route (``rerank="arrow"`` on the in-flight
    operators) re-normalizes RAW vectors inside the fold scorer; the
    store persists ALREADY-normalized ``u`` vectors, and re-normalizing
    them shifts last-ulp bits — breaking the bit-identity contract the
    store's parity tests and driver hashes pin. When a grown store
    shows degenerate candidate fan-out, the supported mitigations are
    :func:`band_stats_from_ann_store` (detect) plus a rebuild at wider
    ``num_planes`` (re-provision) or :func:`rebucket_store` for read
    parallelism — see SCALING.md round-13."""
    m = read_meta(spark, name)
    if m is None:
        raise ValueError(
            f"ann store '{name}' has no meta table; (re)create it "
            "with write_ann_store"
        )
    if (m["dim"], m["num_planes"], m["bands"]) != (dim, num_planes, bands):
        raise ValueError(
            f"ann store '{name}' was written with dim={m['dim']}, "
            f"num_planes={m['num_planes']}, bands={m['bands']}; query-time "
            f"parameters (dim={dim}, num_planes={num_planes}, "
            f"bands={bands}) would produce band keys that can never "
            "collide with the store"
        )
    # generation from the SAME meta row — no second meta-log collect
    __gen = meta_gen(m)
    # wrong-dim queries fail loudly inside sha_band_keys (in-plan
    # guard, round 16) when the banding projection first runs
    base = queries.where(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("query_id"), vec_col
    )
    qunit = with_l2_normalized(base, vec_col, "__qvec").select(
        "query_id", "__qvec"
    ).dropDuplicates(["query_id"])
    q_bands = base.select(
        "query_id",
        F.explode(
            sha_band_keys(
                F.col(vec_col), dim=dim, num_planes=num_planes, bands=bands
            )
        ).alias("band_key"),
    )
    __ts = _tombstones(spark, name)
    store_bands = _minus_tombstones(
        spark.table(phys_table(name, "bands", __gen)), __ts
    ).select(F.col("id").alias("neighbor_id"), "band_key")
    # Candidate dedup folded into the re-rank keying (round 17,
    # VERDICT r16 #6 + guide §2.3/§2.4): the candidate stream carries
    # ONLY (query_id, neighbor_id) — the query vector no longer rides
    # every band collision through the dedup exchange — and the dedup
    # is hash-partitioned on neighbor_id (a subset of the dedup keys,
    # so the clustering requirement still holds) at the store's bucket
    # count, which is exactly the re-rank join's requirement: dedup
    # and re-rank share ONE exchange instead of exchanging on
    # (query_id, neighbor_id) and re-exchanging on neighbor_id. The
    # query vectors re-attach AFTER the dedup via the (small by
    # contract) query-side join.
    cands = store_bands.join(q_bands, "band_key").select(
        "query_id", "neighbor_id"
    )
    __buckets = m.asDict().get("buckets")
    if __buckets:
        cands = cands.repartition(int(__buckets), F.col("neighbor_id"))
    else:
        cands = cands.repartition(F.col("neighbor_id"))
    cands = cands.dropDuplicates(["query_id", "neighbor_id"])
    if exclude_self:
        cands = cands.filter(F.col("neighbor_id") != F.col("query_id"))
    unit = _minus_tombstones(
        spark.table(phys_table(name, "vectors", __gen)), __ts
    ).select(F.col("id").alias("neighbor_id"), F.col("u").alias("__vvec"))
    scored = (
        cands.join(unit, "neighbor_id")
        .join(qunit, "query_id")
        .select(
            "query_id",
            "neighbor_id",
            dot(F.col("__qvec"), F.col("__vvec")).alias("cosine"),
        )
    )
    return rank_topk(scored, k)
