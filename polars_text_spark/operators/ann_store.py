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

The incremental-store protocol (fresh write, the append gate and
body, the stream sink body, purge, rebucket and the band audit) is
shared with the MinHash store and written once, as
``sources.bucketing.IdKeyedStore``. This module supplies
:data:`ANN_STORE`: the meta check that an append's bucket count is
recorded, and the band-key and unit-vector projections
(:func:`_shard_projections`).
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
    IdKeyedStore,
    live_table as _phys,  # kept importable: callers resolve live tables here
    meta_gen,
    minus_tombstones as _minus_tombstones,
    phys_table,
    pooled_writes,
    read_tombstones as _tombstones,
    tombstone_ids,
    write_bucketed,
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
    tables for ``vectors`` (one pass over the vectors each), as a NEW
    store at generation 0 (:meth:`IdKeyedStore.fresh
    <polars_text_spark.sources.bucketing.IdKeyedStore.fresh>`)."""
    spark = vectors.sparkSession
    params = dict(dim=dim, num_planes=num_planes, bands=bands, buckets=buckets)
    with ANN_STORE.fresh(spark, name, params):
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
        # order between the two tables carries no crash contract
        # (unlike append, which stays bands-first).
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


def _check_meta(spark: SparkSession, name: str, meta) -> None:
    """An append reuses the write-time bucket spec, so a meta row
    without the bucket count is refused."""
    if "buckets" not in meta.asDict():
        raise ValueError(
            f"ann store '{name}' predates incremental ingest (its meta "
            "lacks the bucket count); rewrite it with write_ann_store "
            "before appending shards"
        )


def _stage(rows: DataFrame, meta, id_col: str, vec_col: str) -> DataFrame:
    return rows.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))


def _project(staged: DataFrame, meta, bands_table: str):
    return _shard_projections(
        staged,
        id_col="id",
        vec_col="vec",
        dim=int(meta["dim"]),
        num_planes=int(meta["num_planes"]),
        bands=int(meta["bands"]),
    )


ANN_STORE = IdKeyedStore(
    kind="ann", suffixes=("bands", "vectors"), band_keys=("band_key",),
    writer="write_ann_store", check_meta=_check_meta,
    stage=_stage, project=_project,
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
    return ANN_STORE.band_stats(spark, name, band_cap)


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
    ANN_STORE.rebucket(spark, name, new_buckets)


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
    """Fold the tombstone set into the store files (:meth:`IdKeyedStore.purge
    <polars_text_spark.sources.bucketing.IdKeyedStore.purge>`: atomic
    and race-checked). After this the store is byte-equivalent to one
    rebuilt from the filtered corpus (parity-tested) and re-appending
    previously-deleted ids becomes legal again."""
    ANN_STORE.purge(spark, name)


def append_ann_shard(
    shard: DataFrame,
    name: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incremental ingest: append a NEW shard's band keys and unit
    vectors into the standing store tables under the signature
    parameters the store meta records (a shard banded under other
    planes would never collide with standing keys). The append reuses
    the write-time bucket spec: Spark adds new bucket files, the
    standing files are untouched, and store-side joins still read
    every bucket co-located with NO Exchange. Dimensionality is
    guarded in-plan by ``sha_band_keys`` (round 16: the former
    pre-flight scan was a full extra pass over the shard).

    Contract: shard ids are non-null, unique within the shard and
    DISJOINT from store ids and pending tombstones, enforced by the
    shared append gate
    (:meth:`IdKeyedStore.append
    <polars_text_spark.sources.bucketing.IdKeyedStore.append>`): a
    duplicated id would burn top-k rank slots with duplicate
    candidates on every later query.
    """
    ANN_STORE.append(shard, name, id_col=id_col, payload_col=vec_col)


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
    m = ANN_STORE.require_meta(spark, name, "before querying it")
    q_bands, unit, store_bands, store_unit = _query_side(
        spark, name, m, shard, id_col=id_col, vec_col=vec_col
    )
    # Slim candidate stream + neighbor-keyed dedup (round 17) — same
    # restructure as topk_from_store: no vector payload rides the
    # candidate exchanges, the dedup keying doubles as the re-rank
    # join keying, and the query vectors re-attach after the dedup.
    shard_bands = q_bands.withColumnRenamed("query_id", "neighbor_id")
    cands = (
        store_bands.join(q_bands, "band_key")
        .unionByName(q_bands.join(F.broadcast(shard_bands), "band_key"))
        .select("query_id", "neighbor_id")
        .repartition(F.col("neighbor_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    return _rerank_tail(
        cands, store_unit.unionByName(unit), unit, k=k, exclude_self=exclude_self
    )


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
    m = ANN_STORE.require_meta(spark, name, "before querying it")
    if (m["dim"], m["num_planes"], m["bands"]) != (dim, num_planes, bands):
        raise ValueError(
            f"ann store '{name}' was written with dim={m['dim']}, "
            f"num_planes={m['num_planes']}, bands={m['bands']}; query-time "
            f"parameters (dim={dim}, num_planes={num_planes}, "
            f"bands={bands}) would produce band keys that can never "
            "collide with the store"
        )
    q_bands, unit, store_bands, store_unit = _query_side(
        spark, name, m, queries, id_col=id_col, vec_col=vec_col
    )
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
    return _rerank_tail(cands, store_unit, unit, k=k, exclude_self=exclude_self)


def _query_side(
    spark: SparkSession, name: str, m, queries: DataFrame, *, id_col: str, vec_col: str
):
    """The four frames a store top-k joins, from ONE meta row ``m``:
    the queries' band keys ``(query_id, band_key)`` and unit vectors
    ``(id, u)`` (deduplicated on id, null vectors dropped), and the
    live generation's band ``(neighbor_id, band_key)`` and unit-vector
    ``(id, u)`` tables minus tombstones. Wrong-dim queries fail loudly
    inside ``sha_band_keys`` (in-plan guard) when the banding
    projection first runs."""
    gen = meta_gen(m)
    banded, unit = _shard_projections(
        queries,
        id_col=id_col,
        vec_col=vec_col,
        dim=int(m["dim"]),
        num_planes=int(m["num_planes"]),
        bands=int(m["bands"]),
    )
    ts = _tombstones(spark, name)
    store_bands = _minus_tombstones(
        spark.table(phys_table(name, "bands", gen)), ts
    ).select(F.col("id").alias("neighbor_id"), "band_key")
    store_unit = _minus_tombstones(
        spark.table(phys_table(name, "vectors", gen)), ts
    )
    return (
        banded.select(F.col("id").alias("query_id"), "band_key"),
        unit.dropDuplicates(["id"]),
        store_bands,
        store_unit,
    )


def _rerank_tail(
    cands: DataFrame, neighbors: DataFrame, qunit: DataFrame, *, k: int, exclude_self: bool
) -> DataFrame:
    """The store re-rank tail: candidate pairs ``(query_id,
    neighbor_id)`` -> neighbor unit vectors (``neighbors(id, u)``) ->
    query unit vectors (``qunit(id, u)``) -> exact :func:`dot` ->
    :func:`rank_topk`."""
    if exclude_self:
        cands = cands.filter(F.col("neighbor_id") != F.col("query_id"))
    scored = (
        cands.join(
            neighbors.select(
                F.col("id").alias("neighbor_id"), F.col("u").alias("__vvec")
            ),
            "neighbor_id",
        )
        .join(
            qunit.select(
                F.col("id").alias("query_id"), F.col("u").alias("__qvec")
            ),
            "query_id",
        )
        .select(
            "query_id",
            "neighbor_id",
            dot(F.col("__qvec"), F.col("__vvec")).alias("cosine"),
        )
    )
    return rank_topk(scored, k)
