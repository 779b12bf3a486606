"""Bucketed MinHash fingerprint store: dedup without re-shuffling the
standing corpus.

At 100 TB the dominant cost of every near-dup run is re-computing and
re-shuffling the corpus's signatures. Both are write-once state: the
banded MinHash signatures and the hashed shingle sets only change when
the corpus does. This module persists them ONCE as bucketed tables
(sources/bucketing.py), after which

- **repeated dedup over the same corpus** (tuning ``jaccard_threshold``,
  re-running after a pipeline change) self-joins the band table on its
  own bucketing — NO Exchange on either side of the candidate join
  (plan-asserted in tests/test_dedup_store.py);
- **incremental ingest** (``minhash_lsh_cross_pairs`` shape: a new
  crawl shard vs the standing corpus) joins the shard's bands against
  the bucketed store — only the SHARD shuffles; the standing corpus
  side reads co-located buckets;
- exact-Jaccard verification joins candidates against the shingle
  table bucketed by doc id — again shuffle-free on the corpus side.

Store layout (two bucketed catalog tables + the meta pointer):
``<name>_bands(id, band int, bucket long[, sig])`` bucketed+sorted by
``(band, bucket)``; ``<name>_shingles(id, sh array<long>)``
bucketed+sorted by ``id``. Signature parameters are embedded at write
time; pass the same ones when pairing a new shard. Since round 14 the
PHYSICAL table names are generational (``<name>_bands_g1`` after the
first maintenance rewrite) and ``<name>_meta`` is the atomic pointer:
resolve through :func:`_phys` (``sources.bucketing.live_table``, or
``phys_table`` + ``store_generation``) instead of hardcoding names —
the unsuffixed names are only guaranteed for a store that has never
had rebucket/purge run.

The incremental-store protocol (fresh write, the append gate and
body, the stream sink body, purge, rebucket and the band audit) is
shared with the ANN store and written once, as
``sources.bucketing.IdKeyedStore``. This module supplies
:data:`MINHASH_STORE`: the shingle hash-family meta check
(:func:`_assert_hash_family`), the one-tokenize-pass append stage and
the band projection, which keeps a legacy store's ``sig``-less schema.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from polars_text_spark.operators.dedup import (
    _band_rows,
    _banded_signatures,
    _cross_pairs,
    _self_pairs,
    token_shingles,
)
from polars_text_spark.persist import track_persist
from polars_text_spark.sources.bucketing import (
    IdKeyedStore,
    live_table as _phys,
    meta_gen,
    minus_tombstones as _minus_tombstones,
    phys_table,
    read_meta,
    read_tombstones as _tombstones,
    rewrite_generation,
    start_meta_log,
    store_generation,
    tombstone_ids,
    write_bucketed,
)

__all__ = [
    "append_minhash_shard",
    "band_stats_from_store",
    "delete_ids",
    "incremental_pairs_from_store",
    "pairs_from_store",
    "purge_deleted",
    "rebucket_minhash_store",
    "rebuild_minhash_store",
    "write_minhash_store",
]


def _write_meta(
    spark: SparkSession,
    name: str,
    *,
    num_perm: int,
    bands: int,
    shingle_n: int,
    buckets: int,
    hashv: int,
) -> None:
    """Start a fresh meta log at generation 0 recording these
    parameters (:func:`~polars_text_spark.sources.bucketing.start_meta_log`);
    the ``minhash_store_migrate`` query stamps a v1-family meta with it."""
    start_meta_log(spark, name, dict(
        num_perm=num_perm, bands=bands, shingle_n=shingle_n,
        buckets=buckets, hashv=hashv,
    ))


def _write_tables(
    rows: DataFrame,
    shingles_tbl: str,
    bands_tbl: str,
    *,
    text_col: str,
    id_col: str,
    num_perm: int,
    bands: int,
    shingle_n: int,
    buckets: int,
) -> None:
    """Write a whole store's shingle and band tables from ``rows`` in
    ONE pass over the text (round 15): the shingle table is written
    first, then the band signatures are derived from READING IT BACK —
    a columnar scan of hashed-shingle longs instead of a second
    tokenize pass, and since the table is bucketed by id, the minhash
    groupBy(id) aggregation runs with no Exchange. The body of
    :func:`write_minhash_store` and :func:`rebuild_minhash_store`."""
    shingles = rows.select(
        F.col(id_col).alias("id"),
        token_shingles(text_col, shingle_n, hashed=True).alias("sh"),
    )
    write_bucketed(
        shingles, shingles_tbl, bucket_by="id", buckets=buckets, sort_by="id"
    )
    banded = _banded_signatures(
        rows.sparkSession.table(shingles_tbl), text_col, "id", "id",
        num_perm=num_perm, bands=bands, shingle_n=shingle_n,
        shingles_col="sh",
    ).select(
        "id",
        F.col("bk.band").alias("band"),
        F.col("bk.bucket").alias("bucket"),
        # full-signature key: the hot-band guard stars saturated
        # buckets per signature group (see dedup._guarded_self_pairs)
        F.col("__sig").alias("sig"),
    )
    write_bucketed(
        banded,
        bands_tbl,
        bucket_by=["band", "bucket"],
        buckets=buckets,
        sort_by=["band", "bucket"],
    )


def write_minhash_store(
    df: DataFrame,
    name: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    buckets: int = 8,
) -> None:
    """Materialize ``<name>_shingles`` and ``<name>_bands`` bucketed
    tables for ``df`` in one pass over the text (:func:`_write_tables`),
    as a NEW store at generation 0 (:meth:`IdKeyedStore.fresh
    <polars_text_spark.sources.bucketing.IdKeyedStore.fresh>`). The
    meta records the signature parameters and ``hashv``, the shingle
    hash FAMILY (dedup.SHINGLE_HASH_VERSION): a shard hashed under
    another family would never collide with the standing keys either,
    with no parameter to mismatch."""
    from polars_text_spark.operators.dedup import SHINGLE_HASH_VERSION

    params = dict(
        num_perm=num_perm, bands=bands, shingle_n=shingle_n,
        buckets=buckets, hashv=SHINGLE_HASH_VERSION,
    )
    with MINHASH_STORE.fresh(df.sparkSession, name, params):
        _write_tables(
            df, f"{name}_shingles", f"{name}_bands",
            text_col=text_col, id_col=id_col, num_perm=num_perm,
            bands=bands, shingle_n=shingle_n, buckets=buckets,
        )


def _assert_hash_family(spark: SparkSession, name: str, meta_row=None) -> None:
    """Refuse to band NEW text against a store written under a
    different shingle hash FAMILY: the new rows' band keys could
    never collide with the standing rows — the silent-recall-0
    failure the meta table exists to prevent, with no caller
    parameter to mismatch. Raised (not warned) on the append and
    incremental-pair paths; self-contained reads
    (:func:`pairs_from_store`, :func:`band_stats_from_store`,
    :func:`rebucket_minhash_store`) stay valid on any version.

    A store whose ``<name>_bands`` table exists but whose meta table
    does NOT is treated as hash family v1 (ADVICE r13): every pre-meta
    store was written under the v1 string-shingle family, so returning
    silently here would band v2-hashed text against v1 buckets — the
    exact silent-recall-0 failure this guard exists to prevent. Only
    when NEITHER table exists (the store genuinely doesn't exist yet)
    is the check a no-op, leaving the missing-store error to the
    caller's own read. ``meta_row`` lets a caller that already read
    the meta row skip the re-read (a listing of the meta log's files,
    and a collect when the log changed since the last read)."""
    from polars_text_spark.operators.dedup import SHINGLE_HASH_VERSION

    m = meta_row if meta_row is not None else read_meta(spark, name)
    if m is None:
        if spark.catalog.tableExists(f"{name}_bands"):
            raise ValueError(
                f"minhash store '{name}' has band/shingle tables but "
                "no meta table: it predates the meta protocol and was "
                "therefore written under shingle hash family v1, whose "
                "band keys can never collide with this build's v"
                f"{SHINGLE_HASH_VERSION} shingles (silent recall 0). "
                "Rebuild it with write_minhash_store (or "
                "rebuild_minhash_store) before banding new text "
                "against it"
            )
        return
    stored = int(m["hashv"]) if "hashv" in m.asDict() else 1
    if stored != SHINGLE_HASH_VERSION:
        raise ValueError(
            f"minhash store '{name}' was written under shingle hash "
            f"family v{stored}; this build derives v"
            f"{SHINGLE_HASH_VERSION} shingles, whose band keys can "
            "never collide with the standing rows (silent recall 0). "
            "Rebuild the store with write_minhash_store before "
            "banding new text against it"
        )


def append_minhash_shard(
    shard: DataFrame,
    name: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Incremental ingest for the MinHash store: band the shard under
    the store's RECORDED signature parameters and append its band +
    shingle rows as new bucket files; standing files are never
    rewritten. After the append, :func:`pairs_from_store` answers over
    the grown corpus; once append fragments accumulate,
    :func:`rebucket_minhash_store` at the current bucket count merges
    them to one file per bucket.

    Contract: shard ids are non-null, unique within the shard and
    DISJOINT from store ids AND from pending tombstones, all enforced
    by the shared append gate
    (:meth:`IdKeyedStore.append
    <polars_text_spark.sources.bucketing.IdKeyedStore.append>`)."""
    MINHASH_STORE.append(shard, name, id_col=id_col, payload_col=text_col)


def _stage(rows: DataFrame, meta, id_col: str, text_col: str) -> DataFrame:
    """The append's pinned stage: ``(id, sh)``, ONE tokenize pass
    (round 15) feeding both table appends."""
    return rows.select(
        F.col(id_col).alias("id"),
        token_shingles(text_col, int(meta["shingle_n"]), hashed=True).alias("sh"),
    )


def _project(staged: DataFrame, meta, bands_table: str):
    """(bands, shingles) rows of the staged ``(id, sh)`` frame under
    the store's recorded signature parameters.

    The signature is taken per ROW, not by the explode/``groupBy(id)``
    of :func:`~polars_text_spark.operators.dedup.minhash_signatures`:
    the pinned stage holds one row per id (the sink's
    ``dropDuplicates`` plus novelty anti-join; the batch append gate's
    refusal of repeated shard ids), so the per-row min is the per-id
    min, and the groupBy's exchange would cost the append a job of its
    own. Null shingles are skipped and a row with none left is
    dropped, as the groupBy path drops it; the band rows are
    value-identical (parity-tested)."""
    num_perm = int(meta["num_perm"])
    sigs = staged.where("exists(sh, x -> x is not null)").select(
        "id",
        F.expr(
            f"transform(sequence(0, {num_perm - 1}), k -> array_min("
            "transform(filter(sh, x -> x is not null), x -> xxhash64(x, k))))"
        ).alias("minhash"),
    )
    cols = ["id", F.col("bk.band").alias("band"),
            F.col("bk.bucket").alias("bucket")]
    if "sig" in staged.sparkSession.table(bands_table).columns:
        # the hot-band guard's signature-group key; stores written
        # before it existed keep their narrower schema
        cols.append(F.col("__sig").alias("sig"))
    banded = _band_rows(
        sigs, "id", "id", num_perm=num_perm, bands=int(meta["bands"])
    ).select(*cols)
    return banded, staged


MINHASH_STORE = IdKeyedStore(
    kind="minhash", suffixes=("bands", "shingles"), band_keys=("band", "bucket"),
    writer="write_minhash_store", check_meta=_assert_hash_family,
    stage=_stage, project=_project,
)


def _warn_if_legacy_sig_less(
    name: str, star_by: tuple[str, ...], band_cap: int | None
) -> None:
    """Stores written before the ``sig`` column existed can only star
    a saturated bucket against one ARBITRARY hub — those edges mostly
    fail Jaccard verification (the hub is not signature-identical to
    the members), so whole saturated families can silently lose their
    pairs: a much larger recall loss than the signature-grouped path.
    Warn loudly (ADVICE r12) so the caller either rewrites the store
    with :func:`write_minhash_store` (which records ``sig``) or passes
    ``band_cap=None`` to keep the exact clique semantics."""
    if band_cap is not None and not star_by:
        import warnings

        warnings.warn(
            f"minhash store '{name}' predates the signature column: "
            "the hot-band guard (band_cap is set) will star saturated "
            "buckets against one arbitrary hub, whose edges mostly "
            "fail Jaccard verification — saturated families can lose "
            "ALL their pairs. Rewrite the store with "
            "write_minhash_store to record signatures, or pass "
            "band_cap=None for exact (unguarded) semantics",
            stacklevel=3,
        )


def rebucket_minhash_store(
    spark: SparkSession, name: str, new_buckets: int
) -> None:
    """Rewrite BOTH store tables under a new bucket count — the
    MinHash twin of
    :func:`polars_text_spark.operators.ann_store.rebucket_store`
    (same rationale and sizing guidance: the bucket count frozen at
    write time makes a 100x-grown store read corpus/buckets rows per
    co-located task until this one rewrite shuffle per table; at the
    CURRENT count it is the compaction pass that merges append
    fragments to one file per bucket). Signature parameters, the
    recorded hash family, contents, and pending tombstones are
    preserved; :func:`pairs_from_store` answers are identical before
    and after (parity-tested). Atomic and race-checked: see
    :func:`polars_text_spark.sources.bucketing.rewrite_generation`."""
    MINHASH_STORE.rebucket(spark, name, new_buckets)


def rebuild_minhash_store(
    spark: SparkSession,
    name: str,
    corpus_df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Migrate a standing store to the CURRENT shingle hash family by
    re-deriving bands and shingles from the corpus (VERDICT r13 #4):
    the recovery verb for the loud v1-family append refusal
    (:func:`_assert_hash_family`). Signature parameters and the bucket
    count are read from the store meta — nothing to pass, nothing to
    mismatch — and PENDING TOMBSTONES ARE PRESERVED (unlike
    :func:`write_minhash_store`, which starts a new store and clears
    them): deletions stay logically deleted across the migration, and
    the deleted ids still cannot be re-appended until
    :func:`purge_deleted`.

    ``corpus_df`` must be the store's authority corpus (the same rows
    the store was built and appended from; tombstoned rows may be
    included — reads keep anti-joining them). An append that completes
    during the (long) re-derivation is not in ``corpus_df``, so the
    cutover aborts loudly instead of dropping it (ADVICE r14). The
    next meta row records the current
    :data:`~polars_text_spark.operators.dedup.SHINGLE_HASH_VERSION`;
    readers never see a mixed-family store. Atomic and race-checked:
    see :func:`polars_text_spark.sources.bucketing.rewrite_generation`.
    After this, :func:`append_minhash_shard` and
    :func:`incremental_pairs_from_store` accept the store again, and
    :func:`pairs_from_store` is value-identical to a fresh
    :func:`write_minhash_store` of the same corpus (parity-tested;
    the ``minhash_store_migrate`` driver query pins the lifecycle)."""
    from polars_text_spark.operators.dedup import SHINGLE_HASH_VERSION

    m = MINHASH_STORE.require_meta(
        spark, name,
        "instead — rebuild preserves tombstones, which a pre-meta store "
        "cannot have recorded reliably",
    )
    params = {k: int(m[k]) for k in ("num_perm", "bands", "shingle_n", "buckets")}
    rewrite_generation(
        spark,
        name,
        MINHASH_STORE.suffixes,
        m,
        lambda dst, _: _write_tables(
            corpus_df, dst["shingles"], dst["bands"],
            text_col=text_col, id_col=id_col, **params,
        ),
        changes={"hashv": SHINGLE_HASH_VERSION},
        raced=(
            "store '{name}': table files changed under the rebuild "
            "({table}) — an append raced the rebuild and its rows are "
            "not in the supplied corpus_df. The store is untouched (the "
            "appended rows are live); re-run the rebuild with a corpus "
            "that includes them, in a writer-free window"
        ),
    )


def delete_ids(ids: DataFrame, name: str, *, id_col: str = "doc_id") -> None:
    """Logical deletion (right-to-be-forgotten / recrawled-domain
    purge) WITHOUT rewriting the store: append the ids to the
    ``<name>_tombstones`` table. Every read path anti-joins the set
    from then on (broadcast, so the store side keeps its co-location);
    :func:`purge_deleted` later folds the tombstones into the files in
    one compaction pass — O(batch) deletes, amortized O(store)
    physical reclaim."""
    tombstone_ids(ids, name, id_col=id_col)


def purge_deleted(spark: SparkSession, name: str) -> None:
    """Fold the tombstone set into the store files (:meth:`IdKeyedStore.purge
    <polars_text_spark.sources.bucketing.IdKeyedStore.purge>`: atomic
    and race-checked). After this the store is equivalent to one
    rebuilt from the filtered corpus (parity-tested)."""
    MINHASH_STORE.purge(spark, name)


def band_stats_from_store(
    spark: SparkSession, name: str, *, band_cap: int | None = 1000
) -> DataFrame:
    """The :func:`~polars_text_spark.operators.dedup.lsh_band_stats`
    audit over the STANDING store — bucket-size drift is exactly what
    incremental ingest accumulates (every appended boilerplate shard
    deepens its family's buckets), so re-run this after appends to
    size ``band_cap`` before the next :func:`pairs_from_store`. One
    groupBy on the table's own bucketing (no Exchange on the store
    side), tombstones respected. Stores carrying the signature column
    get the full cross-signature recall telemetry; pre-sig stores
    report null there (and the pair paths warn — see
    :func:`_warn_if_legacy_sig_less`)."""
    return MINHASH_STORE.band_stats(spark, name, band_cap)


def candidate_self_join(spark: SparkSession, name: str) -> DataFrame:
    """The raw band-collision self-join over the bucketed store —
    exposed separately so tests can assert its plan has NO Exchange
    (both sides read the same bucketing; a pending tombstone set adds
    only a broadcast anti-join above each scan)."""
    banded = _minus_tombstones(
        spark.table(_phys(spark, name, "bands")), _tombstones(spark, name)
    )
    left = banded.select(F.col("id").alias("id_a"), "band", "bucket")
    right = banded.select(F.col("id").alias("id_b"), "band", "bucket")
    return left.join(right, ["band", "bucket"]).filter(
        F.col("id_a") < F.col("id_b")
    )


def pairs_from_store(
    spark: SparkSession,
    name: str,
    *,
    jaccard_threshold: float = 0.7,
    band_cap: int | None = 1000,
) -> DataFrame:
    """Near-dup pairs over the stored corpus — same output as
    :func:`~polars_text_spark.operators.dedup.minhash_lsh_pairs` on the
    original frame (same signature parameters AND same ``band_cap``):
    the store face of the shared self-pair tail (the
    :mod:`~polars_text_spark.operators.dedup` module docs). The
    candidate join and the guard window re-shuffle NOTHING: both read
    the band table's own (band, bucket) bucketing (plan-asserted)."""
    __ts = _tombstones(spark, name)
    __gen = store_generation(spark, name)  # one resolution, both reads
    banded = _minus_tombstones(
        spark.table(phys_table(name, "bands", __gen)), __ts
    )
    star_by = ("sig",) if "sig" in banded.columns else ()
    _warn_if_legacy_sig_less(name, star_by, band_cap)
    sh = _minus_tombstones(
        spark.table(phys_table(name, "shingles", __gen)), __ts
    )
    # pin=False: the band table IS the materialization — re-scanning
    # co-located buckets per consumer beats pinning the corpus.
    return _self_pairs(
        banded, sh, ["band", "bucket"], star_by, band_cap,
        jaccard_threshold, pin=False,
    )


def incremental_pairs_from_store(
    spark: SparkSession,
    name: str,
    new_df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.7,
    band_cap: int | None = 1000,
    collapse_left: bool | str = False,
) -> DataFrame:
    """Dedup a NEW shard against the standing store (the incremental-
    ingest shape): ``(id_a, id_b, jaccard)`` with ``id_a`` from the
    shard, ``id_b`` from the store — the store face of the shared
    cross-pair tail (the :mod:`~polars_text_spark.operators.dedup`
    module docs; ``band_cap`` and ``collapse_left`` mean what they
    mean for
    :func:`~polars_text_spark.operators.dedup.minhash_lsh_cross_pairs`).
    Only the shard's (small) band and shingle frames shuffle; the
    store side reads its buckets in place, guard window included.
    Signature parameters must match the ones used at write time —
    validated against the store meta when the store records one (a
    mismatch would band the shard under planes that can never collide
    with standing keys: silent recall 0)."""
    m = read_meta(spark, name)  # ONE meta read: params + hashv + gen
    if m is not None:
        md = m.asDict()
        meta3 = (int(md["num_perm"]), int(md["bands"]), int(md["shingle_n"]))
        if (num_perm, bands, shingle_n) != meta3:
            raise ValueError(
                f"minhash store '{name}' was written with num_perm="
                f"{meta3[0]}, bands={meta3[1]}, shingle_n={meta3[2]}; "
                f"the passed parameters (num_perm={num_perm}, bands="
                f"{bands}, shingle_n={shingle_n}) would produce band "
                "keys that can never collide with the store"
            )
    _assert_hash_family(spark, name, meta_row=m)
    __ts = _tombstones(spark, name)
    __gen = meta_gen(m)
    standing = _minus_tombstones(
        spark.table(phys_table(name, "bands", __gen)), __ts
    )
    star_by = ("sig",) if "sig" in standing.columns else ()
    _warn_if_legacy_sig_less(name, star_by, band_cap)

    def band_shard(stage: DataFrame) -> DataFrame:
        # ONE tokenize pass over the shard (round 15): the pinned
        # (id, sh) stage feeds both the banding and the verification
        track_persist(stage.persist())
        return _banded_signatures(
            stage, text_col, "id", "id_a",
            num_perm=num_perm, bands=bands, shingle_n=shingle_n,
            shingles_col="sh",
        ).select(
            "id_a",
            F.col("bk.band").alias("band"),
            F.col("bk.bucket").alias("bucket"),
        )

    return _cross_pairs(
        new_df,
        band_shard,
        standing.select(
            F.col("id").alias("id_b"), "band", "bucket", *star_by
        ),
        _minus_tombstones(
            spark.table(phys_table(name, "shingles", __gen)), __ts
        ),
        ["band", "bucket"], star_by, band_cap, collapse_left,
        jaccard_threshold,
        text_col=text_col, id_col=id_col, shingle_n=shingle_n, pin=False,
    )
