"""Broadcast Bloom-bitset membership prefilter — the map-side prune
for reference sets too large to broadcast as rows.

Beyond-reference scale operator. The repo's decontamination and
membership joins broadcast the small side as (key, id) ROWS
(operators/decontam.py); that works to ~10^7 keys, after which the
broadcast itself is the bottleneck (a 10^8-shingle eval suite at
~40 bytes/shingle is multiple GB per executor). A Bloom filter
compresses membership to ``m`` BITS — ~1.2 GB/10^9 keys at 1% false
positives versus ~40 GB as rows — restoring the broadcast path.

Spark-first shape:

- **fit** is one pass over the reference side: explode each key into
  its ``k`` bit indices, ``groupBy(word)`` + ``bit_or`` builds the
  set words distributedly (map-side partial OR, shuffle carries at
  most ``m/64`` rows), and the dense ``array<long>`` is assembled on
  the driver — bounded by the bitset size, which must fit in a
  broadcast anyway.
- **probe** is pure map-side JVM: the bitset is embedded as ONE
  ``array<long>`` Literal (``F.lit(words)``) and each row tests
  ``k`` bits with ``getbit(element_at(bits, idx>>6), idx&63)`` — no
  UDF, no join, no shuffle, fused into the scan. The literal is
  deliberate: the repo's usual 1-row ``crossJoin(broadcast(...))``
  carrier is WRONG here, because a join materializes output
  UnsafeRows and therefore memcpys the whole bitset into EVERY
  probed row — measured 11 s for a 44 KB bitset over 219 k rows at
  sf0.1 (~10 GB of copying) versus sub-second as a literal, which
  codegen references once per task. The 1-row-crossJoin pattern is
  for SCALAR totals; payload columns must never ride a join. The
  literal ships in the task binary: comfortable to ~10^8 bits
  (~12 MB); past that, shard the reference set and union several
  filters, or gate with the rows-broadcast join instead.
- **exactness**: a Bloom filter has false POSITIVES only. Every
  composed operator here therefore runs an exact confirm join on the
  survivors, so the Bloom is invisible to the RESULT — it only
  shapes the plan (the confirm join's input shrinks from the whole
  corpus-side key stream to the ~matching + fpp fraction). Oracle
  queries replay the exact join alone and must hash-match.

Hashing is Kirsch-Mitzenmacher double hashing over ``xxhash64``
(public Spark built-in): ``idx_i = (h1 + i*h2) mod m`` with
``h1 = xxhash64(key, seed) mod m`` and
``h2 = xxhash64(key, seed+1) mod (m-1) + 1`` (never 0, so the probe
sequence cannot collapse onto one slot). Every term is mod-reduced
before the multiply-add, so the arithmetic stays far from int64
overflow — Spark 4 runs ANSI mode where overflow THROWS rather than
wraps.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from polars_text_spark.plans.exprs import let

__all__ = [
    "append_bloom_shard",
    "bloom_params",
    "bloom_fit",
    "bloom_might_contain",
    "bloom_semi_join",
    "read_bloom_store",
    "rebuild_bloom_store",
    "write_bloom_store",
]

_BITS = "__bloom_bits"
_META = ("__bloom_m", "__bloom_k", "__bloom_seed")


def bloom_params(n_items: int, fpp: float = 0.01) -> tuple[int, int]:
    """Classic sizing: bits ``m = ceil(-n ln p / (ln 2)^2)`` (rounded
    up to a multiple of 64 so the word array is dense) and hash count
    ``k = round((m/n) ln 2)``, clamped to [1, 16]."""
    if n_items <= 0:
        return 64, 1
    if not (0.0 < fpp < 1.0):
        raise ValueError(f"fpp must be in (0, 1), got {fpp}")
    m = math.ceil(-n_items * math.log(fpp) / (math.log(2) ** 2))
    m = ((m + 63) // 64) * 64
    k = max(1, min(16, round(m / n_items * math.log(2))))
    return m, k


def _hashes(c: Column, m_bits: int, seed: int) -> tuple[Column, Column]:
    """The double-hash pair (h1 in [0, m), h2 in [1, m)) — the ONE
    definition both fit and probe build their slots from."""
    h1 = F.pmod(F.xxhash64(c, F.lit(seed)), F.lit(m_bits))
    h2 = F.pmod(F.xxhash64(c, F.lit(seed + 1)), F.lit(m_bits - 1)) + F.lit(1)
    return h1, h2


def _slot(h1: Column, h2: Column, i: Column, m_bits: int) -> Column:
    """Bit slot ``(h1 + i*h2) mod m`` — shared fit/probe formula, so
    the filter cannot have false negatives by construction."""
    return F.pmod(h1 + i.cast("long") * h2, F.lit(m_bits))


def _bit_indices(c: Column, m_bits: int, n_hashes: int, seed: int) -> Column:
    """``array<long>`` of the ``n_hashes`` bit slots for one key (the
    FIT side's explode input)."""
    h1, h2 = _hashes(c, m_bits, seed)
    # let-bind both hashes: referenced per slot inside the lambda,
    # and Catalyst would otherwise inline the xxhash64 subtree k times
    # (plans/exprs.py).
    return let(
        h1,
        lambda a: let(
            h2,
            lambda b: F.transform(
                F.sequence(F.lit(0), F.lit(n_hashes - 1)),
                lambda i: _slot(a, b, i, m_bits),
            ),
        ),
    )


def bloom_fit(
    df: DataFrame,
    col: str,
    *,
    m_bits: int,
    n_hashes: int,
    seed: int = 0,
) -> DataFrame:
    """Build the filter over every non-null value of ``df[col]``.

    Returns a 1-row DataFrame ``(__bloom_bits array<long>, __bloom_m,
    __bloom_k, __bloom_seed)``. The meta columns travel WITH the bits
    so probes read the parameters from the filter itself — they
    cannot drift from the fit (the ann_store meta lesson: a
    parameter mismatch here is a silent false-negative machine).

    No ``distinct()`` before the explode: ``bit_or`` is idempotent,
    so duplicate keys cost duplicate map-side rows but never an extra
    shuffle. The driver assembly collects at most ``m_bits/64`` set
    words (the bitset must fit in one broadcast regardless).
    """
    words = _word_frame(df, col, m_bits, n_hashes, seed)
    return _assemble(df.sparkSession, words, m_bits, n_hashes, seed)


def _word_frame(
    df: DataFrame, col: str, m_bits: int, n_hashes: int, seed: int
) -> DataFrame:
    """The distributed half of a fit: ``(word, bits)`` rows holding
    every set 64-bit word of the bitset (at most ``m_bits/64`` rows
    after the map-side-combining ``bit_or``)."""
    if m_bits < 64 or m_bits % 64:
        raise ValueError(f"m_bits must be a positive multiple of 64, got {m_bits}")
    if not (1 <= n_hashes <= 64):
        raise ValueError(f"n_hashes must be in [1, 64], got {n_hashes}")
    idx = (
        df.where(F.col(col).isNotNull())
        .select(
            F.explode(
                _bit_indices(F.col(col), m_bits, n_hashes, seed)
            ).alias("__i")
        )
    )
    return (
        idx.select(
            F.shiftright("__i", 6).alias("word"),
            F.col("__i").bitwiseAND(F.lit(63)).cast("int").alias("__b"),
        )
        .groupBy("word")
        .agg(
            F.bit_or(F.expr("shiftleft(CAST(1 AS BIGINT), __b)")).alias(
                "bits"
            )
        )
    )


def _assemble(
    spark, words: DataFrame, m_bits: int, n_hashes: int, seed: int
) -> DataFrame:
    """Collect a (word, bits) frame into the dense 1-row filter
    frame. Bounded by ``m_bits/64`` rows — the broadcast budget the
    bitset must fit anyway."""
    n_words = m_bits // 64
    dense = [0] * n_words
    for r in words.collect():
        dense[int(r["word"])] |= int(r["bits"])
    return spark.createDataFrame(
        [(dense, m_bits, n_hashes, seed)],
        schema=(
            f"{_BITS} array<bigint>, {_META[0]} bigint, "
            f"{_META[1]} int, {_META[2]} bigint"
        ),
    )


def bloom_might_contain(
    df: DataFrame, col: str, bloom: DataFrame, *, out_col: str = "might_contain"
) -> DataFrame:
    """Append boolean ``out_col``: true iff every probe bit for
    ``df[col]`` is set (i.e. the value MIGHT be in the fitted set;
    false means definitely absent). Null keys probe as the hash of
    null — callers decide null semantics upstream.

    Map-side only, join-free: the bitset words become a single
    ``array<long>`` Literal (one object per task — see the module
    docstring for why a 1-row broadcast join would memcpy the bitset
    into every row), and the ``k`` bit tests are an UNROLLED
    ``AND`` chain of scalar expressions rather than a ``forall``
    over the slot array: higher-order functions are CodegenFallback
    (interpreted per row, always materializing all k slots), while
    the scalar chain stays inside whole-stage codegen, short-circuits
    on the first clear bit — the fate of almost every true negative
    — and codegen's subexpression elimination evaluates the two
    ``xxhash64`` calls once. Parameters and bits come from the
    filter frame itself (one 1-row collect) so probe and fit cannot
    drift; the slot formula is shared with the fit (``_slot``)."""
    row = bloom.select(_BITS, *_META).first()
    # explicit cast: lit(list) infers element type from the VALUES,
    # and words that all fit 32 bits (e.g. the all-zero bitset of an
    # empty key set) would come out array<int>, making getbit reject
    # bit positions >= 32 at runtime
    bits = F.lit(list(row[0])).cast("array<bigint>")
    m_bits, n_hashes, seed = int(row[1]), int(row[2]), int(row[3])
    h1, h2 = _hashes(F.col(col), m_bits, seed)
    test = None
    for i in range(n_hashes):
        idx = _slot(h1, h2, F.lit(i), m_bits)
        bit_set = (
            F.getbit(
                F.element_at(
                    bits, F.shiftright(idx, 6).cast("int") + F.lit(1)
                ),
                idx.bitwiseAND(F.lit(63)),
            )
            == F.lit(1)
        )
        test = bit_set if test is None else (test & bit_set)
    return df.withColumn(out_col, test)


def bloom_semi_join(
    df: DataFrame,
    col: str,
    keys: DataFrame,
    key_col: str,
    *,
    fpp: float = 0.01,
    seed: int = 0,
) -> DataFrame:
    """EXACT semi join ``df`` ⋉ ``keys`` with a Bloom prefilter: fit
    on the key side, map-side prune ``df``, then confirm the
    survivors with a real (broadcast-eligible) semi join against the
    distinct keys. The result is bit-identical to
    ``df.join(keys, on, "left_semi")`` — the Bloom only cuts the rows
    entering the confirm join to matches + the fpp fraction.

    Sizing comes from one ``count()`` over the (small) key side. When
    the distinct key set is ALSO too big to broadcast as rows the
    confirm join falls back to shuffle — the prefilter then matters
    most, because only the pruned sliver of the big side shuffles.
    """
    from polars_text_spark.persist import track_persist

    k = keys.where(F.col(key_col).isNotNull()).select(
        F.col(key_col).alias("__bloom_key")
    )
    # three consumers (sizing count, fit pass, confirm join) — pin
    # the key frame once instead of re-running its upstream lineage
    # per consumer (same rationale as bloom_ngram_contamination)
    k = track_persist(k.persist())
    n_items = k.count()
    m_bits, n_hashes = bloom_params(n_items, fpp)
    bloom = bloom_fit(k, "__bloom_key", m_bits=m_bits, n_hashes=n_hashes, seed=seed)
    pruned = (
        bloom_might_contain(df, col, bloom, out_col="__bloom_hit")
        .where(F.col("__bloom_hit"))
        .drop("__bloom_hit")
    )
    return pruned.join(
        k.distinct(), on=pruned[col] == F.col("__bloom_key"), how="left_semi"
    )


def write_bloom_store(
    df: DataFrame,
    col: str,
    name: str,
    *,
    m_bits: int,
    n_hashes: int,
    seed: int = 0,
) -> None:
    """Persist the filter as catalog tables — the incremental
    "seen keys" shape (crawl-frontier URL dedup, processed-id
    ledgers): write once over the standing set, ``append_bloom_shard``
    per new batch, ``read_bloom_store`` to probe.

    Layout: ``<name>_words(word, bits)`` (sparse set words — at most
    ``m_bits/64`` rows per generation) + ``<name>_meta``. Parameters
    ride with the store (the ann/dedup-store meta pattern): a shard
    hashed under different (m, k, seed) would silently never collide,
    so appends read them back instead of trusting the caller.

    Unlike the MinHash/ANN stores there is no tombstone path — a
    Bloom filter cannot unset a bit (that is the price of 10
    bits/key); deletion means re-writing the store from the filtered
    authority set — :func:`rebuild_bloom_store`, which since round 15
    rides the same generational cutover as the MinHash/ANN stores (a
    plain overwrite let a concurrent ``stream_into_bloom_store``
    trigger OR bits into the doomed table and lose them silently —
    VERDICT r14 #5). No compaction either: appends add at most
    ``m_bits/64`` rows each and the read-time ``bit_or`` merge keeps
    the probe exact, so the table stays trivially small relative to
    any corpus."""
    from polars_text_spark.sources.bucketing import (
        sweep_stale_generations,
        write_meta_row,
    )

    spark = df.sparkSession
    # a fresh write starts a NEW store: drop EVERY physical generation
    # a previous store of this name left behind (gen -1 matches none)
    sweep_stale_generations(spark, name, ("words",), -1)
    _save_words(_word_frame(df, col, m_bits, n_hashes, seed), f"{name}_words")
    meta = spark.createDataFrame(
        [(int(m_bits), int(n_hashes), int(seed), 0)],
        "m_bits bigint, n_hashes int, seed bigint, gen int",
    )
    write_meta_row(spark, meta, f"{name}_meta", reset=True)


def _save_words(words: DataFrame, table: str) -> None:
    """Write a word set as a fresh table. clear_table also removes a
    stale warehouse DIRECTORY a previous session's drop left behind
    (invisible to the catalog sweep), which would otherwise block the
    saveAsTable with LOCATION_ALREADY_EXISTS."""
    from polars_text_spark.sources.bucketing import clear_table

    clear_table(words.sparkSession, table)
    words.write.format("parquet").mode("overwrite").saveAsTable(table)


def _bloom_row(spark, name: str):
    """The store's current (max-gen) meta row; raises without one."""
    from polars_text_spark.sources.bucketing import read_meta

    m = read_meta(spark, name)
    if m is None:
        raise ValueError(
            f"bloom store '{name}' has no meta table; (re)create it "
            "with write_bloom_store"
        )
    return m


def _bloom_meta(spark, name: str) -> tuple[int, int, int, int]:
    """(m_bits, n_hashes, seed, generation) from the store meta —
    resolved through the max-gen row (metas predating the ``gen``
    column read as generation 0)."""
    from polars_text_spark.sources.bucketing import meta_gen

    m = _bloom_row(spark, name)
    return int(m["m_bits"]), int(m["n_hashes"]), int(m["seed"]), meta_gen(m)


def _words_table(name: str, gen: int) -> str:
    from polars_text_spark.sources.bucketing import phys_table

    return phys_table(name, "words", gen)


def append_bloom_shard(df: DataFrame, col: str, name: str) -> None:
    """O(shard) ingest: hash the shard under the STORE's recorded
    parameters and append its set words. Duplicate keys (already in
    the store) are harmless — ``bit_or`` is idempotent — so unlike
    the id-keyed stores there is no disjointness contract to enforce.
    The one unsafe interleaving is a :func:`rebuild_bloom_store`
    cutover racing the append (the appended bits would ride the
    dropped generation): the append re-reads the generation after its
    write and raises conservatively, and re-running it is always safe
    (re-ORing bits is idempotent in both worlds).

    Every other interleaving is caught by the rebuild itself: see the
    race table of
    :func:`polars_text_spark.sources.bucketing.rewrite_generation`."""
    from polars_text_spark.sources.bucketing import (
        check_generation_unchanged,
    )

    spark = df.sparkSession
    m_bits, n_hashes, seed, gen_at_start = _bloom_meta(spark, name)
    words = _word_frame(df, col, m_bits, n_hashes, seed)
    words.write.format("parquet").mode("append").saveAsTable(
        _words_table(name, gen_at_start)
    )
    check_generation_unchanged(spark, name, gen_at_start)


def read_bloom_store(spark, name: str) -> DataFrame:
    """The dense 1-row filter frame (compatible with
    :func:`bloom_might_contain`), OR-merging the current generation's
    base write plus every shard appended to it at read time (old
    generations are dropped at rebuild cutover, so the current
    words table is the whole store)."""
    m_bits, n_hashes, seed, gen = _bloom_meta(spark, name)
    merged = (
        spark.table(_words_table(name, gen))
        .groupBy("word")
        .agg(F.bit_or("bits").alias("bits"))
    )
    return _assemble(spark, merged, m_bits, n_hashes, seed)


def rebuild_bloom_store(
    spark,
    authority: DataFrame,
    col: str,
    name: str,
    *,
    m_bits: int | None = None,
    n_hashes: int | None = None,
    seed: int | None = None,
) -> None:
    """Re-derive the store from its AUTHORITY key set — the deletion
    verb a Bloom filter's no-unset physics forces (docstring of
    :func:`write_bloom_store`), on the generational cutover of the
    MinHash/ANN stores (VERDICT r14 #5): the new word set is written
    as ``<name>_words_g<gen+1>`` beside the live table, and a
    :func:`stream_into_bloom_store` trigger or ``append_bloom_shard``
    that OR'd bits in during the rebuild aborts it LOUDLY instead of
    losing those keys at the flip. Readers see the old filter or the
    new one, never a missing or half-written word set. Atomic and
    race-checked: see
    :func:`polars_text_spark.sources.bucketing.rewrite_generation`.

    Parameters default to the store's recorded ones; pass new values
    to resize while rebuilding (the one chance to grow ``m_bits``,
    since bits cannot be carried across differently-sized filters).
    ``authority`` must include every key appended up to the rebuild's
    start — keys appended DURING the rebuild are what the snapshot
    check catches."""
    from polars_text_spark.sources.bucketing import rewrite_generation

    m = _bloom_row(spark, name)
    changes = {
        k: int(v)
        for k, v in (("m_bits", m_bits), ("n_hashes", n_hashes), ("seed", seed))
        if v is not None
    }
    params = {**m.asDict(), **changes}
    rewrite_generation(
        spark,
        name,
        ("words",),
        m,
        lambda dst, _: _save_words(
            _word_frame(
                authority, col, int(params["m_bits"]),
                int(params["n_hashes"]), int(params["seed"]),
            ),
            dst["words"],
        ),
        changes=changes,
        raced=(
            "bloom store '{name}': the live word table changed under "
            "the rebuild — a streaming trigger or shard append OR'd "
            "bits in during the window, and the flip would silently "
            "lose those keys. The store is untouched; re-run the "
            "rebuild with an authority set that includes them, in a "
            "writer-free window"
        ),
    )
