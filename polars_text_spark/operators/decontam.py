"""Benchmark decontamination: flag training docs sharing word n-grams
with a held-out benchmark/test set (the GPT-3/PaLM 13-gram collision
method, scaled down to the synthetic corpus).

Beyond-reference LLM-pipeline operator. Scale shape: the benchmark
side is small by construction (a test set, not a corpus), so its
exploded shingle set is broadcast; the 100 TB training side streams
through one scan + a broadcast semi-join — no shuffle of the big side
at all until the final per-doc aggregate on ``id_col``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "token_ngrams",
    "ngram_contamination",
    "bloom_ngram_contamination",
    "embedding_contamination",
]


def token_ngrams(text: Column, n: int, *, hashed: bool = False) -> Column:
    """Distinct word n-gram shingles of lower(trim(text)), whitespace
    tokenized. Docs with fewer than ``n`` tokens (but at least one)
    contribute their whole (normalized) text as a single shingle,
    mirroring the dedup shingle convention (operators/dedup.py
    token_shingles) so short docs are never silently invisible.

    ``hashed=True`` (what :func:`ngram_contamination` uses since round
    14) emits the shingles as v2-family longs instead of strings
    (:func:`polars_text_spark.operators.dedup.v2_gram_hashes`: tokens
    xxhash64'd once per row, gram hash over the token-hash window —
    no per-window string allocation on the CORPUS-side scan, and the
    join/aggregate keys shuffle as 8-byte longs). Collision stance and
    short/empty conventions identical to ``token_shingles``; every
    contamination OUTPUT is a count over gram identity, so results
    are hash-family-independent absent a 2^-64 collision — which the
    decontamination oracles prove by replaying string shingles.

    Empty tokens are filtered FIRST: ``split('')`` is ``['']``, so
    without the filter every blank/whitespace-only doc used to emit a
    single ``''`` shingle — and one blank benchmark doc then marked
    every blank candidate contaminated. Token-less docs now emit an
    empty shingle array (no rows after explode)."""
    toks = F.filter(
        F.split(F.trim(F.lower(text)), r"\s+"), lambda t: t != F.lit("")
    )
    if hashed:
        from polars_text_spark.operators.dedup import v2_gram_hashes
        from polars_text_spark.plans.exprs import let

        # let-bind the filtered token array: the when-chain's two size
        # guards plus v2_gram_hashes' two references would otherwise
        # inline the split+filter subtree ~4x per row — on exactly the
        # corpus-side scan the hashed family exists to speed up
        return let(
            toks,
            lambda t: F.when(
                F.size(t) == 0, F.array().cast("array<long>")
            )
            .when(F.size(t) < n, F.array(F.xxhash64(F.concat_ws(" ", t))))
            .otherwise(F.array_distinct(v2_gram_hashes(t, n))),
        )
    grams = F.transform(
        F.sequence(F.lit(0), F.size(toks) - n),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
    )
    return (
        F.when(F.size(toks) == 0, F.array().cast("array<string>"))
        .when(F.size(toks) < n, F.array(F.concat_ws(" ", toks)))
        .otherwise(F.array_distinct(grams))
    )


def ngram_contamination(
    candidates: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    n: int = 4,
) -> DataFrame:
    """Per candidate doc: how many distinct n-gram shingles collide
    with the benchmark set and how many distinct benchmark docs are
    hit. Returns only contaminated docs (>=1 shared shingle):
    ``(id_col, n_shared_shingles, n_bench_docs)``.

    The benchmark (shingle, bench_id) pairs are broadcast — a test
    set is orders of magnitude smaller than the training corpus, so
    the big side never shuffles for the join. Both sides shingle
    under the v2 hashed family (round 14): the 100 TB candidate scan
    builds no per-window strings, and broadcast/join keys are 8-byte
    longs instead of n-token strings; the output counts are
    hash-family-independent (see :func:`token_ngrams`), which the
    driver oracle proves by replaying string shingles."""
    # explode_OUTER + null filter: non-outer explode makes the
    # optimizer infer `size(...) > 0` and pushdown inlines the whole
    # shingle expression into that filter, paying it twice per row
    # (see operators/winnow.py for the pathological nested case).
    cand = (
        candidates.filter(F.col(text_col).isNotNull())
        .select(
            F.col(id_col),
            F.explode_outer(
                token_ngrams(F.col(text_col), n, hashed=True)
            ).alias("_sh"),
        )
        .filter(F.col("_sh").isNotNull())
    )
    bench = (
        benchmark.filter(F.col(text_col).isNotNull())
        .select(
            F.col(id_col).alias("_bench_id"),
            F.explode_outer(
                token_ngrams(F.col(text_col), n, hashed=True)
            ).alias("_sh"),
        )
        .filter(F.col("_sh").isNotNull())
        .distinct()
    )
    hits = cand.join(F.broadcast(bench), "_sh")
    return hits.groupBy(id_col).agg(
        F.countDistinct("_sh").alias("n_shared_shingles"),
        F.countDistinct("_bench_id").alias("n_bench_docs"),
    )


def bloom_ngram_contamination(
    candidates: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    n: int = 4,
    fpp: float = 0.01,
    seed: int = 0,
) -> DataFrame:
    """:func:`ngram_contamination` with a Bloom-bitset prefilter on
    the candidate shingle stream — bit-identical output, different
    plan for the regime where the benchmark shingle set outgrows a
    row broadcast (a full eval SUITE at 13-grams is 10^8+ shingles,
    multi-GB as rows, tens of MB as bits — operators/bloom.py).

    Candidate shingles that fail the Bloom probe (definitely not in
    the benchmark) drop map-side inside the scan stage; only matches
    plus the ``fpp`` sliver reach the exact confirm join, which keeps
    the result exact — oracle queries replay the plain join and must
    hash-match."""
    from polars_text_spark.operators.bloom import (
        bloom_fit,
        bloom_might_contain,
        bloom_params,
    )

    cand = (
        candidates.filter(F.col(text_col).isNotNull())
        .select(
            F.col(id_col),
            F.explode_outer(token_ngrams(F.col(text_col), n, hashed=True)).alias("_sh"),
        )
        .filter(F.col("_sh").isNotNull())
    )
    bench = (
        benchmark.filter(F.col(text_col).isNotNull())
        .select(
            F.col(id_col).alias("_bench_id"),
            F.explode_outer(token_ngrams(F.col(text_col), n, hashed=True)).alias("_sh"),
        )
        .filter(F.col("_sh").isNotNull())
        .distinct()
    )
    # The bench shingle frame feeds THREE consumers (sizing count,
    # bloom fit, exact confirm join) — persist it once instead of
    # re-running the explode+distinct per consumer. It is the SMALL
    # side by contract (a benchmark, not a corpus), so caching it is
    # bounded by the same budget that lets the confirm join
    # broadcast it.
    from polars_text_spark.persist import track_persist

    bench = track_persist(bench.persist())
    # Size from the distinct (shingle, bench_id) count — an upper
    # bound on distinct shingles, so the realized fpp only improves.
    m_bits, n_hashes = bloom_params(bench.count(), fpp)
    bloom = bloom_fit(
        bench, "_sh", m_bits=m_bits, n_hashes=n_hashes, seed=seed
    )
    pruned = (
        bloom_might_contain(cand, "_sh", bloom, out_col="__bloom_hit")
        .where(F.col("__bloom_hit"))
        .drop("__bloom_hit")
    )
    # No broadcast hint on the confirm join: this operator exists for
    # the regime where the bench shingle frame outgrows a row
    # broadcast, so forcing one would OOM exactly when the Bloom
    # prefilter matters. AQE picks broadcast when bench is small and
    # falls back to shuffle when it isn't (bloom_semi_join precedent).
    hits = pruned.join(bench, "_sh")
    return hits.groupBy(id_col).agg(
        F.countDistinct("_sh").alias("n_shared_shingles"),
        F.countDistinct("_bench_id").alias("n_bench_docs"),
    )


def embedding_contamination(
    train: DataFrame,
    eval_df: DataFrame,
    *,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_eval_rows: int = 65536,
) -> DataFrame:
    """SEMANTIC decontamination — the n-gram method's blind spot is a
    paraphrased benchmark item (no 13-gram collision, same content);
    this flags training rows whose embedding is near-parallel to ANY
    eval-set embedding: ``(id_col, max_eval_cosine, contaminated)``.

    EAGER on the eval side: ``eval_df`` is collected (bounded by
    ``max_eval_rows``) at call time, so its content is frozen when
    this function returns rather than re-evaluated per action.

    Scale shape mirrors :func:`ngram_contamination`: the eval side is
    small by construction (a benchmark, not a corpus) and ships once
    per executor via ``sc.broadcast`` (bounded by ``max_eval_rows``
    AND the byte budget of :func:`~polars_text_spark.operators.
    similarity._collect_query_side`); the training side streams through
    ONE scan where an Arrow-batched numpy pass scores every (train,
    eval) pair and takes the per-row max in place — the densest loop
    in the decontamination suite stays out of interpreted expression
    eval (the old ``zip_with/aggregate`` pair dot was CodegenFallback,
    ~7 us/pair; see SCALING.md) AND nothing pair-shaped is ever
    materialized as rows. The fold runs in the engine's exact
    left-fold order, so every cosine — and therefore the max — is
    bit-identical to the SQL oracle's replay. The only shuffle is the
    per-id max (one row per training doc, map-side combined), kept so
    duplicate train ids keep their documented groupwise-max semantics.
    Train rows with a null vector are absent (nothing to compare); an
    EMPTY eval set yields max_eval_cosine null / contaminated false
    for every row rather than an empty result (an accidentally-empty
    benchmark must not silently pass the whole corpus).

    Non-finite policy (pinned by tests): a NaN/inf pair cosine —
    corrupt data on either side — is treated as null and SKIPPED, so a
    poisoned eval vector no longer nulls every train row's max over
    its remaining finite pairs (the old expression path's F.max saw
    NaN and, by Spark's NaN-greater-than-everything ordering, returned
    NaN-as-max — flagging every row against a corrupt benchmark
    entry). A train row whose every pair is non-finite gets a null max
    (un-flagged); surface corrupt embeddings upstream with
    embedding_norms before gating.
    """
    import pandas as pd
    from pyspark.sql import types as T

    from polars_text_spark.operators.similarity import (
        _collect_query_side,
        _fold_dot_batch,
        _normalize_vec_py,
    )

    tid_type = train.schema[id_col].dataType
    # both sides enter the scorer RAW: the eval side is fold-exact-
    # normalized driver-side, the train side inside the Arrow pass
    # (half the Arrow bytes for float32 storage, zero per-row JVM
    # normalization HOFs; values bit-identical to the expression twin)
    t = train.where(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("__tid"), F.col(vec_col).alias("__tvec")
    )
    e = eval_df.where(F.col(vec_col).isNotNull()).select(
        F.col(vec_col).alias("__evec")
    )
    erows = _collect_query_side(
        e, max_eval_rows, "embedding_contamination eval", vec_field="__evec"
    )
    evecs = [
        None if r["__evec"] is None else _normalize_vec_py(list(r["__evec"]))
        for r in erows
    ]
    # ship the eval payload once per executor via the torrent channel,
    # not pickled into every task closure
    evecs_bc = train.sparkSession.sparkContext.broadcast(evecs)

    from polars_text_spark.operators.similarity import _SCORE_CHUNK_CELLS

    chunk = max(1, _SCORE_CHUNK_CELLS // max(1, len(evecs)))

    def fn(batches):
        evecs = evecs_bc.value
        for pdf in batches:
            for lo in range(0, len(pdf), chunk):
                part = pdf.iloc[lo : lo + chunk]
                vals = part["__tvec"].to_numpy()
                if not evecs:
                    mx = [None] * len(vals)
                else:
                    import numpy as np

                    acc, valid = _fold_dot_batch(vals, evecs, normalize=True)
                    best = np.where(valid, acc, -np.inf).max(axis=1)
                    any_valid = valid.any(axis=1)
                    mx = [
                        float(b) if ok else None
                        for b, ok in zip(best, any_valid)
                    ]
                yield pd.DataFrame({"__tid": part["__tid"], "__rowmax": mx})

    dotted = t.mapInPandas(
        fn,
        schema=T.StructType(
            [
                T.StructField("__tid", tid_type),
                T.StructField("__rowmax", T.DoubleType()),
            ]
        ),
    )
    agg = dotted.groupBy("__tid").agg(
        F.max("__rowmax").alias("max_eval_cosine")
    )
    # left join back so an empty eval set keeps every train row
    return (
        t.select("__tid")
        .join(agg, "__tid", "left")
        .select(
            F.col("__tid").alias(id_col),
            "max_eval_cosine",
            F.coalesce(
                F.col("max_eval_cosine") >= F.lit(float(threshold)),
                F.lit(False),
            ).alias("contaminated"),
        )
    )
