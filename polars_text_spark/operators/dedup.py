"""Deduplication suite for training-data pipelines (beyond-reference,
BASELINE.json north star). Five strategies, all shuffle-conscious:

- :func:`exact_dedup` — sha2 fingerprint groupBy; one shuffle on the
  hash, keeper = min id. The 100 TB workhorse.
- :func:`minhash_signatures` / :func:`minhash_lsh_pairs` — MinHash
  over token shingles computed entirely with JVM built-ins
  (``xxhash64(shingle, seed_k)`` + ``min`` aggregations — no Python in
  the loop), banded into LSH buckets; candidate pairs are bucket
  collisions, verified by exact shingle Jaccard.
- :func:`simhash` / :func:`simhash_pairs` — 64-bit SimHash via
  per-bit signed majority vote (explode -> 64 conditional sums);
  near-dup pairs = small Hamming distance within 16-bit chunk blocks
  (pigeonhole: distance <= 3 guarantees one of 4 chunks equal).
- :func:`ngram_jaccard_pairs` — exact blocked pairwise Jaccard
  (SQL-oracle-checkable; the verification path for the approximate
  strategies).
- embedding-cosine near-dup — see
  :func:`polars_text_spark.operators.similarity.cosine_topk_lsh` (or
  :func:`~polars_text_spark.operators.similarity.banded_scored_candidates`
  filtered at a cosine threshold).

Design note for scale: every strategy maps to (narrow per-row exprs) +
(one groupBy or one equi-join on a blocking key). Nothing cross-joins
the full corpus; nothing collects to the driver. Blocking keys can
still go HOT (a boilerplate family puts 10^5 docs in one band bucket;
the within-bucket join is quadratic in the bucket no matter how good
the key is) — the banded strategies therefore carry a ``band_cap``
guard that routes saturated buckets to hub-star candidates, linear in
the bucket (:func:`_guarded_self_pairs`), and :func:`lsh_band_stats`
audits the bucket-size distribution before a run.

Two faces, one pair tail: MinHash self- and cross-pairs come from an
in-flight frame (:func:`minhash_lsh_pairs`,
:func:`minhash_lsh_cross_pairs`, :func:`near_dup_source_matrix`) or
from the bucketed store (``dedup_store.pairs_from_store`` /
``incremental_pairs_from_store``: the live generation's band and
shingle tables minus tombstones). A face only says where bands and
shingle sets come from. :func:`_self_pairs` and :func:`_cross_pairs`
own the rest, once: the ``band_cap`` spec (:func:`_resolve_cap`), the
hot-band guard, exact Jaccard (:func:`_verify_jaccard`) and, for
cross pairs, ``collapse_left`` (:func:`_collapse_left_groups`,
:func:`_fan_back_left`); the semantics live on those functions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from polars_text_spark.functions.analysis import doc_fingerprint
from polars_text_spark.operators.similarity import cosine
from polars_text_spark.persist import track_persist

__all__ = [
    "containment_pairs",
    "count_join_jaccard_pairs",
    "exact_dedup",
    "minhash_band_plan",
    "bottomk_sketch",
    "bottomk_sketch_pairs",
    "dedup_threshold_sweep",
    "dup_source_matrix",
    "dup_degree_histogram",
    "band_bucket_stats",
    "lsh_band_stats",
    "minhash_lsh_cross_pairs",
    "minhash_lsh_pairs",
    "near_dup_source_matrix",
    "minhash_signatures",
    "ngram_jaccard_pairs",
    "resolve_band_cap",
    "set_similarity_jaccard_pairs",
    "simhash",
    "simhash_pairs",
    "token_shingles",
]


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep one row per distinct normalized content (keeper = min id)."""
    w = Window.partitionBy("__fp").orderBy(F.col(id_col).asc())
    return (
        df.withColumn("__fp", doc_fingerprint(text_col))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__fp", "__rn")
    )


def dup_source_matrix(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    *,
    fingerprint=None,
) -> DataFrame:
    """Duplicate PROVENANCE matrix: for every (source_a, source_b)
    pair (canonicalized ``source_a <= source_b``), how many exact-dup
    document pairs connect them — the "which feeds copy from which"
    curation report that decides crawl-source priorities.

    Scale shape: the naive answer self-joins docs on the content
    fingerprint, which explodes quadratically on any viral document
    (a fingerprint shared by m docs materializes m^2/2 pair rows).
    This computes per-(fingerprint, source) COUNTS first — bounded by
    |sources| rows per fingerprint — then gets pair counts by
    combinatorics: ``c_a * c_b`` across sources, ``C(c, 2)`` within
    one. No pair row ever materializes. (The SQL oracle runs the
    naive quadratic join, so the differential gate doubles as an
    equivalence proof of the shortcut.)
    """
    fp_expr = (
        fingerprint if fingerprint is not None else doc_fingerprint(text_col)
    )
    cnt = (
        df.filter(F.col(text_col).isNotNull())
        .select(F.col(source_col).alias("src"), fp_expr.alias("__fp"))
        .groupBy("__fp", "src")
        .agg(F.count(F.lit(1)).cast("long").alias("__c"))
    )
    # consumed three times (both sides of the self-join + `same`):
    # persist so the sha256 fingerprint projection and the aggregate —
    # the expensive stage of this query — compute once
    cnt = track_persist(cnt.persist())
    cross = (
        cnt.select("__fp", F.col("src").alias("source_a"), F.col("__c").alias("__ca"))
        .join(
            cnt.select(
                "__fp", F.col("src").alias("source_b"), F.col("__c").alias("__cb")
            ),
            "__fp",
        )
        .filter(F.col("source_a") < F.col("source_b"))
        .select(
            "source_a",
            "source_b",
            (F.col("__ca") * F.col("__cb")).alias("__n"),
        )
    )
    same = cnt.filter(F.col("__c") >= 2).select(
        F.col("src").alias("source_a"),
        F.col("src").alias("source_b"),
        # integer div, not /2: c*(c-1) exceeds double's exact-integer
        # range once a viral fingerprint passes ~2^26 copies
        F.expr("__c * (__c - 1) div 2").alias("__n"),
    )
    return (
        cross.unionByName(same)
        .groupBy("source_a", "source_b")
        .agg(F.sum("__n").cast("long").alias("n_pairs"))
    )


# Bump when the hashed-shingle derivation changes: a store banded
# under one family can NEVER collide with text banded under another
# (silent recall 0), so the minhash store meta records this and the
# band-new-text-against-standing-rows paths validate it.
SHINGLE_HASH_VERSION = 2


def token_shingles(text_col, n: int = 3, *, hashed: bool = False):
    """Distinct word n-gram shingles of a text column — built-ins only:
    split -> sliding windows -> distinct.

    ``hashed=True`` maps each shingle to a long — arrays of longs
    shuffle and intersect faster than string arrays, at a
    2^-64-per-pair collision risk. Exact-oracle paths can use it too:
    intersection COUNTS are unchanged absent a collision, so the
    DuckDB twins replay STRING sets and still hash-match.

    Hash family v2 (round 13): each token is xxhash64'd ONCE (the
    hash array is `let`-bound so it evaluates once per row, not once
    per shingle — the O(d^2) inline trap), then a shingle hash is
    ``xxhash64(h_i, h_{i+1}, h_{i+2})`` over the window of TOKEN
    hashes. The v1 family built every shingle as a concat_ws STRING
    and hashed that — 25M string allocations per 50k docs; v2 is
    11.3x faster (29.4 s -> 2.6 s at sf0.1 x10, SCALING.md round-13)
    with the same boundary disambiguation (token hash windows can't
    confuse "ab c" with "a bc") and the same collision stance.
    Changing the family changes every derived signature/bucket value,
    so :data:`SHINGLE_HASH_VERSION` rides the minhash store meta.
    The short-text branch (< n tokens) hashes the whole-text join,
    as before.
    """
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    tokens = F.split(F.trim(F.lower(c)), r"\s+")
    count = F.size(tokens) - F.lit(n - 1)
    if not hashed:
        shingles = F.when(
            count <= 0, F.array(F.concat_ws(" ", tokens))
        ).otherwise(
            F.transform(
                F.sequence(F.lit(0), count - 1),
                lambda i: F.concat_ws(" ", F.slice(tokens, i + 1, n)),
            )
        )
        return F.array_distinct(shingles)
    hashed_sh = F.when(
        count <= 0, F.array(F.xxhash64(F.concat_ws(" ", tokens)))
    ).otherwise(v2_gram_hashes(tokens, n))
    return F.array_distinct(hashed_sh)


def v2_gram_hashes(toks, n: int):
    """Hash-family-v2 window-gram hashes over a token ARRAY column:
    ``array<long>``, one entry per length-``n`` token window, in window
    order (NOT distinct — winnowing and span coverage are positional).

    Each token is xxhash64'd ONCE into a token-hash array that is
    `let`-bound (:func:`polars_text_spark.plans.exprs.let`), so it
    evaluates once per row, not once per window — without the binding
    the token-hash subtree inlines into every window lambda and the
    row cost goes O(G^2) (the measured 3x re-inline trap, SCALING.md
    round-13). The gram hash is then ``xxhash64`` over the ``n`` token
    hashes: the exact derivation of :func:`token_shingles(hashed=
    True)`'s main branch, so this IS the :data:`SHINGLE_HASH_VERSION`
    v2 family (11.3x over per-window string builds at sf0.1 x10).

    Caller contract: guard ``size(toks) >= n`` before use
    (``sequence`` DESCENDS otherwise), and prefer a cheap ``toks``
    reference (a staged/`let`-bound column) — this expression
    references it twice (``transform`` + ``size``)."""
    from polars_text_spark.plans.exprs import let

    return let(
        F.transform(toks, lambda t: F.xxhash64(t)),
        lambda th: F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.xxhash64(
                *[F.element_at(th, i + j) for j in range(n)]
            ),
        ),
    )


def bottomk_sketch(text_col, *, k: int = 32, shingle_n: int = 3, gram_hash=None):
    """Bottom-k (KMV) sketch of a text's shingle set: the ``k``
    SMALLEST distinct hashed shingles, as a sorted ``array<long>``.

    Unlike the permutation-MinHash signature (one min per seeded
    xxhash64 — a hash family no other engine reproduces), the KMV
    sketch uses a SINGLE hash function, so with ``gram_hash=
    sha_token_hash`` an external SQL engine re-derives every sketch —
    and every Jaccard ESTIMATE — bit-for-bit. Sketch size is k longs
    per doc regardless of document length: the payload that shuffles
    at 100 TB is ``k * 8`` bytes/doc, not the shingle set.

    Jaccard estimator (Bar-Yossef et al., "Counting distinct elements
    in a data stream", RANDOM 2002 / the classic KMV union trick):
    with ``U = bottom_k(sketch_a ∪ sketch_b)``,
    ``Ĵ = |U ∩ sketch_a ∩ sketch_b| / |U|`` — exact when both sets
    have < k shingles, unbiased with std ~ sqrt(J(1-J)/k) otherwise.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    # wrap: variadic builtins (*cols) are rejected as HOF lambdas
    hasher = gram_hash if gram_hash is not None else (lambda s: F.xxhash64(s))
    sh = token_shingles(text_col, shingle_n)
    hashed = F.array_distinct(F.transform(sh, hasher))
    return F.slice(F.array_sort(hashed), 1, k)


def bottomk_sketch_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    k: int = 32,
    shingle_n: int = 3,
    threshold: float = 0.5,
    gram_hash=None,
    max_df: int | None = None,
) -> DataFrame:
    """Near-dup pairs by KMV-sketch Jaccard ESTIMATE:
    ``(id_a, id_b, est_jaccard)`` with ``id_a < id_b`` and
    ``est_jaccard >= threshold``.

    Plan shape: one projection for the sketches; candidates from an
    equi-join on exploded sketch elements (docs sharing >= 1 bottom-k
    element — any pair with true J >= t shares one with probability
    ``1-(1-J)^k``, > 0.9999 for J >= 0.25 at k=32); the estimate joins
    the two k-long sketches back per candidate. Only sketch longs ever
    shuffle. ``max_df`` drops sketch elements present in more than that
    many docs before pairing (the viral-shingle hot-key guard, same
    dial as winnowing's). The estimate is the OUTPUT — feed survivors
    to :func:`set_similarity_jaccard_pairs` when the exact value
    matters.
    """
    if threshold <= 0:
        raise ValueError("bottomk_sketch_pairs requires threshold > 0")
    from pyspark.storagelevel import StorageLevel

    from polars_text_spark.plans.exprs import let

    sk = df.select(
        F.col(id_col).alias("id"),
        bottomk_sketch(
            text_col, k=k, shingle_n=shingle_n, gram_hash=gram_hash
        ).alias("sk"),
    )
    # consumed 3x (element explode + both estimate sides). Persist
    # BEFORE the emptiness filter: filtering the projection directly
    # lets PushDownPredicate substitute the alias and inline the whole
    # O(G log G) sketch expression into a pre-exchange Filter — the
    # sketch then computes twice, once serially in the scan stage
    # (measured 6.5 s of an 8.8 s query at sf0.1). Filtering the
    # cached relation evaluates size() on the materialized column.
    sk = track_persist(sk.persist(StorageLevel.MEMORY_AND_DISK))
    sk = sk.filter(F.size("sk") > 0)
    el = sk.select(
        "id", F.explode_outer("sk").alias("v"), F.size("sk").alias("sz")
    ).filter(F.col("v").isNotNull())
    if max_df is not None:
        # Keep the hot-element prune AND the count-prune sound
        # together: __shared below is counted on the PRUNED stream
        # while sizes and the estimate use FULL sketches, so a pair
        # sharing hot elements undercounts by at most
        # min(dropped_a, dropped_b). Track the per-doc dropped-hot
        # count and weaken the bound by exactly that — zero recall
        # loss beyond max_df's own documented semantics (pairs whose
        # ONLY shared elements are hot never become candidates; that
        # is the point of the dial).
        hot = el.groupBy("v").agg(F.count(F.lit(1)).alias("__df"))
        el = (
            el.join(hot, "v")
            .withColumn("__is_hot", F.col("__df") > max_df)
            .drop("__df")
        )
        el = el.withColumn(
            "__drop",
            F.sum(F.col("__is_hot").cast("int")).over(
                Window.partitionBy("id")
            ),
        )
        el = el.filter(~F.col("__is_hot")).drop("__is_hot")
    else:
        el = el.withColumn("__drop", F.lit(0))
    # count-filtered candidates: est >= t needs |U∩a∩b| >= t*|U| shared
    # sketch elements, and |U| >= max(|sk_a|, |sk_b|), so any surviving
    # pair must share >= t * max(sz_a, sz_b) elements (minus the hot
    # undercount bound when max_df is set). Counting shared elements in
    # the SAME aggregate that dedups pairs prunes the
    # 1-element-in-common candidate flood (measured at sf0.1: 520k
    # candidates -> the handful that can clear the threshold) before
    # the O(k log k) estimate math ever runs. The 1e-9 slack keeps the
    # double-rounded product from excluding exact-boundary pairs.
    cand = (
        el.select(
            F.col("id").alias("id_a"),
            F.col("sz").alias("sz_a"),
            F.col("__drop").alias("dr_a"),
            "v",
        )
        .join(
            el.select(
                F.col("id").alias("id_b"),
                F.col("sz").alias("sz_b"),
                F.col("__drop").alias("dr_b"),
                "v",
            ),
            "v",
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).alias("__shared"),
            F.first("sz_a").alias("__sz_a"),
            F.first("sz_b").alias("__sz_b"),
            F.first("dr_a").alias("__dr_a"),
            F.first("dr_b").alias("__dr_b"),
        )
        .filter(
            F.col("__shared")
            >= threshold * F.greatest("__sz_a", "__sz_b")
            - F.least("__dr_a", "__dr_b")
            - 1e-9
        )
        .select("id_a", "id_b")
    )
    a = sk.select(F.col("id").alias("id_a"), F.col("sk").alias("sk_a"))
    b = sk.select(F.col("id").alias("id_b"), F.col("sk").alias("sk_b"))
    est = let(
        F.slice(
            F.array_sort(F.array_union(F.col("sk_a"), F.col("sk_b"))),
            1,
            k,
        ),
        lambda u: F.size(
            F.array_intersect(F.array_intersect(u, F.col("sk_a")), F.col("sk_b"))
        )
        / F.size(u).cast("double"),
    )
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard")
    )


def minhash_band_plan(
    threshold: float, num_perm: int = 64
) -> tuple[int, int]:
    """Choose ``(bands, rows_per_band)`` for a target Jaccard
    ``threshold`` — the datasketch-style planner: the LSH collision
    curve is ``P(s) = 1 - (1 - s^r)^b``; pick the integer split of
    ``num_perm`` minimizing the weighted false-positive area
    (``∫₀ᵗ P``) + false-negative area (``∫ₜ¹ (1-P)``), evaluated by
    fixed-step quadrature. Guessing (b, r) by hand routinely places
    the curve's S-bend far from the threshold — the default 16x4
    bends near s≈0.5, so at t=0.7 it floods the verify stage with
    ~0.5-similar candidates; the planner returns 8x8 there (bend
    ≈0.77).

    Driver-side pure arithmetic over at most ``d(num_perm)`` integer
    splits — call it once and pass the result to
    :func:`minhash_lsh_pairs` / the dedup store writers. Returns the
    steepest valid plan on ties (fewer, wider bands — cheaper: fewer
    band keys shuffle)."""
    if not (0.0 < threshold < 1.0):
        raise ValueError(f"threshold must be in (0, 1), got {threshold}")
    if num_perm < 1:
        raise ValueError(f"num_perm must be >= 1, got {num_perm}")
    steps = 500
    best = None
    for b in range(1, num_perm + 1):
        if num_perm % b:
            continue
        r = num_perm // b
        fp = fn = 0.0
        for i in range(steps):
            s = (i + 0.5) / steps
            p = 1.0 - (1.0 - s**r) ** b
            if s < threshold:
                fp += p
            else:
                fn += 1.0 - p
        err = (fp + fn) / steps
        # strict improvement only: ties keep the smallest b seen
        # first (fewer bands -> fewer shuffled keys)
        if best is None or err < best[0] - 1e-12:
            best = (err, b, r)
    return best[1], best[2]


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    num_perm: int = 64,
    shingle_n: int = 3,
    shingles_col: str | None = None,
) -> DataFrame:
    """``(id, minhash: array<long>)`` — one min per seeded xxhash64.

    explode(shingles) -> groupBy(id).agg(64 mins): map-side partial
    aggregation keeps the shuffle tiny (64 longs per doc). The
    exploded stream carries v2 HASHED shingles (longs), so each of
    the 64 seeded permutation hashes runs over a fixed-width long
    instead of a rebuilt shingle string — part of the round-13
    shingle-family speedup (:func:`token_shingles`,
    :data:`SHINGLE_HASH_VERSION`).

    ``shingles_col`` names an ALREADY-derived hashed-shingle array
    column (round 15): the store paths materialize the shingle table
    anyway, so deriving signatures from it — instead of re-tokenizing
    the text — turns the store write into ONE pass over the text plus
    a columnar re-read of longs; on the id-bucketed shingle table the
    groupBy(id) aggregation is also exchange-free. Values are
    identical either way (the column IS ``token_shingles(hashed=
    True)``).

    The groupBy folds several rows of one id into one signature over
    their union, so this is sound on any input. The store append
    (``dedup_store._project``) takes each min ROW-WISE instead: its
    pinned stage holds one row per id, where the per-row min is the
    per-id min, and skipping the groupBy's exchange saves the append a
    job. Band rows are equal either way (parity-tested)."""
    # explode_outer + null filter: plain explode makes the optimizer
    # infer `size(token_shingles(..)) > 0` and pushdown inlines the
    # whole shingle expression into the filter, computing it twice
    # per row (InferFiltersFromGenerate trap — SCALING.md).
    src = (
        F.col(shingles_col)
        if shingles_col is not None
        else token_shingles(text_col, shingle_n, hashed=True)
    )
    exploded = df.select(
        F.col(id_col),
        F.explode_outer(src).alias("shingle"),
    ).filter(F.col("shingle").isNotNull())
    # One SQL string, parsed once: as Column calls the 64 seeded mins
    # were ~2,800 Py4J round-trips per plan build. The seed literal is
    # INT either way (SQL ``k`` == ``F.lit(k)``), so values are the same.
    mins = ", ".join(f"min(xxhash64(shingle, {k}))" for k in range(num_perm))
    return exploded.groupBy(id_col).agg(F.expr(f"array({mins})").alias("minhash"))


def _band_rows(
    sigs: DataFrame, id_col: str, out_id: str, *, num_perm: int, bands: int
) -> DataFrame:
    """``(out_id, bk: struct<band, bucket>, __sig)`` — one row per LSH
    band of an ``(id_col, minhash)`` signature frame: the projection
    shared by :func:`_banded_signatures` and the store append's
    row-wise signatures (``dedup_store._project``)."""
    rows_per_band = num_perm // bands

    def items(lo: int, hi: int) -> str:
        return ", ".join(f"minhash[{i}]" for i in range(lo, hi))

    # SQL strings for the same reason as minhash_signatures: as Column
    # calls the band structs and the signature hash were ~3,900 Py4J
    # round-trips per plan build
    band_structs = ", ".join(
        f"named_struct('band', {b}, 'bucket', xxhash64("
        f"{items(b * rows_per_band, (b + 1) * rows_per_band)}))"
        for b in range(bands)
    )
    return sigs.select(
        F.col(id_col).alias(out_id),
        F.explode(F.expr(f"array({band_structs})")).alias("bk"),
        F.expr(f"xxhash64({items(0, num_perm)})").alias("__sig"),
    )


def _banded_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    out_id: str,
    *,
    num_perm: int,
    bands: int,
    shingle_n: int,
    shingles_col: str | None = None,
) -> DataFrame:
    """``(out_id, bk: struct<band, bucket>, __sig)`` — one row per LSH
    band. ``__sig`` is an xxhash64 over the FULL signature: docs with
    equal ``__sig`` have (collision-negligibly) identical MinHash
    signatures, i.e. are near-certain duplicates of each other — the
    grouping key the hot-band guard stars by, so star edges verify by
    construction instead of against an arbitrary bucket hub."""
    sigs = minhash_signatures(
        df, text_col, id_col,
        num_perm=num_perm, shingle_n=shingle_n, shingles_col=shingles_col,
    )
    return _band_rows(sigs, id_col, out_id, num_perm=num_perm, bands=bands)


#: default hot-band guard cap, and the base of the ``"auto"`` ladder
DEFAULT_BAND_CAP = 1000


def resolve_band_cap(
    banded: DataFrame,
    keys: list[str],
    band_cap,
    *,
    sig_col: str | None = None,
    target_share: float = 0.02,
    ladder: int = 4,
) -> int | None:
    """Resolve a ``band_cap`` SPEC to a concrete cap (VERDICT r14 #6
    — the sizing guidance of the round-14 Zipf probe as a route,
    mirroring ``rerank="auto"`` / ``collapse_left="auto"``):

    - ``int`` / ``None``: passed through unchanged;
    - ``"auto"``: auto-size starting from :data:`DEFAULT_BAND_CAP`;
    - ``("auto", base)``: auto-size starting from ``base``.

    Auto-sizing runs the counts-only band audit ONCE (one groupBy over
    ``banded`` + a 1-row collect — the "run lsh_band_stats before you
    pick a cap" discipline, automated) and picks the smallest cap on
    the geometric ladder ``base * 4^i`` (``ladder`` rungs) whose
    union-bound share of declined pairs —
    ``cross_sig_missed_bound / unguarded_candidates``, the signal the
    round-14 probe validated as tracking the realized family-regime
    miss rate — is at most ``target_share``. The EASY regimes keep the
    base cap for free: a signature-identical family loses nothing to
    the guard (its bound is 0 at any cap), and an unsaturated corpus
    has bound 0 outright. Only the hard regime — near-identical
    families bigger than the base cap, whose distinct signatures make
    every declined pair a real recall loss — walks up the ladder. If
    even the top rung exceeds ``target_share`` it is returned anyway
    (a bounded candidate blow-up beats an unbounded quadratic at
    100 TB; the audit columns report the residual loss). Without
    ``sig_col`` the lost-pair bound is ``(m choose 2) - (m - 1)`` per
    saturated bucket (the single-hub star's accounting).

    Cross-face note: when the audited frame is the STANDING side of a
    cross join, the declined mass is really representative truncation
    (:func:`_guarded_cross_candidates`), not self-pair loss — the
    self-pair accounting used here is a conservative PROXY driven by
    the same saturated cross-signature mass (a bucket that would
    decline many self pairs is exactly one that holds more distinct
    families than the cap keeps representatives for), so the ladder
    walks up in the same regimes. MEASURED on the round-16 cross-face
    probe (SCALING.md "Round-16: cross-face auto-cap proxy VALIDATED"):
    in the hard Zipf regime the proxy resolves the same rung the
    cross face needs (realized pair miss 0.0 at the resolved cap),
    and the LEFT-verdict recall unit is lost at no rung at all — the
    proxy never under-raises there; both contracts are probe
    assertions."""
    if band_cap is None or isinstance(band_cap, int):
        return band_cap
    if band_cap == "auto":
        base = DEFAULT_BAND_CAP
    elif (
        isinstance(band_cap, tuple)
        and len(band_cap) == 2
        and band_cap[0] == "auto"
    ):
        base = int(band_cap[1])
    else:
        raise ValueError(
            "band_cap must be an int, None, 'auto' or ('auto', base); "
            f"got {band_cap!r}"
        )
    if base < 1:
        raise ValueError(f"auto band_cap base must be >= 1, got {base}")
    # Pair counts in DOUBLE, not long (ADVICE r15): m*(m-1)/2 on longs
    # overflows at m ~ 4.3e9 rows in one bucket — inside the 100 TB
    # envelope — and a wrapped sum silently corrupts the share
    # comparison below. The comparison needs a ratio, not exact
    # integers: doubles are exact to 2^53 pairs and carry the right
    # magnitude beyond, so the ladder walk stays correct at any m.
    pairs = F.expr("double(m) * (double(m) - 1) / 2")
    if sig_col is not None and sig_col in banded.columns:
        per = (
            banded.groupBy(*keys, sig_col)
            .agg(F.count(F.lit(1)).alias("__g"))
            .groupBy(*keys)
            .agg(
                F.sum("__g").alias("m"),
                F.sum(
                    F.expr("double(__g) * (double(__g) - 1) / 2")
                ).alias("sig_pairs"),
            )
        )
        kept = F.col("sig_pairs")
    else:
        per = banded.groupBy(*keys).agg(F.count(F.lit(1)).alias("m"))
        kept = (F.col("m") - 1).cast("double")
    caps = [base * (4 ** i) for i in range(max(1, int(ladder)))]
    zero = F.lit(0.0)
    row = per.agg(
        F.sum(pairs).alias("__u"),
        *[
            F.sum(
                F.when(F.col("m") > c, pairs - kept).otherwise(zero)
            ).alias(f"__b{i}")
            for i, c in enumerate(caps)
        ],
    ).collect()[0]
    unguarded = row["__u"] or 0
    for i, c in enumerate(caps):
        lost = row[f"__b{i}"] or 0
        if unguarded == 0 or lost / unguarded <= target_share:
            return c
    return caps[-1]


def _guarded_self_pairs(
    banded: DataFrame,
    keys: list[str],
    band_cap: int | None,
    payload: tuple[str, ...] = (),
    cache: bool = True,
    star_by: tuple[str, ...] = (),
) -> DataFrame:
    """Within-bucket candidate pairs ``(id_a, id_b[, <p>_a, <p>_b])``
    with ``id_a < id_b``, deduplicated, from a one-row-per-(member,
    bucket) frame ``banded(id, *keys[, *payload, *star_by])`` —
    guarded against HOT buckets.

    The naive bucket self-join emits m(m-1)/2 candidates for a bucket
    of m members: a boilerplate-heavy crawl shard that drops 10^5
    near-identical pages into one LSH band emits 5x10^9 candidate pairs
    before any dropDuplicates can run — AQE skew handling re-places the
    partition, it cannot remove the quadratic blow-up. The guard counts
    members per bucket first (one window over the SAME hash shuffle the
    self-join needs anyway, so no extra Exchange):

    - buckets with <= ``band_cap`` members take the normal self-join —
      byte-identical to the unguarded within-bucket pair set;
    - SATURATED buckets (> ``band_cap`` members) emit hub STARS
      instead: within each ``star_by`` group of the bucket (the
      caller's full-signature key — equal values mean
      collision-negligibly IDENTICAL signatures, i.e. near-certain
      duplicates), ``(group hub, member)`` for every member, hub =
      min id of the group — every such edge connects two
      signature-identical docs, so it passes the caller's exact
      verification BY CONSTRUCTION. PLUS (round 14) one CHAIN edge
      per additional group: ``(bucket hub, group hub)`` for every
      group hub other than the bucket's global min — hub-to-hub only,
      never member-to-foreign-hub, so the total stays EXACTLY
      ``m - 1`` edges per bucket ((m - #groups) star + (#groups - 1)
      chain). Chain edges are verification-GATED, not guaranteed:
      when a bucket is saturated by a NEAR-identical family (distinct
      shingle sets => singleton signature groups — the regime the
      round-14 Zipf probe measured), every member IS its own group
      hub, the chain is a full bucket star, and the verified
      survivors hand downstream connected components the whole family
      as ONE component; previously such buckets emitted ZERO edges
      and the members were orphaned out of the dedup verdict
      entirely. When a bucket is saturated by hash coincidence, the
      chain candidates simply fail verification (precision
      untouched). With ``star_by=()`` the whole bucket is one group
      (the degenerate single-hub star, chain empty).

    Every emitted pair still passes the caller's exact verification, so
    precision is untouched. Recall accounting (the discipline of the
    KMV hot-element prune in :func:`bottomk_sketch_pairs`): the PAIR
    SET is complete for signature-identical families (group stars +
    components rebuild them exactly) and inherently incomplete for
    cross-signature pairs in saturated buckets (any linear guard must
    decline most of a quadratic clique — `lsh_band_stats`'
    ``cross_sig_missed_bound`` counts exactly these); the chain edges
    guarantee the COMPONENT/dedup-verdict level instead: every member
    of a verified-similar family reaches the family hub through at
    most two verified edges. A true pair can escape candidates only
    when every bucket it shares is saturated AND the two docs sit in
    different groups — for MinHash at j >= threshold the docs co-occur
    in each other band with probability ~j^rows_per_band, so every
    one of those collisions must be saturated too. ``band_cap=None``
    disables the guard (the measured A/B path); :func:`lsh_band_stats`
    reports the candidate counts both ways.

    ``cache`` (default on): the annotated band frame feeds THREE
    consumers (both self-join sides + the star branch), and Spark
    plans each as its own subtree — without a pin, an expensive
    ``banded`` pipeline (the MinHash signature aggregation) computes
    three times. The persist materializes id+keys+count rows once
    (MEMORY_AND_DISK, ~40 B x n x bands for minhash — the same
    magnitude the candidate dedup shuffle writes anyway), registered
    with the persist tracker. Pass ``cache=False`` when ``banded`` is
    already a cheap co-located read — the bucketed dedup store, whose
    whole point is that re-scanning beats materializing.
    """
    payload = tuple(payload)
    out_cols = ["id_a", "id_b"] + [
        f"{p}_{s}" for p in payload for s in ("a", "b")
    ]

    def _side(frame: DataFrame, suffix: str) -> DataFrame:
        return frame.select(
            F.col("id").alias(f"id_{suffix}"),
            *[F.col(p).alias(f"{p}_{suffix}") for p in payload],
            *keys,
        )

    if band_cap is None:
        return (
            _side(banded, "a")
            .join(_side(banded, "b"), keys)
            .filter(F.col("id_a") < F.col("id_b"))
            .select(*out_cols)
            .dropDuplicates(["id_a", "id_b"])
        )
    if band_cap < 1:
        raise ValueError(f"band_cap must be >= 1 or None, got {band_cap}")
    w = Window.partitionBy(*keys)
    ann = banded.withColumn("__bn", F.count(F.lit(1)).over(w))
    if star_by:
        # bucket hub alongside the count: same window partitioning, so
        # the chain construction below adds NO Exchange beyond the one
        # the count already forced (with star_by=() the chain is empty
        # by construction and the hub column is skipped)
        ann = ann.withColumn(
            "__bhub", F.min(F.struct("id", *payload)).over(w)
        )
    if cache:
        from pyspark.storagelevel import StorageLevel

        ann = track_persist(ann.persist(StorageLevel.MEMORY_AND_DISK))
    small = ann.filter(F.col("__bn") <= band_cap).drop("__bn", "__bhub")
    # hub per (bucket, star_by) group — computed AFTER the saturation
    # filter (saturation is a whole-bucket property, so groups stay
    # intact) over the same clustered distribution
    wg = Window.partitionBy(*keys, *star_by)
    saturated = ann.filter(F.col("__bn") > band_cap).withColumn(
        # struct min orders by id first: the hub row's id AND
        # payload in one pass (payload columns ride only when
        # present)
        "__hub",
        F.min(F.struct("id", *payload)).over(wg),
    )
    star = (
        saturated.filter(F.col("id") != F.col("__hub.id"))
        .select(
            # hub = group min id, so id_a < id_b holds by construction
            F.col("__hub.id").alias("id_a"),
            F.col("id").alias("id_b"),
            *[F.col(f"__hub.{p}").alias(f"{p}_a") for p in payload],
            *[F.col(p).alias(f"{p}_b") for p in payload],
        )
        .select(*out_cols)
    )
    pairs = (
        _side(small, "a")
        .join(_side(small, "b"), keys)
        .filter(F.col("id_a") < F.col("id_b"))
        .select(*out_cols)
    )
    out = pairs.unionByName(star)
    if star_by:
        # CHAIN edges (round 14): one candidate per additional
        # signature group, bucket hub -> group hub. Emitted from the
        # group-hub rows only (id == group hub), so the edge count is
        # #groups - 1 per bucket — linear, and hub-to-hub only. With
        # star_by=() the whole bucket is one group (group hub ==
        # bucket hub), the chain is empty by construction, so the
        # branch — and its extra scan of the cached band frame — is
        # skipped entirely.
        chain = (
            saturated.filter(
                (F.col("id") == F.col("__hub.id"))
                & (F.col("id") != F.col("__bhub.id"))
            )
            .select(
                # bucket hub = bucket min id: id_a < id_b by construction
                F.col("__bhub.id").alias("id_a"),
                F.col("id").alias("id_b"),
                *[F.col(f"__bhub.{p}").alias(f"{p}_a") for p in payload],
                *[F.col(p).alias(f"{p}_b") for p in payload],
            )
            .select(*out_cols)
        )
        out = out.unionByName(chain)
    return out.dropDuplicates(["id_a", "id_b"])


def _guarded_cross_candidates(
    left_bands: DataFrame,
    right_bands: DataFrame,
    keys: list[str],
    band_cap: int | None,
    star_by: tuple[str, ...] = (),
) -> DataFrame:
    """Cross-corpus candidates ``(id_a, id_b)`` (``id_a`` from
    ``left_bands(id_a, *keys)``, ``id_b`` from
    ``right_bands(id_b, *keys[, *star_by])``), with the hot-band
    guard on the RIGHT (standing-corpus) side.

    An L-member shard bucket meeting an R-member standing bucket emits
    L*R candidates; with both sides boilerplate-heavy that is the same
    quadratic blow-up as the self-join. The guard reduces a saturated
    standing bucket (> ``band_cap`` members) to REPRESENTATIVE rows:
    the min-id member of each ``star_by`` signature group (equal
    values = collision-negligibly identical signatures, so the
    representative's verification verdict IS its group's verdict),
    deterministically ranked by representative id and truncated at
    ``band_cap`` of them — the bucket's candidates are bounded at
    L*band_cap while a shard doc matching ANY of up to band_cap
    distinct standing families still verifies against a
    signature-identical member of that family, not an arbitrary
    bucket hub. Every shard doc keeps its own verdict (the left side
    is never reduced). With ``star_by=()`` a saturated bucket
    degenerates to its single min-id hub — the coarsest bound.
    Representatives BEYOND the cap (only possible when one bucket
    holds > band_cap distinct signature families, i.e. the band is
    saturated by coincidence OR by a NEAR-identical family whose
    members all carry distinct signatures) are dropped and their
    families are reachable only through the shard doc's other bands —
    the tracked recall trade of capping. The round-14 self-face CHAIN
    edges are deliberately NOT mirrored here: the cross face's unit of
    recall is the LEFT doc's verdict (dup-against-the-store or not),
    and one verified pair against any surviving representative settles
    it — there is no component structure to rebuild, so a hub chain
    would add candidates without adding verdicts. A near-identical
    standing family truncated at the cap still exposes band_cap
    representatives per bucket x 16 bands, so a genuinely matching
    left doc collides with SOME representative with overwhelming
    probability (the round-14 Zipf probe's cross face).

    LEFT-side exposure (ADVICE r12): the left side is deliberately
    never reduced — every shard doc must own its verdict AND its
    exact per-pair jaccard, and unlike the self-join there is no
    star edge for downstream connected components to recover a
    collapsed left group from. The consequence: a hot LEFT bucket of
    L members still emits L*R candidates against an unsaturated
    standing bucket (and at most L*band_cap against a saturated one
    after the right reduction) — linear in the shard per bucket,
    never quadratic, but real cost when the shard dominates the
    store. For that workload, flip the frames (the larger corpus is
    the natural right/standing side) or audit the shard with
    :func:`lsh_band_stats` before pairing."""
    if band_cap is not None:
        if band_cap < 1:
            raise ValueError(
                f"band_cap must be >= 1 or None, got {band_cap}"
            )
        w = Window.partitionBy(*keys)
        wg = Window.partitionBy(*keys, *star_by)
        wr = Window.partitionBy(*keys).orderBy("id_b")
        ann = right_bands.withColumn("__bn", F.count(F.lit(1)).over(w))
        small = ann.filter(F.col("__bn") <= band_cap)
        reps = (
            ann.filter(F.col("__bn") > band_cap)
            .withColumn("__hub", F.min("id_b").over(wg))
            .filter(F.col("id_b") == F.col("__hub"))
            .withColumn("__rn", F.row_number().over(wr))
            .filter(F.col("__rn") <= band_cap)
            .drop("__rn", "__hub")
        )
        right_bands = small.unionByName(reps).drop("__bn")
    return (
        left_bands.join(right_bands.select("id_b", *keys), keys)
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )


def lsh_band_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    num_perm: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    band_cap: int | None = 1000,
) -> DataFrame:
    """Band-bucket cardinality audit for :func:`minhash_lsh_pairs` —
    the "would this corpus blow up the candidate join?" report to run
    BEFORE a full dedup pass (or to size ``band_cap``).

    One row: the candidate counts the band join would emit without
    (:math:`\\sum m(m-1)/2`) and with (saturated buckets contribute
    ``m - 1`` star edges) the hot-band guard, plus the recall
    telemetry columns (saturated row fraction, cross-signature missed
    bound/share, single-bucket miss probability) — see
    :func:`_band_stats_agg` for the exact column semantics. Same
    signature parameters as the pair functions; one extra aggregation
    over the band frame, nothing quadratic."""
    banded = _banded_signatures(
        df, text_col, id_col, "id",
        num_perm=num_perm, bands=bands, shingle_n=shingle_n,
    )
    return band_bucket_stats(
        banded, ["bk"], band_cap=band_cap, sig_col="__sig"
    )


def band_bucket_stats(
    banded: DataFrame,
    key_cols: list[str],
    *,
    band_cap: int | None = 1000,
    sig_col: str | None = None,
    id_col: str = "id",
) -> DataFrame:
    """Generic band-bucket cardinality audit over an ALREADY-banded
    frame (one row per (member, bucket), bucket identity =
    ``key_cols``) — the shared core of :func:`lsh_band_stats` and the
    store-side audit, public so ANY banding scheme (simhash blocks,
    dhash chunks, ANN band keys, a custom blocking key) can run the
    same saturation + recall-telemetry report before a pair join.
    ``sig_col`` names the signature-group column the hot-band guard
    stars by; without it the cross-signature telemetry columns are
    null (the guard would fall back to single-hub stars). ``id_col``
    names the member column for the per-member no-escape accounting
    (see :func:`_band_stats_agg`)."""
    if sig_col is not None:
        per = (
            banded.groupBy(*key_cols, sig_col)
            .agg(F.count(F.lit(1)).alias("__g"))
            .groupBy(*key_cols)
            .agg(
                F.sum("__g").alias("m"),
                F.sum(F.expr("__g * (__g - 1) div 2")).alias("sig_pairs"),
            )
        )
    else:
        per = banded.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("m"))
    id_stats = None
    if band_cap is not None and id_col not in banded.columns:
        # unknown member identity -> the no-escape accounting is
        # UNKNOWN (null), never silently zero (the null-without-sig
        # stance of the cross-sig columns)
        null = F.lit(None).cast("long")
        id_stats = banded.sparkSession.range(1).select(
            null.alias("__total_ids"),
            null.alias("no_escape_ids"),
            null.alias("saturated_member_ids"),
        )
    elif band_cap is not None:
        # per-MEMBER escape-hatch accounting (VERDICT r14 #1): a true
        # pair can only be missed if EVERY bucket the two docs share
        # is saturated, so a member with even one unsaturated bucket
        # still has an escape hatch. Members whose every band row
        # lands in a saturated bucket have none — the no-escape rows
        # are what a correlated (family-flooding) regime produces and
        # what the single-shared-bucket product factor cannot see.
        # One window over the bucket keys (the same clustering the
        # audit's groupBy uses) + one groupBy on the member id.
        if band_cap < 1:
            raise ValueError(
                f"band_cap must be >= 1 or None, got {band_cap}"
            )
        w = Window.partitionBy(*key_cols)
        per_id = (
            banded.withColumn(
                "__sat",
                (F.count(F.lit(1)).over(w) > band_cap).cast("long"),
            )
            .groupBy(id_col)
            .agg(
                F.count(F.lit(1)).alias("__nb"),
                F.sum("__sat").alias("__ns"),
            )
        )
        id_stats = per_id.agg(
            F.count(F.lit(1)).alias("__total_ids"),
            F.sum(
                (F.col("__ns") == F.col("__nb")).cast("long")
            ).alias("no_escape_ids"),
            F.sum((F.col("__ns") > 0).cast("long")).alias(
                "saturated_member_ids"
            ),
        )
    return _band_stats_agg(per, band_cap, id_stats=id_stats)


def _band_stats_agg(
    per_bucket: DataFrame,
    band_cap: int | None,
    id_stats: DataFrame | None = None,
) -> DataFrame:
    """Shared final aggregate of the band audits (:func:`lsh_band_stats`
    and the store-side :func:`polars_text_spark.operators.dedup_store.
    band_stats_from_store`): ``per_bucket`` is one row per bucket with
    member count ``m`` and (when the banding carries signatures)
    ``sig_pairs`` = Σ over the bucket's signature groups of
    ``(g choose 2)``. ``guarded_candidates`` counts ``m - 1`` per
    saturated bucket — the guard's per-bucket UPPER bound (signature-
    grouped stars emit ``m - #groups``).

    Recall telemetry (VERDICT r12 #5) — the empirical counterpart of
    the miss-probability derivation in :func:`_guarded_self_pairs`:

    - ``saturated_member_rows`` / ``saturated_row_fraction``: band
      rows inside saturated buckets, absolute and as a share of all
      band rows — the per-shared-bucket probability factor (a true
      pair sharing k buckets is missed only if ALL k are saturated,
      so its bound carries this factor ~k times);
    - ``cross_sig_missed_bound``: Σ over saturated buckets of
      ``(m choose 2) - sig_pairs`` — the union upper bound on
      candidate pairs the guard declines to emit (signature-identical
      pairs are never lost: group stars + connected components
      recover them); null when the banding carries no signature
      column (pre-sig stores — the guard there stars an arbitrary
      hub, so the loss is not bounded by this accounting);
    - ``cross_sig_share``: that bound over all within-saturated-bucket
      pairs — the second probability factor (a missed pair must also
      be cross-signature); null when nothing is saturated;
    - ``est_miss_prob``: the product of the two factors — the
      single-shared-bucket factor: the chance a RANDOMLY-PLACED pair
      sharing one bucket lands in a saturated, cross-signature
      position. It is NOT a bound on the realized miss RATE when
      saturation is CORRELATED — a near-identical family (jaccard
      ~0.9+, distinct signatures) floods EVERY band with its own hot
      buckets, so each family pair's shared buckets are all saturated
      no matter how small the corpus-global row fraction is. Measured
      (SCALING.md round-14, Zipf near-identical families): actual
      miss rate 0.99 at cap 8 with ``est_miss_prob`` 0.13, while
      ``cross_sig_missed_bound`` held (union bound on candidates) and
      ``cross_sig_missed_bound / unguarded_candidates``
      (0.967/0.941/0.757 at caps 8/32/128) tracked the realized rate
      (0.995/0.953/0.644). Read ``est_miss_prob`` for isolated hash
      hot spots; when ``saturated_row_fraction`` is driven by
      FAMILIES, size recall by the bound/unguarded ratio and raise
      ``band_cap`` (or collapse exact duplicates upstream —
      ``collapse_left``) instead of trusting the product factor.

    Regime-aware columns (round 15, VERDICT r14 #1 — the number an
    operator can actually size recall from at 100 TB, instead of the
    docstring caveat above), from ``id_stats`` (one row:
    ``__total_ids``, ``no_escape_ids``, ``saturated_member_ids`` —
    per-member counts over the banded frame):

    - ``saturated_member_ids``: distinct members with >= 1 band row
      in a saturated bucket;
    - ``no_escape_ids`` / ``no_escape_id_fraction``: distinct members
      whose EVERY band row sits in a saturated bucket — no escape
      hatch: any true cross-signature pair between two such members
      is declined in every shared bucket. Random hash hot spots leave
      this ~0 (other bands stay unsaturated); a near-identical family
      flooding every band drives it to ~the family share — the exact
      signal that separates the two regimes;
    - ``est_family_miss_rate``: ``max(0, cross_sig_missed_bound -
      escape_pairs) / unguarded_candidates`` where ``escape_pairs`` is
      the cross-signature pair count co-located in UNSATURATED buckets
      (Σ over them of ``(m choose 2) - sig_pairs``) — a declined pair
      is only RESCUED when the two docs land together in some
      unsaturated bucket, so the rescue mass is bounded by the
      pairs those buckets actually hold (a member-level escape hatch
      is not enough: the round-15 probe measured a member-fraction
      discount understating by 25x in the moderate regime, because a
      side bucket only saves the pairs inside it). The subtraction
      makes the estimator ~the bound share in the family-flooding
      regime (escape mass tiny), ~0 on isolated hash hot spots
      (everything co-locates in unsaturated buckets elsewhere), and
      exactly 0 on the signature-identical easy regime (the bound is
      0). On the round-15 Zipf probe (SCALING.md
      "est_family_miss_rate: a band-cap miss number an operator can
      size from") it lands within 2x of the
      realized miss rate at every cap. A heuristic ESTIMATOR, not a
      bound (the union bound double-counts pairs sharing several
      saturated buckets; the rescue term double-counts pairs sharing
      several unsaturated ones) — size recall from it, prove recall
      with ``cross_sig_missed_bound``. Null when the banding carries
      no signature column.
    """
    has_sig = "sig_pairs" in per_bucket.columns
    unguarded = F.expr("m * (m - 1) div 2")
    if band_cap is None:
        saturated = F.lit(False)
        guarded = unguarded
    else:
        if band_cap < 1:
            raise ValueError(
                f"band_cap must be >= 1 or None, got {band_cap}"
            )
        saturated = F.col("m") > band_cap
        guarded = F.when(saturated, F.col("m") - 1).otherwise(unguarded)
    zero = F.lit(0).cast("long")
    sat_rows = F.sum(F.when(saturated, F.col("m")).otherwise(zero))
    sat_pairs = F.sum(F.when(saturated, unguarded).otherwise(zero))
    cross = (
        F.sum(
            F.when(saturated, unguarded - F.col("sig_pairs")).otherwise(zero)
        )
        if has_sig
        else F.lit(None).cast("long")
    )
    escape = (
        F.sum(
            F.when(~saturated, unguarded - F.col("sig_pairs")).otherwise(zero)
        )
        if has_sig
        else F.lit(None).cast("long")
    )
    agg = per_bucket.agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.max("m").alias("max_bucket_size"),
        F.sum(saturated.cast("long")).alias("n_saturated_buckets"),
        F.sum(unguarded).alias("unguarded_candidates"),
        F.sum(guarded).alias("guarded_candidates"),
        sat_rows.alias("saturated_member_rows"),
        F.sum("m").alias("__total_rows"),
        cross.alias("cross_sig_missed_bound"),
        escape.alias("__escape_pairs"),
        sat_pairs.alias("__saturated_pairs"),
    )
    if id_stats is None:
        zero = F.lit(0).cast("long")
        id_stats = per_bucket.sparkSession.range(1).select(
            zero.alias("__total_ids"),
            zero.alias("no_escape_ids"),
            zero.alias("saturated_member_ids"),
        )
    agg = agg.crossJoin(id_stats)  # 1 row x 1 row
    frac = F.col("saturated_member_rows") / F.col("__total_rows")
    share = F.when(
        F.col("__saturated_pairs") > 0,
        F.col("cross_sig_missed_bound") / F.col("__saturated_pairs"),
    )
    no_escape_frac = F.when(
        F.col("__total_ids") > 0,
        F.col("no_escape_ids") / F.col("__total_ids"),
    ).when(F.col("__total_ids") == 0, F.lit(0.0))  # null stays null
    family = F.when(
        (F.col("unguarded_candidates") > 0)
        # greatest() skips nulls, so guard explicitly: no sig column
        # means the estimate is UNKNOWN (null), never silently 0
        & F.col("cross_sig_missed_bound").isNotNull(),
        F.greatest(
            F.col("cross_sig_missed_bound") - F.col("__escape_pairs"),
            F.lit(0).cast("long"),
        )
        / F.col("unguarded_candidates"),
    )
    return agg.select(
        "n_buckets",
        "max_bucket_size",
        "n_saturated_buckets",
        "unguarded_candidates",
        "guarded_candidates",
        "saturated_member_rows",
        frac.alias("saturated_row_fraction"),
        "cross_sig_missed_bound",
        share.alias("cross_sig_share"),
        (frac * share).alias("est_miss_prob"),
        "saturated_member_ids",
        "no_escape_ids",
        no_escape_frac.alias("no_escape_id_fraction"),
        family.alias("est_family_miss_rate"),
    )


def _jaccard_filter(pairs: DataFrame, threshold: float) -> DataFrame:
    """The one exact-Jaccard filter: ``pairs(id_a, id_b, sh_a, sh_b)``
    -> ``(id_a, id_b, jaccard)`` with ``jaccard >= threshold``, over
    hashed shingle sets.

    Materialize the intersection size once per pair — array_intersect
    is expensive and Catalyst won't re-inline a non-cheap alias used
    twice (CollapseProject isCheap guard). The size-ratio prefilter is
    the lossless PPJoin length bound: jaccard(a,b) >= t implies
    |a| >= t * |b| (and vice versa), so mismatched sizes skip the
    intersection entirely. The 1e-9 slack keeps double rounding of
    t*|b| from excluding an exact-boundary pair (the filter only
    prunes; the exact jaccard test downstream decides)."""
    return (
        pairs.filter(
            F.least(F.size("sh_a"), F.size("sh_b"))
            >= threshold * F.greatest(F.size("sh_a"), F.size("sh_b")) - 1e-9
        )
        .withColumn("__inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.col("__inter")
            / (F.size("sh_a") + F.size("sh_b") - F.col("__inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _verify_jaccard(
    cand: DataFrame,
    a: DataFrame,
    b: DataFrame,
    threshold: float,
) -> DataFrame:
    """Exact-Jaccard verification of candidate ``(id_a, id_b)`` pairs:
    join ``id_a`` to the hashed shingle sets ``a(id, sh)`` and ``id_b``
    to ``b(id, sh)``, then :func:`_jaccard_filter`."""
    return _jaccard_filter(
        cand.join(
            a.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a")),
            "id_a",
        ).join(
            b.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b")),
            "id_b",
        ),
        threshold,
    )


def _shingle_sets(
    df: DataFrame, text_col: str, id_col: str, shingle_n: int
) -> DataFrame:
    """``(id, sh)``: the hashed shingle set of every doc."""
    return df.select(
        F.col(id_col).alias("id"),
        token_shingles(text_col, shingle_n, hashed=True).alias("sh"),
    )


def _resolve_cap(
    banded: DataFrame,
    keys: list[str],
    band_cap,
    star_by: tuple[str, ...],
    *,
    pin: bool,
) -> tuple[DataFrame, int | None]:
    """``(banded, cap)`` for a ``band_cap`` spec: the one route to
    :func:`resolve_band_cap`, auditing with ``star_by``'s column as
    the signature group. ``pin`` persists ``banded`` before an
    ``"auto"`` audit so an in-flight pipeline computes once for the
    audit and the pair join; store scans and already-persisted frames
    pass ``False``."""
    if band_cap is None or isinstance(band_cap, int):
        return banded, band_cap
    if pin:
        banded = track_persist(banded.persist())
    return banded, resolve_band_cap(
        banded, keys, band_cap, sig_col=star_by[0] if star_by else None
    )


def _self_pairs(
    banded: DataFrame,
    sh: DataFrame,
    keys: list[str],
    star_by: tuple[str, ...],
    band_cap,
    threshold: float,
    *,
    pin: bool = True,
) -> DataFrame:
    """The MinHash self-pair tail (module docs): ``band_cap`` spec ->
    guarded within-bucket candidates (:func:`_guarded_self_pairs`,
    starring by ``star_by``) -> exact Jaccard against ``sh(id, sh)``.
    ``banded(id, *keys, *star_by)`` has one row per (doc, band);
    ``pin`` is :func:`_resolve_cap`'s and also the guard's ``cache``."""
    banded, band_cap = _resolve_cap(banded, keys, band_cap, star_by, pin=pin)
    cand = _guarded_self_pairs(
        banded, keys, band_cap, cache=pin, star_by=star_by
    )
    return _verify_jaccard(cand, sh, sh, threshold)


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    num_perm: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.7,
    band_cap: int | None = 1000,
) -> DataFrame:
    """Near-duplicate candidate pairs via banded MinHash, verified with
    exact shingle Jaccard. Returns ``(id_a, id_b, jaccard)``, id_a < id_b.

    Shuffle profile: one agg for signatures, one equi-join on
    (band_idx, band_hash) — never a cross join. Band buckets holding
    more than ``band_cap`` members emit hub-star candidates (linear in
    the bucket) instead of the m^2/2 within-bucket clique — the
    hot-band guard, see :func:`_guarded_self_pairs` for the exact
    semantics and recall accounting; ``band_cap=None`` disables it;
    ``"auto"`` / ``("auto", base)`` sizes the cap from the counts-only
    band audit (:func:`resolve_band_cap` — round 15).
    """
    banded = _banded_signatures(
        df, text_col, id_col, "id",
        num_perm=num_perm, bands=bands, shingle_n=shingle_n,
    )
    return _self_pairs(
        banded, _shingle_sets(df, text_col, id_col, shingle_n),
        ["bk"], ("__sig",), band_cap, jaccard_threshold,
    )


def _collapse_left_groups(
    left: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int,
    *,
    probe: bool = True,
) -> tuple[DataFrame, DataFrame] | None:
    """Exact-duplicate collapse of a cross-join's LEFT side: docs with
    IDENTICAL hashed shingle SETS (the order-canonicalized array is
    the group key) have identical Jaccard against every right doc, so
    ONE representative per group carries the whole group's verdicts
    and the pairs fan back afterwards — output identical to the
    uncollapsed run BY CONSTRUCTION, while a 10^5-member boilerplate
    shard family contributes 10^5x fewer candidates, verifications,
    AND MinHash signatures. This is the left-side counterpart of the
    hot-band guard that preserves exactness (the left side cannot be
    starred — every member needs its own verdict — but set-identical
    members share one; ADVICE r12).

    Returns ``(reps, members)`` — ``reps(id_a, sh_a, __g)``, the
    min-id representative row per group (banding and verification
    read ``sh_a``), and ``members(id_a, __g)`` for the
    fan-back join — or **None when ``probe=True`` and the left side
    has NO duplicate groups**: the probe (one EAGER pass computing the
    map-side group key into a count-distinct — a driver action inside
    this DataFrame-building API, which is why a STREAMING left frame
    is rejected up front) found nothing to collapse, so the caller
    should run the plain uncollapsed pipeline instead of paying the
    semi-join + fan-back machinery for nothing. ``probe=False``
    (``collapse_left=True``, round 14) skips the probe job and always
    collapses — for callers who KNOW the shard is boilerplate-heavy;
    output-identical either way. Measured at sf0.1 on a duplicate-free
    2,500-doc left: full collapse machinery +24%, the probe alone
    ~1/3 of that.

    Input contract: ``left`` must be DETERMINISTIC across re-
    evaluations (no un-checkpointed ``sample()``/``limit()`` over an
    unordered frame) — the frame is traversed multiple times (probe,
    member map, representative recovery), and a frame that returns
    different rows per pass has no well-defined collapse. The group
    key of each REPRESENTATIVE is taken from the persisted member map
    by join (never recomputed from a second traversal, ADVICE r13),
    so the fan-back can never disagree with the membership; the
    residual exposure of a non-deterministic input is the same
    wrong-rows-out as every other multi-pass operator.

    Shuffle discipline: only SCALARS move. The group key is computed
    map-side per row, the min-id aggregation shuffles (id, key) pairs
    with map-side combine, and the representatives' text/shingles are
    recovered with a semi-join against the original frame — the
    shingle arrays themselves never enter an Exchange (the first cut
    aggregated min(struct(id, text, shingles)) and shuffled every
    array: +1.7x on a duplicate-free shard, measured)."""
    if left.isStreaming:
        raise ValueError(
            "collapse_left requires a batch left frame (the collapse "
            "probe and member map are eager multi-pass constructions); "
            "collapse inside foreachBatch instead"
        )
    g = F.xxhash64(
        F.array_sort(token_shingles(text_col, shingle_n, hashed=True))
    )
    if probe:
        # persist-FREE probe: one map-side pass into a two-stage scalar
        # aggregate; the common (nothing-to-collapse) case pays exactly
        # this and nothing else
        stats = left.select(g.alias("__g")).agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct("__g").alias("groups"),
        ).collect()[0]
        if stats["groups"] == stats["n"]:
            return None
    # duplicates exist (or the caller asserted so): build the member
    # map once, pinned for its THREE consumers (rep-id aggregation,
    # rep group-key recovery, fan-back)
    members = track_persist(
        left.select(F.col(id_col).alias("id_a"), g.alias("__g")).persist()
    )
    rep_ids = members.groupBy("__g").agg(F.min("id_a").alias("id_a"))
    # join BEFORE deriving shingles so only surviving (representative)
    # rows pay the shingle expression; the rep's __g comes from the
    # PERSISTED member map (not a recompute over a second traversal)
    reps = (
        left.select(
            F.col(id_col).alias("id_a"), F.col(text_col).alias("__text")
        )
        .join(rep_ids.select("id_a"), "id_a", "left_semi")
        .join(members, "id_a")
        .withColumn(
            "sh_a", token_shingles("__text", shingle_n, hashed=True)
        )
        .select("id_a", "sh_a", "__g")
    )
    return reps, members


def _fan_back_left(
    pairs: DataFrame, reps: DataFrame, members: DataFrame
) -> DataFrame:
    """Replicate each representative's verified pairs to every member
    of its identical-shingle group (identical sets => identical
    jaccard, so the values are exact for every member)."""
    rep_groups = reps.select(F.col("id_a").alias("__rep"), "__g").join(
        members.select(F.col("id_a").alias("__member"), "__g"), "__g"
    )
    return (
        pairs.withColumnRenamed("id_a", "__rep")
        .join(rep_groups, "__rep")
        .select(F.col("__member").alias("id_a"), "id_b", "jaccard")
    )


def _cross_pairs(
    left: DataFrame,
    band_left,
    right_bands: DataFrame,
    b: DataFrame,
    keys: list[str],
    star_by: tuple[str, ...],
    band_cap,
    collapse_left,
    threshold: float,
    *,
    text_col: str,
    id_col: str,
    shingle_n: int,
    pin: bool = True,
) -> DataFrame:
    """The MinHash cross-pair tail (module docs): ``collapse_left``
    mode -> the left stage -> ``band_cap`` spec -> guarded cross
    candidates (:func:`_guarded_cross_candidates`) -> exact Jaccard ->
    fan-back of collapsed left groups.

    ``left(id_col, text_col)`` is the new shard. Its stage
    ``(id, sh)`` holds the hashed shingle sets of the shard itself or,
    when ``collapse_left`` engages, of its group representatives
    (:func:`_collapse_left_groups`), and is the verification side;
    ``band_left(stage)`` returns the left bands ``(id_a, *keys)``.
    ``right_bands(id_b, *keys, *star_by)`` and ``b(id, sh)`` are the
    standing side; ``pin`` is :func:`_resolve_cap`'s for
    ``right_bands``."""
    if collapse_left not in (False, True, "auto"):
        raise ValueError(
            f"collapse_left must be False, True or 'auto', got "
            f"{collapse_left!r}"
        )
    collapsed = None
    if collapse_left:
        # None: the probe found nothing to collapse
        collapsed = _collapse_left_groups(
            left, text_col, id_col, shingle_n,
            probe=(collapse_left == "auto"),
        )
    if collapsed is None:
        stage = _shingle_sets(left, text_col, id_col, shingle_n)
    else:
        stage = collapsed[0].select(
            F.col("id_a").alias("id"), F.col("sh_a").alias("sh")
        )
    left_bands = band_left(stage)
    right_bands, band_cap = _resolve_cap(
        right_bands, keys, band_cap, star_by, pin=pin
    )
    cand = _guarded_cross_candidates(
        left_bands, right_bands, keys, band_cap, star_by=star_by
    )
    pairs = _verify_jaccard(cand, stage, b, threshold)
    if collapsed is not None:
        pairs = _fan_back_left(pairs, *collapsed)
    return pairs


def minhash_lsh_cross_pairs(
    left: DataFrame,
    right: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    num_perm: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.7,
    band_cap: int | None = 1000,
    collapse_left: bool | str = False,
) -> DataFrame:
    """Cross-CORPUS near-dup pairs: every ``left`` doc within
    ``jaccard_threshold`` of some ``right`` doc — the incremental-
    ingest shape (dedupe a new crawl shard against the standing
    corpus) and the fuzzy big brother of benchmark decontamination.

    Returns ``(id_a, id_b, jaccard)`` with ``id_a`` from ``left`` and
    ``id_b`` from ``right`` (the id spaces may overlap; no ordering
    constraint is imposed between them). Same shuffle profile as
    :func:`minhash_lsh_pairs` — signatures are one agg per side and
    candidates come from the band equi-join, so the standing corpus is
    never re-paired against itself (that join's left side is only the
    new shard's bands). At j >= 0.9 with 16x4 banding, UNGUARDED
    (``band_cap=None``) recall is 1 - 4e-8: that output is effectively
    the exact cross-pair set. With the default cap, standing-side band
    buckets above ``band_cap`` members are reduced to one
    representative per signature family, truncated at ``band_cap``
    representatives (the hot-band guard,
    :func:`_guarded_cross_candidates` — see there for the exact
    recall accounting and the left-side exposure of a shard-heavy
    workload); a pair whose EVERY shared bucket is saturated past
    ``band_cap`` distinct families can be missed, so quote the 1-4e-8
    figure only for the unguarded bound. ``band_cap="auto"`` /
    ``("auto", base)`` sizes the cap from the standing side's
    counts-only band audit (:func:`resolve_band_cap` — round 15).

    ``collapse_left`` (round 13; ``"auto"`` round 14): left docs with
    IDENTICAL shingle sets collapse to one representative through the
    whole pipeline (signatures, candidates, verification) and the
    verified pairs fan back to every member afterwards — OUTPUT
    IDENTICAL by construction (jaccard is a function of the shingle
    set), while a boilerplate-heavy shard stops paying per-member cost
    for its hot left buckets: the exact 10M-pair answer of a 1,000-doc
    identical shard family vs a 10k standing family drops 17.4 s ->
    4.2 s in-flight and 43.0 s -> 2.4 s on the store path (SCALING.md
    round-13). Three modes, mirroring ``rerank="auto"``:

    - ``False`` (default): never collapse — the GUARDED path is never
      quadratic anyway (a hot left bucket is bounded at L x band_cap
      by the standing-side reduction), and the collapse machinery
      costs 2-3 extra jobs a duplicate-free shard pays for nothing;
    - ``"auto"``: one eager probe job (a map-side count-distinct of
      the group key — requires a batch, deterministic left frame)
      decides; the collapse engages only when duplicate groups exist;
    - ``True``: collapse unconditionally, skipping the probe — for
      callers who KNOW the shard is boilerplate-heavy (round 14; True
      probed first in round 13, which is what ``"auto"`` now does).

    Near-identical-but-distinct left docs still fan out — that
    residual is the documented trade."""
    band = dict(num_perm=num_perm, bands=bands, shingle_n=shingle_n)
    return _cross_pairs(
        left,
        lambda stage: _banded_signatures(
            stage, text_col, "id", "id_a", shingles_col="sh", **band
        ),
        _banded_signatures(right, text_col, id_col, "id_b", **band),
        _shingle_sets(right, text_col, id_col, shingle_n),
        ["bk"], ("__sig",), band_cap, collapse_left, jaccard_threshold,
        text_col=text_col, id_col=id_col, shingle_n=shingle_n,
    )


def simhash(text_col, *, bits: int = 64, token_hash=None):
    """64-bit SimHash of whitespace tokens as a single long — built-ins
    only. Per bit: majority vote of the token-hash bits.

    ``token_hash`` (Column -> long Column) defaults to ``xxhash64`` —
    the fast JVM path. Pass :func:`sha_token_hash` for an
    engine-portable hash (sha256 hex prefix) that a SQL oracle can
    reproduce bit-for-bit; its 60-bit range leaves vote slots 60-62
    permanently negative (bits clear) on both engines, which is
    harmless for Hamming distances.

    Single pass over the token array: the accumulator is a 63-slot vote
    vector updated via zip_with against a bit-mask literal array, so
    the expression tree stays O(1) in depth instead of one full array
    traversal per bit. Bit 63 (sign) is left clear so values stay
    positive."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    tokens = F.split(F.trim(F.lower(c)), r"\s+")
    hasher = token_hash if token_hash is not None else F.xxhash64
    hashes = F.transform(tokens, lambda t: hasher(t))
    masks = F.array(*[F.lit(1 << i).cast("long") for i in range(bits - 1)])
    zeros = F.array_repeat(F.lit(0), bits - 1)
    votes = F.aggregate(
        hashes,
        zeros,
        lambda acc, h: F.zip_with(
            acc,
            masks,
            lambda a, m: a + F.when(h.bitwiseAND(m) != 0, 1).otherwise(-1),
        ),
    )
    return F.aggregate(
        F.zip_with(
            votes,
            masks,
            lambda v, m: F.when(v > 0, m).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def sha_token_hash(t):
    """Engine-portable 60-bit token hash: the first 15 hex chars of
    sha256, as a long. DuckDB computes the identical value via
    ``('0x' || substr(sha256(t), 1, 15))::BIGINT``, which makes
    SimHash (and its pigeonhole blocking) oracle-checkable end to
    end. Slower than xxhash64 — use for auditing, not the hot path."""
    return F.conv(F.substring(F.sha2(t, 256), 1, 15), 16, 10).cast("long")


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    max_hamming: int = 3,
    token_hash=None,
    band_cap: int | None = 1000,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance <= ``max_hamming``.

    Pigeonhole blocking: split the 64-bit hash into 4 x 16-bit chunks;
    any pair within distance 3 shares at least one exact chunk, so the
    join is an equi-join on (chunk_idx, chunk_value). Chunk blocks
    above ``band_cap`` members emit per-signature-group star
    candidates instead of the within-block clique (the hot-band
    guard, :func:`_guarded_self_pairs` — the 16-bit chunk of a
    boilerplate family is exactly the kind of key 10^5 near-identical
    pages share; stars group by the FULL simhash so every star edge is
    hamming 0). Capacity note: a 16-bit chunk has 65,536 values, so at
    ~band_cap * 65536 docs (~65M at the default) blocks saturate with
    UNRELATED docs too — pairs between distinct signatures whose every
    shared chunk block is saturated are then dropped; at that corpus
    size the 4x16 pigeonhole itself is out of capacity and the scheme
    wants more/wider chunks (or MinHash banding, whose 64-bit buckets
    only saturate on true families). ``band_cap=None`` disables the
    guard; ``"auto"`` / ``("auto", base)`` sizes it from the
    counts-only block audit (:func:`resolve_band_cap` — round 15; the
    signature group here is the full simhash, so near-identical
    families with distinct hashes are exactly the regime that raises
    the cap)."""
    hashed = df.select(
        F.col(id_col).alias("id"),
        simhash(text_col, token_hash=token_hash).alias("sh"),
    )
    chunks = F.array(
        *[
            F.struct(
                F.lit(i).alias("ci"),
                F.shiftright(F.col("sh"), 16 * i)
                .bitwiseAND(F.lit(0xFFFF))
                .alias("cv"),
            )
            for i in range(4)
        ]
    )
    blocked = hashed.select("id", "sh", F.explode(chunks).alias("ck"))
    # star_by the FULL simhash: members of a saturated chunk block
    # star only with signature-identical docs (hamming 0 — verified by
    # construction), never against an arbitrary block hub that the
    # <= max_hamming verify would reject
    blocked, band_cap = _resolve_cap(
        blocked, ["ck"], band_cap, ("sh",), pin=True
    )
    pairs = _guarded_self_pairs(
        blocked, ["ck"], band_cap, payload=("sh",), star_by=("sh",)
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        pairs.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    block_cols: tuple[str, ...] = (),
    shingle_n: int = 3,
    threshold: float = 0.5,
    strategy: str = "auto",
    allow_unblocked_pairwise: bool = False,
) -> DataFrame:
    """Exact token-shingle Jaccard pairs — two physical strategies with
    identical output:

    - ``"pairwise"``: block-equi-join of whole shingle arrays, then
      array_intersect per pair. O(block^2) pairs; right for many SMALL
      blocks (the verification path for the approximate strategies).
    - ``"setjoin"``: prefix-filtered set-similarity join
      (:func:`set_similarity_jaccard_pairs`) — candidates come from an
      equi-join on individual prefix shingles, never from a block
      cross join. The 100 TB shape for big/unblocked corpora at
      meaningful thresholds.
    - ``"countjoin"``: exploded intersection counting
      (:func:`count_join_jaccard_pairs`) — the low-threshold scale
      shape, where prefix AND length filters approach no-ops and
      shipping whole arrays into pairs dominates.
    - ``"auto"``: countjoin when ``t < 0.2`` (prefix/length filters
      can't prune); setjoin otherwise. Purely threshold-driven — no
      data inspection, so plan construction stays LAZY (no Spark job
      fires until the result is acted on). Setjoin's candidate join
      includes the block columns, so blocked inputs are handled; pass
      ``strategy="pairwise"`` explicitly when you KNOW every block is
      tiny (a few thousand rows) and want to skip the prefix
      machinery.

    Requires ``threshold > 0``: at t <= 0 every strategy except the
    block cross join silently drops zero-overlap pairs, and "all pairs
    of the corpus" is a cross join, not a dedup predicate.

    ``strategy="pairwise"`` with EMPTY ``block_cols`` is a whole-corpus
    ``crossJoin`` — O(n^2) pairs, the classic scale cliff. It raises
    unless ``allow_unblocked_pairwise=True`` (legitimate only for tiny
    calibration corpora); the scale-safe unblocked shapes are
    ``"setjoin"`` / ``"countjoin"`` (and ``"auto"``, which picks
    between them).
    """
    if strategy not in ("auto", "pairwise", "setjoin", "countjoin"):
        raise ValueError(f"unknown strategy '{strategy}'")
    if threshold <= 0:
        raise ValueError("ngram_jaccard_pairs requires threshold > 0")
    if (
        strategy == "pairwise"
        and not block_cols
        and not allow_unblocked_pairwise
    ):
        raise ValueError(
            "ngram_jaccard_pairs(strategy='pairwise') with no block_cols "
            "is an all-pairs crossJoin of the corpus — O(n^2) at scale. "
            "Use strategy='setjoin' (prefix-filtered, the unblocked-safe "
            "shape: set_similarity_jaccard_pairs), strategy='countjoin', "
            "or pass allow_unblocked_pairwise=True for a tiny calibration "
            "corpus."
        )
    if strategy == "auto":
        strategy = "countjoin" if threshold < 0.2 else "setjoin"
    if strategy == "countjoin":
        return count_join_jaccard_pairs(
            df,
            text_col,
            id_col,
            block_cols=block_cols,
            shingle_n=shingle_n,
            threshold=threshold,
        )
    if strategy == "setjoin":
        return set_similarity_jaccard_pairs(
            df,
            text_col,
            id_col,
            block_cols=block_cols,
            shingle_n=shingle_n,
            threshold=threshold,
        )
    pairs = _blocked_shingle_self_join(
        df, text_col, id_col, block_cols, shingle_n
    )
    return _jaccard_filter(pairs, threshold)


def set_similarity_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    block_cols: tuple[str, ...] = (),
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Prefix-filtered set-similarity join: exact Jaccard >= t pairs
    WITHOUT a block cross join (same output as the pairwise form).

    PPJoin-style plan (Xiao et al., WWW'08), all JVM built-ins:

    1. shingle sets per doc (hashed longs), persisted (consumed 3x);
    2. each doc keeps only its PREFIX — the first
       ``|s| - ceil(t*|s|) + 1`` shingles under the hash-value total
       order, computed per row with array_sort + slice (no shuffle).
       Any pair with jaccard >= t must share >= 1 prefix shingle:
       j >= t implies |inter| >= ceil(t * max(|a|,|b|)), and missing
       the whole prefix of either side caps |inter| at
       ceil(t*|s|) - 1. The lemma holds for ANY consistent total
       order; hash order is a uniform random sample of the set, and
       skipping the classic frequency-ascending refinement saves a
       global frequency agg + join + per-doc window (measured faster
       here; revisit if a corpus has extreme shingle skew);
    3. candidates = equi-join of prefix rows on the shingle value
       (plus block cols if any) — shuffles (shingle -> id), never
       whole arrays into a cross join;
    4. exact verification per candidate pair (length bound +
       array_intersect), identical to the pairwise path.

    Requires ``threshold > 0``: zero-overlap pairs never share a
    prefix shingle, so t <= 0 (jaccard >= 0 matches EVERY pair) cannot
    be answered by this plan.
    """
    if threshold <= 0:
        raise ValueError("set_similarity_jaccard_pairs requires threshold > 0")
    from pyspark.storagelevel import StorageLevel

    sh_full = df.select(
        *block_cols,
        F.col(id_col).alias("id"),
        token_shingles(text_col, shingle_n, hashed=True).alias("sh"),
    )
    # Consumed 3x (prefix generation + both verification sides):
    # persist the hashed sets (longs, ~1% of the raw text) rather than
    # re-scan + re-shingle. Spills to disk; registered with the persist
    # tracker — callers release via release_tracked() after the final
    # consuming action (persist.py module docs). Persist BEFORE the
    # emptiness filter: filtered directly, PushDownPredicate inlines
    # the whole shingle expression into a scan-stage Filter and it
    # computes twice (the bottomk lesson above).
    sh_full = track_persist(sh_full.persist(StorageLevel.MEMORY_AND_DISK))
    sh_full = sh_full.filter(F.size("sh") > 0)
    # ceil over double arithmetic can land just ABOVE the exact
    # integer product and shorten the prefix below the lossless bound;
    # the 1e-9 subtraction only ever LENGTHENS the prefix (more
    # candidates, never fewer).
    prefix_len = (
        F.size("sh") - F.ceil(F.lit(threshold) * F.size("sh") - F.lit(1e-9)) + 1
    ).cast("int")
    # explode_outer: avoid the inferred size()>0 filter re-running
    # array_sort per row (InferFiltersFromGenerate trap — SCALING.md)
    prefix = sh_full.select(
        *block_cols,
        "id",
        F.explode_outer(
            F.slice(F.array_sort("sh"), F.lit(1), prefix_len)
        ).alias("tk"),
    ).filter(F.col("tk").isNotNull())
    on = [f"__b_{c}" for c in block_cols] + ["tk"]
    a = prefix.select(
        *[F.col(c).alias(f"__b_{c}") for c in block_cols],
        F.col("id").alias("id_a"),
        "tk",
    )
    b = prefix.select(
        *[F.col(c).alias(f"__b_{c}") for c in block_cols],
        F.col("id").alias("id_b"),
        "tk",
    )
    cand = (
        a.join(b, on)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    sh = sh_full.select("id", "sh")
    return _verify_jaccard(cand, sh, sh, threshold)


def count_join_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    block_cols: tuple[str, ...] = (),
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact Jaccard >= t pairs via intersection COUNTING — the scale
    shape when the threshold is too low for prefix/length filters to
    prune (they approach no-ops as t -> 0 and the pairwise path ships
    full shingle arrays into every block pair).

    Plan: explode shingles, self-equi-join on (block, shingle) — one
    row per SHARED shingle per pair — then ``groupBy(pair).count()``
    IS the intersection size; union follows from the per-doc sizes.
    Shuffle volume is rows-per-shared-shingle (longs), never arrays.

    Requires t > 0: zero-overlap pairs never materialize (correct,
    since their jaccard is 0 < t)."""
    if threshold <= 0:
        raise ValueError("count_join_jaccard_pairs requires threshold > 0")
    from pyspark.storagelevel import StorageLevel

    sh = df.select(
        *block_cols,
        F.col(id_col).alias("id"),
        token_shingles(text_col, shingle_n, hashed=True).alias("sh"),
    )
    # persist before filtering (see set_similarity_jaccard_pairs)
    sh = track_persist(sh.persist(StorageLevel.MEMORY_AND_DISK))
    sh = sh.filter(F.size("sh") > 0)
    sizes = sh.select("id", F.size("sh").alias("sz"))
    ex = sh.select(*block_cols, "id", F.explode("sh").alias("tk"))
    on = [f"__b_{c}" for c in block_cols] + ["tk"]
    a = ex.select(
        *[F.col(c).alias(f"__b_{c}") for c in block_cols],
        F.col("id").alias("id_a"),
        "tk",
    )
    b = ex.select(
        *[F.col(c).alias(f"__b_{c}") for c in block_cols],
        F.col("id").alias("id_b"),
        "tk",
    )
    inter = (
        a.join(b, on)
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("__inter"))
    )
    sz_a = sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("__sz_a"))
    sz_b = sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("__sz_b"))
    return (
        inter.join(sz_a, "id_a")
        .join(sz_b, "id_b")
        .withColumn(
            "jaccard",
            F.col("__inter")
            / (F.col("__sz_a") + F.col("__sz_b") - F.col("__inter")).cast(
                "double"
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def near_dup_source_matrix(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    *,
    jaccard_threshold: float = 0.9,
    num_perm: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    band_cap: int | None = 1000,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """NEAR-duplicate provenance: per source-pair counts of near-dup
    document pairs — the :func:`minhash_lsh_pairs` analog of
    :func:`dup_source_matrix` (which covers only EXACT duplicates).

    Returns ``(source_a, source_b, pair_count, min_jaccard,
    max_jaccard)`` with ``source_a <= source_b`` (unordered pairs
    canonicalized via least/greatest) and the jaccard extremes rounded
    to 6 dp. min/max — never avg — because they are
    summation-order-independent, so the values hash-match any engine.

    Scale: the pair stream comes from the banded-LSH join (never
    all-pairs); attaching sources is two equi-joins of the (small) pair
    frame against the corpus id→source projection — shuffles on the id
    key, broadcast-eligible whenever the pair frame is small enough for
    AQE to notice. The matrix itself is at most |sources|² rows.

    Pass ``pairs`` (``(id_a, id_b, jaccard)``, e.g. a persisted
    :func:`minhash_lsh_pairs` result shared with other consumers) to
    skip rebuilding the pair DAG; the minhash knobs (including
    ``band_cap``) are ignored then. Otherwise the pairs come from the
    in-flight face of the shared self-pair tail (module docs), so a
    saturated family's ``pair_count`` reflects the guard's star
    topology, not the clique — pass ``band_cap=None`` when the matrix
    must count every pair of a mega-family and the quadratic cost is
    acceptable. When the guard is on AND any bucket is actually
    saturated, the matrix WARNS (ADVICE r12) so star-shaped
    ``pair_count`` cells are never misread as clique counts — the
    saturation probe is one cheap agg over the band frame this call
    persists and reuses for the pair join, not a second corpus
    pass.

    NULL sources are coalesced to the sentinel ``'<null>'`` BEFORE
    canonicalization — ``least``/``greatest`` skip NULL operands, so
    without the sentinel a pair with one NULL source would silently
    fold into a same-source ``(src, src)`` cell instead of being
    surfaced as cross-provenance.
    """
    if pairs is None:
        banded = _banded_signatures(
            df, text_col, id_col, "id",
            num_perm=num_perm, bands=bands, shingle_n=shingle_n,
        )
        if band_cap is not None:
            from pyspark.storagelevel import StorageLevel

            # one persist shared by the saturation probe and the pair
            # tail (pin=False below so it isn't pinned twice)
            banded = track_persist(
                banded.persist(StorageLevel.MEMORY_AND_DISK)
            )
            saturated = (
                banded.groupBy("bk")
                .agg(F.count(F.lit(1)).alias("m"))
                .filter(F.col("m") > band_cap)
                .limit(1)
                .count()
            )
            if saturated:
                import warnings

                warnings.warn(
                    "near_dup_source_matrix: at least one band bucket "
                    f"exceeds band_cap={band_cap}, so saturated families "
                    "contribute STAR pair counts (m-1 per signature "
                    "group), not clique counts — compare cells "
                    "accordingly, or pass band_cap=None for exact clique "
                    "counting (quadratic in the hot family)",
                    stacklevel=2,
                )
        pairs = _self_pairs(
            banded, _shingle_sets(df, text_col, id_col, shingle_n),
            ["bk"], ("__sig",), band_cap, jaccard_threshold, pin=False,
        )
    src = df.select(
        F.col(id_col).alias("__sid"),
        F.coalesce(F.col(source_col), F.lit("<null>")).alias("__src"),
    )
    joined = (
        pairs.join(src, pairs["id_a"] == src["__sid"])
        .select("id_a", "id_b", "jaccard", F.col("__src").alias("__src_a"))
        .join(src, F.col("id_b") == src["__sid"])
        .select("id_a", "id_b", "jaccard", "__src_a", F.col("__src").alias("__src_b"))
    )
    return (
        joined.select(
            F.least("__src_a", "__src_b").alias("source_a"),
            F.greatest("__src_a", "__src_b").alias("source_b"),
            "jaccard",
        )
        .groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).alias("pair_count"),
            F.round(F.min("jaccard"), 6).alias("min_jaccard"),
            F.round(F.max("jaccard"), 6).alias("max_jaccard"),
        )
    )


def _blocked_shingle_self_join(
    df: DataFrame,
    text_col: str,
    id_col: str,
    block_cols: tuple[str, ...],
    shingle_n: int,
) -> DataFrame:
    """Shared scaffolding for the exact pair verifiers: shingle each
    doc once, self-join on the block key (cross join only when
    unblocked — callers gate that), keep ordered ``id_a < id_b`` pairs
    as ``(id_a, id_b, sh_a, sh_b)``. One projection + one equi-join;
    the score expression (Jaccard, containment) is the caller's."""
    sh = df.select(
        *block_cols,
        F.col(id_col).alias("id"),
        token_shingles(text_col, shingle_n, hashed=True).alias("sh"),
    )
    a = sh.select(
        *[F.col(c).alias(f"__b_{c}") for c in block_cols],
        F.col("id").alias("id_a"),
        F.col("sh").alias("sh_a"),
    )
    b = sh.select(
        *[F.col(c).alias(f"__b_{c}") for c in block_cols],
        F.col("id").alias("id_b"),
        F.col("sh").alias("sh_b"),
    )
    on = [f"__b_{c}" for c in block_cols]
    pairs = a.join(b, on) if on else a.crossJoin(b)
    return pairs.filter(F.col("id_a") < F.col("id_b"))


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    block_cols: tuple[str, ...] = (),
    shingle_n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """One-sided CONTAINMENT near-dup pairs: ``(id_a, id_b, c_a_in_b,
    c_b_in_a)`` where ``c_a_in_b = |A∩B| / |A|`` over shingle sets and
    ``max(c_a_in_b, c_b_in_a) >= threshold``.

    Jaccard misses the quote/reply/wrapper shape: a short document
    fully CONTAINED in a much longer one (a quoted email inside a
    thread, an article inside a scrape-with-boilerplate) has tiny
    Jaccard but containment ~1 — the curation decision ("drop the
    substring doc, keep the superset") needs the one-sided score.
    Broder's containment coefficient over the same hashed shingles the
    Jaccard paths use.

    Scale shape: identical to the blocked exact-Jaccard path — one
    shingle projection, one equi-join on the block key, no length
    prefilter (containment has no Jaccard-style length bound: a 10-
    shingle doc can sit inside a 10,000-shingle one). Block on real
    partition keys (source, lang, domain) to bound the quadratic term;
    unblocked use raises like ``ngram_jaccard_pairs``.
    """
    if not block_cols:
        raise ValueError(
            "containment_pairs with no block_cols is an all-pairs "
            "crossJoin of the corpus — O(n^2) at scale, and containment "
            "admits no length prefilter. Pass block_cols (source, lang, "
            "a domain bucket)."
        )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    return (
        _blocked_shingle_self_join(df, text_col, id_col, block_cols, shingle_n)
        .withColumn("__i", inter)
        .withColumn(
            "c_a_in_b", F.col("__i") / F.size("sh_a").cast("double")
        )
        .withColumn(
            "c_b_in_a", F.col("__i") / F.size("sh_b").cast("double")
        )
        .filter(
            F.greatest("c_a_in_b", "c_b_in_a") >= F.lit(float(threshold))
        )
        .select("id_a", "id_b", "c_a_in_b", "c_b_in_a")
    )


def dedup_threshold_sweep(
    pairs: DataFrame,
    thresholds,
    *,
    id_a: str = "id_a",
    id_b: str = "id_b",
    score_col: str = "jaccard",
) -> DataFrame:
    """Threshold-tuning report for a similarity-pair frame:
    ``(threshold, n_pairs, n_docs)`` — how many near-dup pairs each
    candidate threshold would flag and how many documents they touch.
    The report a curator reads BEFORE committing a dedup pass, so the
    knob is chosen from measured mass rather than folklore.

    One explode of the (already-blocked, small) pair frame over the
    threshold list — the corpus is never re-read or re-shingled;
    thresholds with no qualifying pairs report zeros, not missing
    rows. Works over any ``(id_a, id_b, score)`` stream (MinHash,
    blocked-exact Jaccard, cosine pairs)."""
    ts = sorted(float(t) for t in thresholds)
    if not ts:
        raise ValueError("thresholds must be non-empty")
    th = F.array(*[F.lit(t) for t in ts])
    ex = pairs.select(
        F.col(id_a).alias("__a"),
        F.col(id_b).alias("__b"),
        F.col(score_col).alias("__s"),
        F.explode(th).alias("threshold"),
    ).filter(F.col("__s") >= F.col("threshold"))
    n_pairs = ex.groupBy("threshold").agg(
        F.count(F.lit(1)).alias("n_pairs")
    )
    n_docs = (
        ex.select(
            "threshold", F.explode(F.array("__a", "__b")).alias("__id")
        )
        .distinct()
        .groupBy("threshold")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    base = pairs.sparkSession.createDataFrame(
        [(t,) for t in ts], "threshold double"
    )
    return (
        base.join(n_pairs, "threshold", "left")
        .join(n_docs, "threshold", "left")
        .select(
            "threshold",
            F.coalesce("n_pairs", F.lit(0)).cast("long").alias("n_pairs"),
            F.coalesce("n_docs", F.lit(0)).cast("long").alias("n_docs"),
        )
    )


def dup_degree_histogram(
    pairs: DataFrame,
    *,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Degree distribution of a duplicate-pair graph: ``(degree,
    n_docs)`` — how many documents have exactly ``degree`` near-dup
    neighbors (degree >= 1; isolated docs don't appear in the pair
    stream).

    The shape audit run before committing to a dedup strategy: a heavy
    tail (a few hub documents in thousands of pairs) says "boilerplate
    family — strip it", a flat degree-1 histogram says "true mirrors —
    keep-one wins". Works over ANY pair frame (MinHash, SimHash,
    SemDeDup, winnowing...). Note that pairs produced UNDER the
    hot-band guard (``band_cap`` set, the default) give saturated
    families star topology — the group hub reads as a mega-degree
    hub and members as degree-1, which is itself a valid boilerplate
    signature but NOT the clique degrees; feed ``band_cap=None``
    pairs when the histogram must reflect true clique degrees
    (README "Behavior changes").

    Scale: one map-only pass emits both ends of every pair (the pair
    frame is planned once), one groupBy for degrees (|docs-in-pairs|
    rows), one for the histogram (|distinct degrees| rows).
    """
    ends = pairs.select(F.explode(F.array(id_a, id_b)).alias("id"))
    degrees = ends.groupBy("id").agg(F.count(F.lit(1)).alias("degree"))
    return degrees.groupBy("degree").agg(F.count(F.lit(1)).alias("n_docs"))
