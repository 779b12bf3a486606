"""Query registry: every implemented operator exposed as a named query
over the driver's parquet tables, with a DuckDB oracle where the
semantics are SQL-expressible (SURVEY.md §5 "our additional layer").

Each query callable takes ``(spark, sf_dir)`` and returns a DataFrame.
Aliases are synchronized with the oracle SQL — the driver's compare
sorts columns by name before hashing values.

Floating-point columns are rounded (6 dp; 4 dp for large money sums)
on BOTH sides so engine-level last-ulp differences (JVM vs C math,
parallel summation order) don't flip the value hash.
"""

from __future__ import annotations


from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from polars_text_spark.functions.scalar import UNICODE_WHITESPACE
from polars_text_spark.functions import (
    char_count,
    clean_text,
    detect_language,
    doc_fingerprint,
    quality_score,
    sentence_count,
    token_count_bpe,
    token_count_ws,
    tokenize,
    word_count,
)
from polars_text_spark.operators.token_frequencies import (
    token_frequencies,
    token_frequency_stats,
)

QUERIES: dict = {}
ORACLES: dict = {}

NATIVE_MODEL = "native:plain_words_en"

# DuckDB (RE2) fragments mirroring the Spark-side expressions. The data
# is ASCII so RE2 \s == Java \p{IsWhite_Space} here.
_SQL_CLEAN = (
    "trim(regexp_replace(regexp_replace(lower(text),"
    " '[!-/:-@\\[-`{-~0-9]', ' ', 'g'), '\\s+', ' ', 'g'))"
)
_SQL_CJK = (
    "'^[一-鿿㐀-䶿぀-ゟ゠-ヿ가-힯\\x{20000}-\\x{2A6DF}]+$'"
)
_SQL_WORD_COUNT = f"""
    CASE WHEN text IS NULL OR trim(text) = '' THEN 0
         WHEN regexp_matches(trim(text), '\\s') THEN len(regexp_split_to_array(trim(text), '\\s+'))
         WHEN regexp_matches(trim(text), {_SQL_CJK}) THEN length(trim(text))
         ELSE 1 END
"""
_SQL_SENTENCE_COUNT = """
    CASE WHEN text IS NULL THEN 0 ELSE
      len(list_filter(regexp_split_to_array(text, '[.!?。！？۔؟।॥]'),
                      s -> regexp_matches(s, '[^\\s]')))
    END
"""
# plain_words_en token list of a lowercased text (remove_punct=True):
# maximal runs of non-space non-BERT-punct chars containing >=1 alnum.
# NOTE: the alnum guard here is ASCII [0-9A-Za-z] while the Spark-side
# _keep_token uses Unicode isalnum — equivalent on this corpus (tokens
# with non-ASCII letters always carry an ASCII alnum too); revisit if
# the testdata ever grows pure non-Latin tokens.
_SQL_TOKENS = (
    "list_filter(regexp_split_to_array(lower(text), '[\\s\\p{P}$+<=>^`|~]+'),"
    " x -> x <> '' AND regexp_matches(x, '[0-9A-Za-z]')"
    " AND upper(x) NOT IN ('CLS','SEP','PAD','UNK','MASK'))"
)

# THE portable whitespace tokenizer in SQL (functions/analysis.py::
# ws_token_array twin) — defined early, many later oracles inline it.
_SQL_WS_TOKS = (
    "list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),"
    " x -> x <> '')"
)


def query(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def _register_store_cleanup(spark: SparkSession, name: str) -> None:
    """Defer removal of EVERY warehouse directory of a pid-unique
    driver-query store — glob-based because generational maintenance
    (round 14) leaves the live tables under suffixed physical names
    (``<name>_bands_g1``), which a fixed suffix list would miss."""
    import atexit
    import glob as _glob
    import os
    import shutil

    warehouse = spark.conf.get(
        "spark.sql.warehouse.dir", "spark-warehouse"
    ).removeprefix("file:")

    def _sweep() -> None:
        for d in _glob.glob(os.path.join(warehouse, f"{name}_*")):
            shutil.rmtree(d, True)

    atexit.register(_sweep)


def _docs(spark: SparkSession, sf_dir: str, *, wide: bool = True) -> DataFrame:
    # spread_scan: the testdata tables are single-row-group parquet, so
    # the scan (and every per-doc expression fused into it) would run
    # as ONE task; widening costs one tiny shuffle of the raw text and
    # is the identity on any properly-partitioned production table.
    # ``wide=False`` opts out for queries whose per-row map work is
    # trivial (one sha, one explode): the exchange's ~0.3-0.5 s fixed
    # cost exceeds any parallelism win there, and the opt-out is
    # harmless at 100x scale where the scan is already wide and
    # spread_scan would be the identity anyway.
    from polars_text_spark.sources.catalog import scan_parquet, spread_scan

    path = f"{sf_dir}/documents.parquet"
    df = scan_parquet(spark, path)
    return spread_scan(df, memo_key=path) if wide else df


def _tbl(
    spark: SparkSession, sf_dir: str, name: str, *, wide: bool = True
) -> DataFrame:
    """Read a testdata table with the scan widened (see _docs).
    Broadcast-destined dims stay as-is — widening a 5-row frame only
    adds an exchange in front of the broadcast collect."""
    from polars_text_spark.sources.catalog import scan_parquet, spread_scan

    path = f"{sf_dir}/{name}.parquet"
    df = scan_parquet(spark, path)
    if name in ("region", "nation") or not wide:
        return df
    return spread_scan(df, memo_key=path)


# ---------------------------------------------------------------------------
# Scalar text ops (SURVEY §2.1 #1-#4) — pure built-ins, exact SQL oracle.
# ---------------------------------------------------------------------------


@query(
    "scalar_text_stats",
    f"""
    SELECT lang,
           CAST(count(*) AS BIGINT)                            AS n_docs,
           CAST(sum({_SQL_WORD_COUNT}) AS BIGINT)              AS sum_words,
           CAST(sum(CASE WHEN text IS NULL THEN 0 ELSE length(text) END) AS BIGINT) AS sum_chars,
           CAST(sum({_SQL_SENTENCE_COUNT}) AS BIGINT)          AS sum_sentences,
           CAST(sum(length({_SQL_CLEAN})) AS BIGINT)           AS sum_clean_chars
    FROM documents
    GROUP BY lang
    """,
)
def scalar_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return (
        docs.select(
            "lang",
            word_count("text"),
            char_count("text"),
            sentence_count("text"),
            F.length(clean_text("text")).cast("long").alias("clean_chars"),
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("word_count").alias("sum_words"),
            F.sum("char_count").alias("sum_chars"),
            F.sum("sentence_count").alias("sum_sentences"),
            F.sum("clean_chars").alias("sum_clean_chars"),
        )
    )


@query(
    "bloom_store_gate",
    """
    SELECT d.doc_id,
           d.text IN (SELECT text FROM documents
                      WHERE doc_id % 3 = 0 AND text IS NOT NULL)
             AS in_reference
    FROM documents d WHERE d.text IS NOT NULL
    """,
)
def q_bloom_store_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom STORE lifecycle under the driver hash: the reference set
    is built in two increments (write %6==0, append %6==3 — together
    the %3==0 slice), read back with the OR-merge, and every doc is
    gated bloom-first with an exact confirm join on the survivors.
    Unlike `bloom_decontam`, the store is LOAD-BEARING here: lost
    words, drifted meta parameters, or a broken merge produce false
    negatives, which skip the confirm join and flip `in_reference`
    to false — the oracle's plain IN-subquery replay catches it."""
    import os

    from polars_text_spark.operators.bloom import (
        append_bloom_shard,
        bloom_might_contain,
        bloom_params,
        read_bloom_store,
        write_bloom_store,
    )

    docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull()).select(
        "doc_id", "text"
    )
    ref = docs.filter(F.col("doc_id") % 3 == 0)
    name = f"bloomgate_{os.getpid()}"
    _register_store_cleanup(spark, name)
    m_bits, n_hashes = bloom_params(ref.count(), 0.01)
    write_bloom_store(
        docs.filter(F.col("doc_id") % 6 == 0),
        "text",
        name,
        m_bits=m_bits,
        n_hashes=n_hashes,
    )
    append_bloom_shard(docs.filter(F.col("doc_id") % 6 == 3), "text", name)
    bloom = read_bloom_store(spark, name)
    probed = bloom_might_contain(docs, "text", bloom, out_col="__maybe")
    ref_texts = ref.select(F.col("text").alias("__rt")).distinct()
    hits = (
        probed.where(F.col("__maybe"))
        .join(
            F.broadcast(ref_texts),
            probed["text"] == F.col("__rt"),
            "left_semi",
        )
        .select("doc_id", F.lit(True).alias("__in"))
    )
    return docs.select("doc_id").join(hits, "doc_id", "left").select(
        "doc_id", F.coalesce(F.col("__in"), F.lit(False)).alias("in_reference")
    )


# Shared 2-round integer-perceptron training CTEs (classifier_train +
# classifier_pr_sweep replay the identical training; only the final
# SELECT differs) — the _DSIR_CTES sharing pattern.
_CLF_CTES = f"""
    WITH lab AS (
      SELECT doc_id, text,
             CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y
      FROM documents WHERE text IS NOT NULL),
    tl AS (
      SELECT doc_id, y,
             {_SQL_WS_TOKS} AS tk
      FROM lab),
    tn AS (SELECT doc_id, y, len(tk) AS n, unnest(tk) AS t
           FROM tl WHERE len(tk) > 0),
    feats AS (
      SELECT doc_id, y,
             ('0x' || substr(sha256('b:' || t), 1, 15))::BIGINT % 4096
               AS bucket,
             (count(*) * 1000000) // any_value(n) AS xq
      FROM tn GROUP BY doc_id, y, bucket),
    nn AS (SELECT count(DISTINCT doc_id) AS n FROM feats),
    -- round 1: zero weights, every doc misclassified
    w1 AS (
      SELECT bucket,
             (s - ((s % nn.n + nn.n) % nn.n)) // nn.n AS w
      FROM (SELECT bucket, sum(y * xq) AS s FROM feats GROUP BY bucket),
           nn),
    -- round 2: margins under w1, update from the still-misclassified
    m2 AS (
      SELECT f.doc_id, any_value(f.y) AS y,
             sum(f.xq * coalesce(w1.w, 0)) AS m
      FROM feats f LEFT JOIN w1 USING (bucket)
      GROUP BY f.doc_id),
    e2 AS (SELECT doc_id FROM m2 WHERE y * m <= 0),
    s2 AS (SELECT bucket, sum(y * xq) AS s
           FROM feats JOIN e2 USING (doc_id) GROUP BY bucket),
    w2 AS (
      SELECT w1.bucket,
             w1.w + CASE WHEN s2.s IS NULL THEN 0
                         ELSE (s2.s - ((s2.s % nn.n + nn.n) % nn.n))
                              // nn.n END AS w
      FROM w1 LEFT JOIN s2 USING (bucket), nn)"""


@query(
    "classifier_train",
    f"""
    {_CLF_CTES}
    SELECT f.doc_id,
           CAST(sum(f.xq * coalesce(w2.w, 0)) AS BIGINT) AS margin,
           sum(f.xq * coalesce(w2.w, 0)) > 0 AS keep
    FROM feats f LEFT JOIN w2 USING (bucket)
    GROUP BY f.doc_id
    """,
)
def q_classifier_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier TRAINING under the driver hash: a 2-round integer
    perceptron learns en-vs-other weights over hashed token features,
    and every trained doc is scored with the learned vector. The
    oracle replays BOTH training rounds (feature quantization, the
    all-misclassified first update, round-2 margins/error set/second
    update) plus the final margins — floor divisions via the
    exactly-divisible pmod form so negative sums floor identically in
    both engines. Integer arithmetic makes the weights independent of
    partition/summation order (operators/classifier.py; the PageRank
    determinism pattern applied to learning)."""
    from polars_text_spark.operators.classifier import (
        integer_classifier_margins,
        train_hashed_perceptron,
    )

    from polars_text_spark.operators.classifier import classifier_features
    from polars_text_spark.persist import track_persist

    docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    pos = docs.filter(F.col("lang") == "en")
    neg = docs.filter(
        F.col("lang").isNull() | (F.col("lang") != "en")
    )
    # the scoring population IS the training population: build the
    # feature frame once and share it (the explode+groupBy is the
    # expensive stage; without sharing both queries paid it twice)
    feats = track_persist(classifier_features(docs).persist())
    w = train_hashed_perceptron(pos, neg, rounds=2, features=feats)
    return integer_classifier_margins(docs, w, features=feats).select(
        "doc_id", F.col("margin").cast("bigint").alias("margin"), "keep"
    )


@query(
    "classifier_pr_sweep",
    f"""
    {_CLF_CTES},
    m3 AS (
      SELECT f.doc_id, any_value(f.y) AS y,
             sum(f.xq * coalesce(w2.w, 0)) AS margin
      FROM feats f LEFT JOIN w2 USING (bucket)
      GROUP BY f.doc_id),
    th AS (SELECT unnest([-1000000000000, -100000000000, -10000000000,
                          0, 10000000000, 100000000000,
                          1000000000000]) AS threshold)
    SELECT th.threshold,
           CAST(sum(CASE WHEN m3.margin > th.threshold AND m3.y = 1
                         THEN 1 ELSE 0 END) AS BIGINT) AS tp,
           CAST(sum(CASE WHEN m3.margin > th.threshold AND m3.y = -1
                         THEN 1 ELSE 0 END) AS BIGINT) AS fp,
           CAST(sum(CASE WHEN m3.margin <= th.threshold AND m3.y = 1
                         THEN 1 ELSE 0 END) AS BIGINT) AS fn,
           CAST(sum(CASE WHEN m3.margin <= th.threshold AND m3.y = -1
                         THEN 1 ELSE 0 END) AS BIGINT) AS tn
    FROM th, m3
    GROUP BY th.threshold
    """,
)
def q_classifier_pr_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained-classifier EVALUATION: the confusion matrix of the
    2-round perceptron at a fixed threshold ladder — the
    pick-your-operating-point artifact every model-based quality
    gate ships with. One explode of the scored frame over the
    literal thresholds, one groupBy; the oracle replays training,
    margins, and every cell count. Counts only (precision/recall are
    driver-side arithmetic) so the hash stays integer-exact."""
    from polars_text_spark.operators.classifier import (
        integer_classifier_margins,
        train_hashed_perceptron,
    )

    from polars_text_spark.operators.classifier import classifier_features
    from polars_text_spark.persist import track_persist

    docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    pos = docs.filter(F.col("lang") == "en")
    neg = docs.filter(F.col("lang").isNull() | (F.col("lang") != "en"))
    feats = track_persist(classifier_features(docs).persist())
    w = train_hashed_perceptron(pos, neg, rounds=2, features=feats)
    scored = integer_classifier_margins(docs, w, features=feats).join(
        docs.select(
            "doc_id",
            F.when(F.col("lang") == "en", F.lit(1))
            .otherwise(F.lit(-1))
            .alias("__y"),
        ),
        "doc_id",
    )
    thresholds = [
        -(10**12), -(10**11), -(10**10), 0, 10**10, 10**11, 10**12
    ]
    swept = scored.select(
        "margin",
        "__y",
        F.explode(
            F.array(*[F.lit(t).cast("long") for t in thresholds])
        ).alias("threshold"),
    )
    hit = F.col("margin") > F.col("threshold")
    pos_y = F.col("__y") == 1
    return swept.groupBy("threshold").agg(
        F.sum((hit & pos_y).cast("long")).alias("tp"),
        F.sum((hit & ~pos_y).cast("long")).alias("fp"),
        F.sum((~hit & pos_y).cast("long")).alias("fn"),
        F.sum((~hit & ~pos_y).cast("long")).alias("tn"),
    )


@query(
    "robots_gate",
    """
    WITH u AS (
      SELECT doc_id,
             'd' || (doc_id % 5) || '.example' AS domain,
             CASE doc_id % 3
               WHEN 0 THEN '/open/p' || doc_id
               WHEN 1 THEN '/private/p' || doc_id
               ELSE '/private/public/p' || doc_id
             END AS path
      FROM documents)
    SELECT doc_id, domain, path,
           CASE WHEN (doc_id % 5) % 2 = 1 THEN false
                WHEN doc_id % 3 = 1 THEN false
                ELSE true END AS allowed,
           CASE WHEN (doc_id % 5) % 2 = 1 THEN '/'
                WHEN doc_id % 3 = 1 THEN '/private/'
                WHEN doc_id % 3 = 2 THEN '/private/public/'
                ELSE NULL END AS matched_prefix
    FROM u
    """,
)
def q_robots_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-compliance gate, end-to-end engine-replayed: five
    synthetic domains carry real robots.txt files (the odd ones add a
    multi-User-agent strict group naming the collecting agent), one
    URL per document lands on an open / disallowed / allow-override
    path, and the verdict runs the FULL chain — group parsing,
    agent-vs-* fallback, longest-match with the allow tie-break.
    The oracle never parses anything: it states the expected verdict
    analytically from the synth formula, so any parsing or matching
    bug on the Spark side breaks the hash (the wav_pcm_stats /
    warc_ingest pinning pattern)."""
    from polars_text_spark.operators.robots import (
        parse_robots,
        robots_verdict,
    )

    docs = _docs(spark, sf_dir).select("doc_id")
    domain = F.concat(
        F.lit("d"), (F.col("doc_id") % 5).cast("string"), F.lit(".example")
    )
    path = (
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit("/open/p"), F.col("doc_id").cast("string")),
        )
        .when(
            F.col("doc_id") % 3 == 1,
            F.concat(F.lit("/private/p"), F.col("doc_id").cast("string")),
        )
        .otherwise(
            F.concat(
                F.lit("/private/public/p"), F.col("doc_id").cast("string")
            )
        )
    )
    urls = docs.select(
        "doc_id", F.concat(F.lit("https://"), domain, path).alias("url")
    )
    base = (
        "User-agent: *\n"
        "Disallow: /private/\n"
        "Allow: /private/public/\n"
    )
    strict = (
        "# odd domains refuse this collector outright\n"
        "User-agent: strictbot\n"
        "User-agent: gptbot\n"
        "Disallow: /\n"
    )
    robots = spark.createDataFrame(
        [
            (f"d{i}.example", base + (strict if i % 2 else ""))
            for i in range(5)
        ],
        "domain string, robots_txt string",
    )
    rules = parse_robots(robots)
    out = robots_verdict(urls, rules, agent="gptbot")
    return out.select(
        "doc_id",
        "domain",
        "path",
        "allowed",
        "matched_prefix",
    )


@query(
    "sentence_segments",
    f"""
    WITH segs AS (
      SELECT doc_id,
             list_filter(
               list_transform(
                 regexp_extract_all(text,
                   '[^.!?。！？۔؟।॥]*[.!?。！？۔؟।॥]+|[^.!?。！？۔؟।॥]+'),
                 x -> trim(x)),
               s -> regexp_matches(s,
                    '[^{UNICODE_WHITESPACE}.!?。！？۔؟।॥]')) AS l
      FROM documents WHERE text IS NOT NULL)
    SELECT doc_id,
           CAST(generate_subscripts(l, 1) - 1 AS INT) AS seg_idx,
           unnest(l) AS sentence,
           CAST(length(unnest(l)) AS BIGINT) AS n_chars
    FROM segs
    """,
)
def q_sentence_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence SEGMENTATION (not just the count): each doc exploded
    into its ordered sentences — the chunking primitive for bitext
    alignment and per-sentence quality. The pattern is one
    lookaround-free alternation with leftmost-first semantics, which
    Java regex and DuckDB's RE2 share, so the oracle replays the
    exact segmentation including trim and the content filter."""
    from polars_text_spark.functions.scalar import sentence_segments

    docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    return docs.select(
        "doc_id",
        F.posexplode(sentence_segments("text")).alias("seg_idx", "sentence"),
    ).select(
        "doc_id",
        F.col("seg_idx").cast("int").alias("seg_idx"),
        "sentence",
        F.length("sentence").cast("bigint").alias("n_chars"),
    )


# ---------------------------------------------------------------------------
# tokenize (#5) + token_frequencies (#9) — UDF tokens vs regex-SQL oracle.
# ---------------------------------------------------------------------------


@query(
    "token_frequencies",
    f"""
    SELECT t AS token, CAST(count(*) AS BIGINT) AS count
    FROM (SELECT unnest({_SQL_TOKENS}) AS t FROM documents WHERE text IS NOT NULL)
    GROUP BY t
    """,
)
def q_token_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    return token_frequencies(_docs(spark, sf_dir), "text", model=NATIVE_MODEL)


@query(
    "tokenize_offsets",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest({_SQL_TOKENS}) AS token
      FROM documents WHERE text IS NOT NULL
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(count(DISTINCT token) AS BIGINT) AS n_distinct
    FROM toks GROUP BY doc_id
    """,
)
def q_tokenize_offsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc token/distinct counts through the full tokenize UDF
    (token strings are SQL-checkable; offsets are covered by invariant
    tests in tests/test_tokenize.py)."""
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "doc_id", F.explode(tokenize("text", model=NATIVE_MODEL)).alias("t")
    )
    return toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.countDistinct(F.col("t.token")).alias("n_distinct"),
    )


_SQL_STATS_ORACLE = f"""
    WITH f0 AS (
      SELECT t AS token, CAST(count(*) AS BIGINT) AS f
      FROM (SELECT unnest({_SQL_TOKENS}) AS t FROM documents
            WHERE text IS NOT NULL AND lang = 'en')
      GROUP BY t),
    f1 AS (
      SELECT t AS token, CAST(count(*) AS BIGINT) AS f
      FROM (SELECT unnest({_SQL_TOKENS}) AS t FROM documents
            WHERE text IS NOT NULL AND lang <> 'en')
      GROUP BY t),
    joined AS (
      SELECT coalesce(f0.token, f1.token) AS token,
             coalesce(f0.f, 0) AS fr0, coalesce(f1.f, 0) AS fr1
      FROM f0 FULL OUTER JOIN f1 ON f0.token = f1.token),
    tot AS (SELECT sum(fr0) AS c0, sum(fr1) AS c1 FROM joined),
    base AS (
      SELECT token, fr0, fr1, c0, c1,
             (fr0 + fr1) * c0 / (c0 + c1) AS e0,
             (fr0 + fr1) * c1 / (c0 + c1) AS e1
      FROM joined, tot),
    ll AS (
      SELECT *,
        2.0 * (CASE WHEN fr0 > 0 THEN fr0 * ln(fr0 / greatest(e0, 1e-10)) ELSE 0.0 END
             + CASE WHEN fr1 > 0 THEN fr1 * ln(fr1 / greatest(e1, 1e-10)) ELSE 0.0 END)
          AS llv
      FROM base)
    SELECT token,
           fr0 AS freq_corpus_0,
           fr1 AS freq_corpus_1,
           round(e0, 6) AS expected_0,
           round(e1, 6) AS expected_1,
           CAST(c0 AS BIGINT) AS corpus_0_total,
           CAST(c1 AS BIGINT) AS corpus_1_total,
           round(llv, 6) AS log_likelihood_llv,
           round(llv - ln(c0 + c1), 6) AS bayes_factor_bic,
           round(CASE WHEN least(e0, e1) > 0
                 THEN llv / ((c0 + c1) * ln(greatest(least(e0, e1), 1e-10)))
                 ELSE 0.0 END, 6) AS effect_size_ell,
           CASE WHEN llv >= 15.13 THEN '****' WHEN llv >= 10.83 THEN '***'
                WHEN llv >= 6.63 THEN '**' WHEN llv >= 3.84 THEN '*'
                ELSE '' END AS significance,
           round(fr0 * 100.0 / c0, 6) AS percent_corpus_0,
           round(fr1 * 100.0 / c1, 6) AS percent_corpus_1,
           round(fr0 / c0 - fr1 / c1, 6) AS percent_diff,
           round(CASE WHEN fr1 > 0 THEN (fr0 / c0) / (fr1 / c1) END, 6) AS relative_risk,
           round(CASE WHEN fr0 > 0 AND fr1 > 0 THEN ln((fr0 / c0) / (fr1 / c1)) END, 6) AS log_ratio,
           round(CASE WHEN fr0 > 0 AND fr1 > 0 AND c1 > fr1 AND c0 > fr0
                 THEN (fr0 * (c1 - fr1)) / (fr1 * (c0 - fr0)) END, 6) AS odds_ratio
    FROM ll
"""


@query("token_frequency_stats", _SQL_STATS_ORACLE)
def q_token_frequency_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-corpus comparison (en vs rest) — SURVEY §2.1 #10, fully
    distributed (outer join + broadcast totals)."""
    docs = _docs(spark, sf_dir)
    freq0 = token_frequencies(docs.filter(F.col("lang") == "en"), "text", model=NATIVE_MODEL)
    freq1 = token_frequencies(docs.filter(F.col("lang") != "en"), "text", model=NATIVE_MODEL)
    stats = token_frequency_stats(freq0, freq1)
    rounded = [
        "expected_0",
        "expected_1",
        "log_likelihood_llv",
        "bayes_factor_bic",
        "effect_size_ell",
        "percent_corpus_0",
        "percent_corpus_1",
        "percent_diff",
        "relative_risk",
        "log_ratio",
        "odds_ratio",
    ]
    return stats.select(
        *[
            F.round(F.col(c), 6).alias(c) if c in rounded else F.col(c)
            for c in stats.columns
        ]
    )


# ---------------------------------------------------------------------------
# concordance (#6) — match counts and KWIC neighbors are SQL-checkable.
# ---------------------------------------------------------------------------


@query(
    "concordance_matches",
    """
    SELECT doc_id,
           CAST(len(regexp_extract_all(lower(text), 'data')) AS BIGINT) AS n_matches
    FROM documents
    WHERE text IS NOT NULL AND len(regexp_extract_all(lower(text), 'data')) > 0
    """,
)
def q_concordance_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Case-insensitive literal sweep through the full concordance UDF;
    per-doc hit counts hash-checked against a regex oracle."""
    from polars_text_spark.functions import concordance

    docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    return docs.select(
        "doc_id", F.size(concordance("text", "data")).alias("n_matches")
    ).filter(F.col("n_matches") > 0)


@query(
    "concordance_neighbors",
    """
    WITH words AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(lower(text), '\\s+')) AS w,
             generate_subscripts(regexp_split_to_array(lower(text), '\\s+'), 1) AS idx
      FROM documents WHERE text IS NOT NULL),
    ctx AS (
      SELECT doc_id, w,
             coalesce(lag(w)  OVER (PARTITION BY doc_id ORDER BY idx), '') AS l1,
             coalesce(lead(w) OVER (PARTITION BY doc_id ORDER BY idx), '') AS r1
      FROM words)
    SELECT l1, r1, CAST(count(*) AS BIGINT) AS n_pairs
    FROM ctx WHERE w = 'table' GROUP BY l1, r1
    """,
)
def q_concordance_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KWIC nearest-neighbor (l1, r1) distribution for a term — the
    reference's l1/r1 fields aggregated corpus-wide; oracle rebuilds
    the same neighbors with window functions over word positions."""
    from polars_text_spark.functions import concordance
    from polars_text_spark.functions.concordance import explode_concordance

    docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    kwic = explode_concordance(
        docs.select("doc_id", concordance("text", "table", num_left_tokens=1, num_right_tokens=1))
    ).filter(F.col("matched_text").isNotNull())
    return kwic.groupBy("l1", "r1").agg(F.count(F.lit(1)).alias("n_pairs"))


# ---------------------------------------------------------------------------
# Text-analysis pipeline ops (beyond-reference) — exact SQL oracles.
# ---------------------------------------------------------------------------

_SQL_LANG_TOKENS = "regexp_split_to_array(trim(lower(text)), '\\s+')"
_STOP = {
    "en": "['the','a','of','and','to','in','is','it','that','was']",
    "de": "['der','die','das','und','ist','ein','nicht','mit','ich','zu']",
    "fr": "['le','la','les','et','est','une','pas','que','pour','dans']",
    "es": "['el','la','los','y','es','una','no','que','por','como']",
}
_SQL_HITS = {
    lang: f"len(list_filter({_SQL_LANG_TOKENS}, x -> list_contains({lst}, x)))"
    for lang, lst in _STOP.items()
}
_SQL_BEST = f"greatest({_SQL_HITS['de']}, {_SQL_HITS['en']}, {_SQL_HITS['es']}, {_SQL_HITS['fr']})"
_SQL_DETECT_LANG = f"""
    CASE WHEN text IS NULL THEN 'unknown'
         WHEN regexp_matches(lower(text), '[一-鿿㐀-䶿぀-ゟ゠-ヿ가-힯]') THEN 'zh'
         WHEN {_SQL_BEST} <= 0 THEN 'unknown'
         WHEN {_SQL_HITS['de']} = {_SQL_BEST} THEN 'de'
         WHEN {_SQL_HITS['en']} = {_SQL_BEST} THEN 'en'
         WHEN {_SQL_HITS['es']} = {_SQL_BEST} THEN 'es'
         WHEN {_SQL_HITS['fr']} = {_SQL_BEST} THEN 'fr'
         ELSE 'unknown' END
"""


@query(
    "language_id",
    f"""
    SELECT {_SQL_DETECT_LANG} AS lang_detected, source,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM documents GROUP BY 1, 2
    """,
)
def q_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped by (lang, source) so the oracle output carries enough
    rows (~40 at sf0.01) to discriminate — a 2-row result has almost
    no hash entropy."""
    return (
        _docs(spark, sf_dir)
        .select(detect_language("text"), "source")
        .groupBy("lang_detected", "source")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


_SQL_QUALITY = """
    CASE WHEN text IS NULL THEN 0.0 ELSE (
      (CASE WHEN length(text) > 0
            THEN length(regexp_replace(text, '[^\\p{L}]', '', 'g')) * 1.0 / length(text)
            ELSE 0.0 END)
    + (CASE WHEN length(text) > 0
            THEN 1.0 - length(regexp_replace(text, '[^\\p{P}]', '', 'g')) * 1.0 / length(text)
            ELSE 0.0 END)
    + least(CASE WHEN len(regexp_split_to_array(trim(lower(text)), '\\s+')) > 0 AND trim(text) <> ''
                 THEN len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                                      x -> list_contains(['the','a','of','and','to','in','is','it','that','was'], x)))
                      * 1.0 / len(regexp_split_to_array(trim(lower(text)), '\\s+'))
                 ELSE 0.0 END, 0.4) / 0.4
    + (CASE WHEN length(text) < 20 THEN length(text) / 20.0
            WHEN length(text) > 10000 THEN greatest(0.0, 2.0 - length(text) / 10000.0)
            ELSE 1.0 END)
    ) / 4.0 END
"""


@query(
    "quality_by_source",
    f"""
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(avg({_SQL_QUALITY}), 6) AS avg_quality,
           CAST(sum(len(regexp_split_to_array(trim(text), '\\s+'))) AS BIGINT) AS sum_tokens_ws,
           CAST(sum(len(regexp_extract_all(text, '\\p{{L}}+|\\p{{N}}+|[^\\p{{L}}\\p{{N}}\\s]+'))) AS BIGINT) AS sum_tokens_bpe
    FROM documents
    GROUP BY source
    """,
)
def q_quality_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return (
        docs.select(
            "source",
            quality_score("text"),
            token_count_ws("text"),
            token_count_bpe("text"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("quality_score"), 6).alias("avg_quality"),
            F.sum("token_count_ws").alias("sum_tokens_ws"),
            F.sum("token_count_bpe").alias("sum_tokens_bpe"),
        )
    )


@query(
    "doc_fingerprints",
    f"""
    SELECT sha256({_SQL_CLEAN}) AS fingerprint,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS keeper_doc_id
    FROM documents WHERE text IS NOT NULL
    GROUP BY 1
    """,
)
def q_doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dup bookkeeping by content fingerprint (keeper = min id)."""
    # wide=False: one sha per row — too little map work to amortize
    # the widening exchange (What's-wrong #4, r6)
    docs = _docs(spark, sf_dir, wide=False).filter(F.col("text").isNotNull())
    return (
        docs.select("doc_id", doc_fingerprint("text"))
        .groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
    )


# ---------------------------------------------------------------------------
# Dedup + similarity (beyond-reference pipeline operators).
# ---------------------------------------------------------------------------

# Short-text fallback mirrors token_shingles: a doc with fewer than n
# tokens contributes its whole text as one shingle (the plain
# generate_series form would yield an EMPTY list there and silently
# diverge from Spark on any short-doc pair).
_SQL_SHINGLES = (
    "CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')] "
    "ELSE list_distinct([array_to_string(toks[i:i+2], ' ')"
    " for i in generate_series(1, len(toks)-2)]) END"
)


def _sql_shingle_sets(pred: str = "TRUE") -> str:
    """The shingle-set CTE body over the documents matching ``pred``:
    ``doc_id, source, lang``, the distinct shingle list ``s`` and its
    size ``n`` (computed once, read by the length bound below)."""
    return f"""
  SELECT *, len(s) AS n FROM (
    SELECT doc_id, source, lang, {_SQL_SHINGLES} AS s
    FROM (SELECT doc_id, source, lang,
                 regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
          FROM documents WHERE text IS NOT NULL AND ({pred})))
"""


_SQL_SH_CTE = _sql_shingle_sets()


def _sql_jaccard_pairs(
    t: float,
    *,
    block: bool = False,
    on: str = "a.doc_id < b.doc_id",
    jaccard: str | None = "round",
    cols: str = "a.doc_id AS id_a, b.doc_id AS id_b",
    left: str = "sh",
    right: str = "sh",
) -> str:
    """SELECT of the exact shingle-Jaccard >= ``t`` pairs between two
    shingle-set CTEs (:func:`_sql_shingle_sets`) — the oracle of every
    Jaccard pair operator in operators/dedup.py.

    ``block`` adds the ``(source, lang)`` equi-join; ``on`` is the
    doc_id predicate (``TRUE`` for a cross join of disjoint sides).
    ``jaccard`` picks the score column after ``cols``: ``"round"`` is
    ``round(J, 6) AS jaccard``, ``"raw"`` is the unrounded ``J AS j``,
    ``None`` none.

    The size bound is PPJoin's length filter (Xiao et al., WWW'08):
    J = |A∩B| / |A∪B| <= min(|A|, |B|) / max(|A|, |B|), so J >= t
    implies min >= t * max, i.e. both ``b.n >= t * a.n`` and
    ``a.n >= t * b.n`` (``n`` is the size of the list_distinct set
    ``s``). The bound is exact decimal arithmetic and J a double ratio
    of small integers, which cannot round across t, so the bound
    drops only pairs the J filter drops — it prunes before the costly
    list_intersect, which is what makes the unblocked joins feasible
    at sf0.1. Containment has no such bound (containment_dups)."""
    inter = "len(list_intersect(a.s, b.s))"
    j = f"{inter} * 1.0 / (a.n + b.n - {inter})"
    score = {
        "round": f", round({j}, 6) AS jaccard", "raw": f", {j} AS j", None: "",
    }[jaccard]
    pred = f"a.source = b.source AND a.lang = b.lang AND {on}" if block else on
    return f"""
    SELECT {cols}{score}
    FROM {left} a JOIN {right} b
      ON {pred}
     AND b.n >= {t} * a.n AND a.n >= {t} * b.n
    WHERE {j} >= {t}
"""


@query(
    "dedup_exact",
    f"""
    SELECT doc_id FROM (
      SELECT doc_id, row_number() OVER (
               PARTITION BY sha256({_SQL_CLEAN}) ORDER BY doc_id) AS rn
      FROM documents WHERE text IS NOT NULL)
    WHERE rn = 1
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from polars_text_spark.operators.dedup import exact_dedup

    docs = _docs(spark, sf_dir, wide=False).filter(F.col("text").isNotNull())
    return exact_dedup(docs).select("doc_id")


@query(
    "dup_source_matrix",
    f"""
    WITH fp AS (
      SELECT doc_id, source, sha256({_SQL_CLEAN}) AS f
      FROM documents WHERE text IS NOT NULL)
    SELECT least(a.source, b.source)    AS source_a,
           greatest(a.source, b.source) AS source_b,
           CAST(count(*) AS BIGINT)     AS n_pairs
    FROM fp a JOIN fp b ON a.f = b.f AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    """,
)
def q_dup_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate provenance: exact-dup pair counts per source pair —
    computed combinatorially from per-(fingerprint, source) counts so
    no quadratic pair set ever materializes; the oracle RUNS the naive
    quadratic join, so the gate doubles as an equivalence proof of
    the shortcut (operators/dedup.py::dup_source_matrix)."""
    from polars_text_spark.operators.dedup import dup_source_matrix

    docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    return dup_source_matrix(docs, "text", "doc_id", "source")


@query(
    "near_dedup_minhash",
    f"""
    WITH sh AS ({_SQL_SH_CTE})
    {_sql_jaccard_pairs(0.9)}
    """,
)
def q_near_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH candidates verified by exact shingle Jaccard. At
    j >= 0.9 with 16 bands of 4 rows, recall is 1 - 4e-8, so the
    approximate pipeline's output hash-matches the full-pairwise
    oracle — the LSH is doing candidate pruning, not lossy matching."""
    from polars_text_spark.operators.dedup import minhash_lsh_pairs

    docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    pairs = minhash_lsh_pairs(docs, "text", "doc_id", jaccard_threshold=0.9)
    return pairs.select(
        "id_a", "id_b", F.round(F.col("jaccard"), 6).alias("jaccard")
    )


# Synthetic boilerplate families for the hot-band guard gate: nonsense
# vocabulary (zero shingle overlap with the corpus or each other),
# identical text within each family so every band of a family lands in
# ONE bucket — the saturation pattern is then exact arithmetic the
# oracle replays, not an xxhash accident.
_HOTBAND_GROUPS = [
    # (id_start, members, text) — 300 > cap 64: star; 16 and 10 < cap:
    # full cliques (the exact at-cap boundary is pinned in pytest)
    (1_000_000_000, 300, "zqalpha zqbeta zqgamma zqdelta zqepsilon zqzeta"),
    (1_100_000_000, 16, "xvone xvtwo xvthree xvfour xvfive xvsix"),
    (1_200_000_000, 10, "kwred kwblue kwgreen kwcyan kwpink kwteal"),
]


@query(
    "near_dedup_hotband",
    f"""
    WITH sh AS ({_SQL_SH_CTE})
    {_sql_jaccard_pairs(0.9)}
    UNION ALL  -- saturated family (300 > cap 64): hub star, hub = min id
    SELECT 1000000000 AS id_a, 1000000000 + i AS id_b, 1.0 AS jaccard
    FROM generate_series(1, 299) t(i)
    UNION ALL  -- below-cap family (16 < cap): the FULL clique survives
    SELECT 1100000000 + i AS id_a, 1100000000 + j AS id_b, 1.0 AS jaccard
    FROM generate_series(0, 15) s(i) JOIN generate_series(0, 15) t(j) ON i < j
    UNION ALL  -- below-cap family: full clique
    SELECT 1200000000 + i AS id_a, 1200000000 + j AS id_b, 1.0 AS jaccard
    FROM generate_series(0, 9) s(i) JOIN generate_series(0, 9) t(j) ON i < j
    """,
)
def q_near_dedup_hotband(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hot-band cardinality guard gate (VERDICT r11 #1): three
    synthetic boilerplate families ride along with the corpus into
    :func:`minhash_lsh_pairs` at ``band_cap=64``. The 300-member
    family saturates every band and must emit the hub STAR (299
    verified pairs, not the 44,850-pair clique — one signature group,
    so the star has a single hub); the 16- and 10-member families ride
    the normal path and keep their full cliques (120 + 45 pairs), as
    do the corpus's natural near-dups. Identical text within each
    family makes the saturation pattern deterministic (one bucket per
    band per family), so the DuckDB oracle replays the cap with pure
    arithmetic — star/clique row generators — on top of the same
    full-pairwise natural-pair SQL that gates ``near_dedup_minhash``
    (operators/dedup.py::_guarded_self_pairs). The cap is 64 (not the
    tightest value the synthetic sizes allow) so a regenerated
    testdata corpus with a modest natural duplicate family cannot trip
    the gate — the exact at-cap boundary is pinned in
    tests/test_dedup_hotband.py instead. Since round 15 the cap rides
    the AUTO route (``band_cap=("auto", 64)``, VERDICT r14 #6): the
    identical-text families are signature-identical, so the guard's
    declined-pair bound is 0 and the resolver keeps the base cap —
    the oracle is unchanged, and the green hash doubles as the
    easy-regime proof that auto does not needlessly raise the cap
    (the family-regime raise is pinned in tests/test_dedup_hotband.py)."""
    from polars_text_spark.operators.dedup import minhash_lsh_pairs

    docs = _docs(spark, sf_dir).filter(
        F.col("text").isNotNull()
    ).select("doc_id", "text")
    synth = None
    for start, n, text in _HOTBAND_GROUPS:
        g = spark.range(n).select(
            (F.lit(start) + F.col("id")).alias("doc_id"),
            F.lit(text).alias("text"),
        )
        synth = g if synth is None else synth.union(g)
    pairs = minhash_lsh_pairs(
        docs.union(synth), "text", "doc_id",
        jaccard_threshold=0.9, band_cap=("auto", 64),
    )
    return pairs.select(
        "id_a", "id_b", F.round(F.col("jaccard"), 6).alias("jaccard")
    )


@query(
    "band_audit",
    """
    WITH banded AS (
      SELECT doc_id AS id, b.band,
             CASE WHEN b.band = 0 THEN doc_id % 7
                  ELSE doc_id % 97 END AS bucket,
             doc_id % 21 AS sig
      FROM documents, (VALUES (0), (1)) AS b(band)),
    per_sig AS (
      SELECT band, bucket, sig, count(*) AS g
      FROM banded GROUP BY 1, 2, 3),
    per AS (
      SELECT band, bucket, sum(g) AS m,
             sum(g * (g - 1) // 2) AS sig_pairs
      FROM per_sig GROUP BY 1, 2),
    per_id AS (
      SELECT t.id, count(*) AS nb,
             sum(CASE WHEN p.m > 20 THEN 1 ELSE 0 END) AS ns
      FROM banded t JOIN per p ON p.band = t.band AND p.bucket = t.bucket
      GROUP BY t.id),
    idagg AS (
      SELECT count(*) AS total_ids,
             sum(CASE WHEN ns = nb THEN 1 ELSE 0 END) AS no_escape_ids,
             sum(CASE WHEN ns > 0 THEN 1 ELSE 0 END)
               AS saturated_member_ids
      FROM per_id),
    agg AS (
      SELECT count(*) AS n_buckets,
             max(m) AS max_bucket_size,
             sum(CASE WHEN m > 20 THEN 1 ELSE 0 END)
               AS n_saturated_buckets,
             sum(m * (m - 1) // 2) AS unguarded_candidates,
             sum(CASE WHEN m > 20 THEN m - 1
                      ELSE m * (m - 1) // 2 END) AS guarded_candidates,
             sum(CASE WHEN m > 20 THEN m ELSE 0 END)
               AS saturated_member_rows,
             sum(m) AS total_rows,
             sum(CASE WHEN m > 20
                      THEN m * (m - 1) // 2 - sig_pairs
                      ELSE 0 END) AS cross_sig_missed_bound,
             sum(CASE WHEN m <= 20
                      THEN m * (m - 1) // 2 - sig_pairs
                      ELSE 0 END) AS escape_pairs,
             sum(CASE WHEN m > 20 THEN m * (m - 1) // 2 ELSE 0 END)
               AS sat_pairs
      FROM per)
    SELECT CAST(n_buckets AS BIGINT) AS n_buckets,
           CAST(max_bucket_size AS BIGINT) AS max_bucket_size,
           CAST(n_saturated_buckets AS BIGINT) AS n_saturated_buckets,
           CAST(unguarded_candidates AS BIGINT) AS unguarded_candidates,
           CAST(guarded_candidates AS BIGINT) AS guarded_candidates,
           CAST(saturated_member_rows AS BIGINT) AS saturated_member_rows,
           round(saturated_member_rows * 1.0 / total_rows, 6)
             AS saturated_row_fraction,
           CAST(cross_sig_missed_bound AS BIGINT)
             AS cross_sig_missed_bound,
           CASE WHEN sat_pairs > 0
                THEN round(cross_sig_missed_bound * 1.0 / sat_pairs, 6)
           END AS cross_sig_share,
           CASE WHEN sat_pairs > 0
                THEN round((saturated_member_rows * 1.0 / total_rows)
                           * (cross_sig_missed_bound * 1.0 / sat_pairs), 6)
           END AS est_miss_prob,
           CAST(saturated_member_ids AS BIGINT) AS saturated_member_ids,
           CAST(no_escape_ids AS BIGINT) AS no_escape_ids,
           round(no_escape_ids * 1.0 / total_ids, 6)
             AS no_escape_id_fraction,
           CASE WHEN unguarded_candidates > 0
                THEN round(
                  greatest(cross_sig_missed_bound - escape_pairs, 0)
                  * 1.0 / unguarded_candidates, 6)
           END AS est_family_miss_rate
    FROM agg, idagg
    """,
)
def q_band_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band-cap recall telemetry (VERDICT r12 #5): the generic
    :func:`~polars_text_spark.operators.dedup.band_bucket_stats` audit
    — saturation counts PLUS the miss-probability accounting the guard
    docstrings argue (saturated row fraction x cross-signature share)
    — over a deterministic arithmetic banding of the documents table
    (two bands; a 7-bucket hot band that saturates at cap 20 and a
    97-bucket band; signature groups = doc_id % 21), so DuckDB replays
    every column exactly: per-(bucket, sig) group sizes, the
    (m choose 2) - sig_pairs missed bound, the share, and the k=1
    miss-probability product — plus (round 15, VERDICT r14 #1) the
    per-member no-escape accounting and the regime-aware
    ``est_family_miss_rate`` (bound/unguarded discounted by the
    no-escape share of saturation-touched members). The
    minhash/simhash/store paths feed this same aggregate
    (operators/dedup.py::_band_stats_agg); their upstream banding is
    pinned by the hotband pair gates and pytest."""
    from polars_text_spark.operators.dedup import band_bucket_stats

    docs = _tbl(spark, sf_dir, "documents").select("doc_id")
    banded = docs.select(
        "doc_id", F.explode(F.array(F.lit(0), F.lit(1))).alias("band")
    ).select(
        F.col("doc_id").alias("id"),
        "band",
        F.when(F.col("band") == 0, F.col("doc_id") % 7)
        .otherwise(F.col("doc_id") % 97)
        .alias("bucket"),
        (F.col("doc_id") % 21).alias("sig"),
    )
    out = band_bucket_stats(
        banded, ["band", "bucket"], band_cap=20, sig_col="sig"
    )
    return out.select(
        "n_buckets",
        "max_bucket_size",
        "n_saturated_buckets",
        "unguarded_candidates",
        "guarded_candidates",
        "saturated_member_rows",
        F.round("saturated_row_fraction", 6).alias("saturated_row_fraction"),
        "cross_sig_missed_bound",
        F.round("cross_sig_share", 6).alias("cross_sig_share"),
        F.round("est_miss_prob", 6).alias("est_miss_prob"),
        "saturated_member_ids",
        "no_escape_ids",
        F.round("no_escape_id_fraction", 6).alias("no_escape_id_fraction"),
        F.round("est_family_miss_rate", 6).alias("est_family_miss_rate"),
    )


@query(
    "cross_dedup_hotband",
    """
    -- saturated standing family (300 > cap 16): the shard doc pairs
    -- with the family HUB only
    SELECT 2000000000 AS id_a, 1000000000 AS id_b, 1.0 AS jaccard
    UNION ALL -- at-cap standing family: the shard doc pairs with ALL 16
    SELECT 2000000001 AS id_a, 1100000000 + i AS id_b, 1.0 AS jaccard
    FROM generate_series(0, 15) t(i)
    """,
)
def q_cross_dedup_hotband(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CROSS-corpus face of the hot-band guard (the
    incremental-ingest shape): a 3-doc shard — one page matching the
    300-member standing boilerplate family, one matching the
    at-cap 16-member family, one novel — against the corpus + the
    synthetic families, ``band_cap=16``. The saturated family's
    standing side reduces to its hub, so the first shard doc emits ONE
    pair (vs 300 unguarded); the at-cap family keeps all 16 member
    pairs; the novel doc emits nothing. Pure-arithmetic oracle
    (operators/dedup.py::_guarded_cross_candidates). Since round 15
    the cap rides the AUTO route (``band_cap=("auto", 16)``, VERDICT
    r14 #6): the standing families are signature-identical, so the
    resolver keeps the base cap and the oracle is unchanged — the
    easy-regime proof on the cross face."""
    from polars_text_spark.operators.dedup import minhash_lsh_cross_pairs

    docs = _docs(spark, sf_dir).filter(
        F.col("text").isNotNull()
    ).select("doc_id", "text")
    synth = None
    for start, n, text in _HOTBAND_GROUPS:
        g = spark.range(n).select(
            (F.lit(start) + F.col("id")).alias("doc_id"),
            F.lit(text).alias("text"),
        )
        synth = g if synth is None else synth.union(g)
    shard = spark.createDataFrame(
        [
            (2_000_000_000, _HOTBAND_GROUPS[0][2]),
            (2_000_000_001, _HOTBAND_GROUPS[1][2]),
            (2_000_000_002, "pqnovel pqcrawl pqpage pqnever pqseen pqnew"),
        ],
        "doc_id long, text string",
    )
    pairs = minhash_lsh_cross_pairs(
        shard, docs.union(synth), "text", "doc_id",
        jaccard_threshold=0.9, band_cap=("auto", 16),
    )
    return pairs.select(
        "id_a", "id_b", F.round(F.col("jaccard"), 6).alias("jaccard")
    )


@query(
    "near_dedup_blocked_jaccard",
    f"""
    WITH sh AS ({_SQL_SH_CTE})
    {_sql_jaccard_pairs(0.01, block=True)}
    """,
)
def q_near_dedup_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard within (source, lang) blocks — the
    bounded-quadratic exact path used to validate the approximations.

    Threshold 0.01: the synthetic corpus has one planted within-block
    dup at j~0.96 and a tail of ~150 low-overlap pairs below 0.04 —
    a 0.8/0.9 threshold would leave a 1-row oracle with no hash
    entropy. jaccard is a ratio of identical integers on both engines,
    so the threshold compare is bit-exact."""
    from polars_text_spark.operators.dedup import ngram_jaccard_pairs

    docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    pairs = ngram_jaccard_pairs(
        docs, "text", "doc_id", block_cols=("source", "lang"), threshold=0.01
    )
    return pairs.select(
        "id_a", "id_b", F.round(F.col("jaccard"), 6).alias("jaccard")
    )


@query(
    "dedup_sweep",
    f"""
    WITH sh AS ({_SQL_SH_CTE}),
    p AS ({_sql_jaccard_pairs(0.01, block=True, jaccard="raw")}),
    t AS (SELECT CAST(unnest([0.01, 0.02, 0.03, 0.05, 0.5, 0.9]) AS DOUBLE)
            AS threshold),
    f AS (SELECT t.threshold, p.id_a, p.id_b
          FROM t JOIN p ON p.j >= t.threshold),
    np AS (SELECT threshold, CAST(count(*) AS BIGINT) AS n_pairs
           FROM f GROUP BY threshold),
    nd AS (SELECT threshold, CAST(count(DISTINCT id) AS BIGINT) AS n_docs
           FROM (SELECT threshold, unnest([id_a, id_b]) AS id FROM f)
           GROUP BY threshold)
    SELECT t.threshold,
           COALESCE(np.n_pairs, 0) AS n_pairs,
           COALESCE(nd.n_docs, 0) AS n_docs
    FROM t LEFT JOIN np USING (threshold) LEFT JOIN nd USING (threshold)
    """,
)
def q_dedup_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup threshold-tuning report: pair and affected-doc counts at
    six candidate Jaccard thresholds over the exact blocked pair
    stream — the measured-mass report a curator reads before fixing
    the dedup knob. One explode of the small pair frame; the corpus is
    shingled exactly once. Built on the EXACT blocked pairs (not LSH)
    so recall is 1 at every threshold and the oracle replay is a
    strict equality, with zero rows reported as zeros."""
    from polars_text_spark.operators.dedup import (
        dedup_threshold_sweep,
        ngram_jaccard_pairs,
    )

    docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    pairs = ngram_jaccard_pairs(
        docs, "text", "doc_id", block_cols=("source", "lang"), threshold=0.01
    )
    return dedup_threshold_sweep(
        pairs, [0.01, 0.02, 0.03, 0.05, 0.5, 0.9]
    )


@query(
    "near_dedup_setjoin",
    f"""
    WITH sh AS ({_SQL_SH_CTE})
    {_sql_jaccard_pairs(0.9)}
    """,
)
def q_near_dedup_setjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNBLOCKED exact Jaccard pairs via the prefix-filtered
    set-similarity join — the 100 TB path when no blocking key exists.
    The oracle is the full all-pairs SQL; candidates in Spark come
    only from rare-shingle equi-join collisions, never a cross join."""
    from polars_text_spark.operators.dedup import set_similarity_jaccard_pairs

    docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    pairs = set_similarity_jaccard_pairs(docs, "text", "doc_id", threshold=0.9)
    return pairs.select(
        "id_a", "id_b", F.round(F.col("jaccard"), 6).alias("jaccard")
    )


@query(
    "cross_corpus_dedup",
    f"""
    WITH sh AS ({_SQL_SH_CTE})
    {_sql_jaccard_pairs(0.9, on="a.doc_id % 2 = 1 AND b.doc_id % 2 = 0")}
    """,
)
def q_cross_corpus_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup: a 'new shard' (odd doc ids) deduped
    against the 'standing corpus' (even ids) via cross-corpus
    MinHash+LSH, verified with exact Jaccard. The oracle is the full
    cross-pair SQL; at j >= 0.9 the 16x4 banding's recall is 1 - 4e-8
    so Spark hash-matches it. The standing corpus is banded once and
    never self-paired — the shape that lets a 100 TB corpus absorb a
    1 TB shard without an all-pairs pass."""
    from polars_text_spark.operators.dedup import minhash_lsh_cross_pairs

    docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    new = docs.filter(F.col("doc_id") % 2 == 1)
    standing = docs.filter(F.col("doc_id") % 2 == 0)
    pairs = minhash_lsh_cross_pairs(
        new, standing, "text", "doc_id", jaccard_threshold=0.9
    )
    return pairs.select(
        "id_a", "id_b", F.round(F.col("jaccard"), 6).alias("jaccard")
    )


# Duplicate families of the blocked j >= 0.01 pair graph, the oracle of
# operators/components.py::duplicate_clusters: the recursive closure
# labels every doc_id on a pair with ``component`` = its family's min
# id, and ``sized`` adds the family size. Callers continue the WITH.
_SQL_DUP_FAMILIES = f"""
    WITH RECURSIVE
    sh AS ({_SQL_SH_CTE}),
    pairs AS ({_sql_jaccard_pairs(0.01, block=True, jaccard=None)}),
    edges AS (SELECT id_a AS u, id_b AS v FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    verts AS (SELECT DISTINCT u AS v FROM edges),
    reach(v, r) AS (
      SELECT v, v FROM verts
      UNION
      SELECT e.v, reach.r FROM reach JOIN edges e ON e.u = reach.v
    ),
    comp AS (SELECT v AS doc_id, min(r) AS component FROM reach GROUP BY v),
    sized AS (
      SELECT c.doc_id, c.component, s.n AS cluster_size
      FROM comp c
      JOIN (SELECT component, count(*) AS n FROM comp GROUP BY component) s
        USING (component)
    )"""


@query(
    "dedup_clusters",
    f"""
    {_SQL_DUP_FAMILIES}
    SELECT d.doc_id,
           coalesce(z.component, d.doc_id)          AS component,
           CAST(coalesce(z.cluster_size, 1) AS BIGINT) AS cluster_size,
           coalesce(z.component, d.doc_id) = d.doc_id AS is_canonical
    FROM (SELECT doc_id FROM documents WHERE text IS NOT NULL) d
    LEFT JOIN sized z USING (doc_id)
    """,
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate FAMILIES, not just pairs: exact Jaccard pairs within
    (source, lang) blocks feed hash-min connected components, giving
    every document a component id (min member), family size, and the
    is_canonical keep flag — ``filter(is_canonical)`` IS the deduped
    corpus. The oracle computes the same closure with a DuckDB
    recursive CTE, so component assignment is hash-checked end-to-end
    (beyond-reference: the reference has no graph ops)."""
    from polars_text_spark.operators.components import duplicate_clusters
    from polars_text_spark.operators.dedup import ngram_jaccard_pairs

    docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    pairs = ngram_jaccard_pairs(
        docs, "text", "doc_id", block_cols=("source", "lang"), threshold=0.01
    )
    return duplicate_clusters(
        docs.select("doc_id"), pairs.select("id_a", "id_b"), "doc_id"
    )


def q_near_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash Hamming near-dup pairs (rows-only: the bit mixing uses
    Spark's xxhash64, which DuckDB cannot replicate; invariants are
    pytest-covered in tests/test_dedup.py)."""
    from polars_text_spark.operators.dedup import simhash_pairs

    docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    return simhash_pairs(docs, "text", "doc_id", max_hamming=3)


QUERIES["near_dedup_simhash"] = q_near_dedup_simhash


@query(
    "near_dedup_simhash_sha",
    """
    WITH toks AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)),
                                                  '\\s+')) AS t
      FROM documents WHERE text IS NOT NULL),
    th AS (
      SELECT doc_id, ('0x' || substr(sha256(t), 1, 15))::BIGINT AS h
      FROM toks),
    votes AS (
      SELECT doc_id, b.i AS bit,
             sum(CASE WHEN (h >> b.i) & 1 = 1 THEN 1 ELSE -1 END) AS v
      FROM th, (SELECT unnest(generate_series(0, 62)) AS i) b
      GROUP BY doc_id, b.i),
    sh AS (
      SELECT doc_id,
             sum(CASE WHEN v > 0 THEN (1::BIGINT << bit) ELSE 0 END) AS s
      FROM votes GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             bit_count(xor(a.s, b.s)) AS hamming
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
    SELECT id_a, id_b, CAST(hamming AS BIGINT) AS hamming
    FROM pairs WHERE hamming <= 3
    """,
)
def q_near_dedup_simhash_sha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs with the engine-portable sha256-prefix
    token hash: DuckDB re-derives every signature bit-for-bit and
    checks ALL pairs, so this oracle validates both the signature math
    and the pigeonhole blocking (the Spark side only compares pairs
    sharing a 16-bit chunk — exact for Hamming <= 3 by pigeonhole).
    The xxhash64 twin (`near_dedup_simhash`) remains the fast path."""
    from polars_text_spark.operators.dedup import sha_token_hash, simhash_pairs

    docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    return simhash_pairs(
        docs, "text", "doc_id", max_hamming=3, token_hash=sha_token_hash
    ).withColumn("hamming", F.col("hamming").cast("long"))


@query(
    "near_dedup_bottomk",
    """
    WITH t AS (
      SELECT doc_id,
             regexp_split_to_array(trim(lower(text)), '\\s+') AS tk
      FROM documents WHERE text IS NOT NULL),
    g AS (
      SELECT doc_id,
        CASE WHEN len(tk) < 3 THEN
               [('0x' || substr(sha256(array_to_string(tk, ' ')), 1, 15))::BIGINT]
             ELSE [('0x' || substr(sha256(array_to_string(tk[i:i+2], ' ')),
                                   1, 15))::BIGINT
                   for i in generate_series(1, len(tk) - 2)]
        END AS grams
      FROM t),
    sk AS (
      SELECT doc_id, list_sort(list_distinct(grams))[1:32] AS sk FROM g
      WHERE len(grams) > 0),
    el AS (SELECT doc_id, unnest(sk) AS v FROM sk),
    cand AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM el a JOIN el b ON a.v = b.v AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    est AS (
      SELECT c.id_a, c.id_b,
             len(list_filter(
               list_sort(list_distinct(sa.sk || sb.sk))[1:32],
               x -> list_contains(sa.sk, x) AND list_contains(sb.sk, x)))
             * 1.0
             / len(list_sort(list_distinct(sa.sk || sb.sk))[1:32]) AS e
      FROM cand c
      JOIN sk sa ON sa.doc_id = c.id_a
      JOIN sk sb ON sb.doc_id = c.id_b)
    SELECT id_a, id_b, round(e, 6) AS est_jaccard
    FROM est WHERE e >= 0.3
    """,
)
def q_near_dedup_bottomk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bottom-k (KMV) sketch near-dup pairs with the engine-portable
    sha256-prefix gram hash: DuckDB re-derives every sketch AND every
    Jaccard estimate bit-for-bit — the first sketch ESTIMATOR in the
    suite whose approximate values (not just membership) are
    hash-matched. k=32 longs shuffle per doc regardless of length;
    the banded-MinHash twin (`near_dedup_minhash`) stays the
    hot path with its seeded-permutation family."""
    from polars_text_spark.operators.dedup import (
        bottomk_sketch_pairs,
        sha_token_hash,
    )

    docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    out = bottomk_sketch_pairs(
        docs, "text", "doc_id", k=32, shingle_n=3, threshold=0.3,
        gram_hash=sha_token_hash,
    )
    return out.select(
        "id_a", "id_b", F.round("est_jaccard", 6).alias("est_jaccard")
    )


@query(
    "similarity_topk",
    """
    WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5),
    pairs AS (
      SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
             list_cosine_similarity(q.embedding::DOUBLE[], e.embedding::DOUBLE[]) AS c
      FROM q, embeddings e WHERE e.vec_id <> q.vec_id)
    SELECT query_id, neighbor_id, round(c, 6) AS cosine, CAST(rn AS INT) AS rank
    FROM (SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS rn
          FROM pairs)
    WHERE rn <= 10
    """,
)
def q_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-k: the query side rides in the
    Arrow scorer's closure and the O(N x Q) dense dots run as one
    vectorized numpy pass per scan partition in the engine's exact
    left-fold order — bit-identical to the zip_with/aggregate fold
    the oracle replays, without its interpreted per-pair eval."""
    from polars_text_spark.operators.similarity import cosine_topk

    vecs = _tbl(spark, sf_dir, "embeddings")
    out = cosine_topk(vecs, vecs.filter(F.col("vec_id") < 5), k=10)
    return out.select(
        "query_id",
        "neighbor_id",
        F.round(F.col("cosine"), 6).alias("cosine"),
        F.col("rank").cast("int").alias("rank"),
    )


@query(
    "similarity_topk_int8",
    """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    n AS (SELECT vec_id, v,
                 sqrt(list_reduce(list_transform(v, x -> x*x),
                                  (a, b) -> a + b)) AS nrm
          FROM e),
    u AS (SELECT vec_id,
                 CASE WHEN nrm > 0 THEN list_transform(v, x -> x/nrm)
                      ELSE v END AS u
          FROM n),
    m AS (SELECT vec_id, u,
                 list_max(list_transform(u, x -> abs(x))) AS mx FROM u),
    z AS (SELECT vec_id, mx/127.0 AS scale,
                 CASE WHEN mx / 127.0 > 0
                      THEN list_transform(u,
                        x -> CAST(floor(x/(mx/127.0) + 0.5) AS BIGINT))
                      ELSE list_transform(u, x -> CAST(0 AS BIGINT))
                 END AS q
          FROM m),
    qs AS (SELECT vec_id AS query_id, scale AS qscale, q AS qq
           FROM z WHERE vec_id < 5),
    pairs AS (
      SELECT qs.query_id, z.vec_id AS neighbor_id,
             list_dot_product(qs.qq, z.q) * qs.qscale * z.scale AS s
      FROM qs, z WHERE z.vec_id <> qs.query_id)
    SELECT query_id, neighbor_id, round(s, 6) AS score,
           CAST(rn AS INT) AS rank
    FROM (SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY s DESC, neighbor_id) AS rn
          FROM pairs)
    WHERE rn <= 10
    """,
)
def q_similarity_topk_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int8-quantized brute-force top-k — the memory-bound scale path
    (4x smaller vector payloads, integer dot in the hot loop). The
    quantization itself is deterministic (round-half-up via
    floor(x+0.5)) so the DuckDB oracle replicates it bit-for-bit:
    integer dots hash-match exactly and only the two float scale
    factors need the round(6)."""
    from polars_text_spark.operators.similarity import cosine_topk_quantized

    vecs = _tbl(spark, sf_dir, "embeddings")
    out = cosine_topk_quantized(vecs, vecs.filter(F.col("vec_id") < 5), k=10)
    return out.select(
        "query_id",
        "neighbor_id",
        F.round(F.col("score"), 6).alias("score"),
        F.col("rank").cast("int").alias("rank"),
    )


def q_similarity_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN variant (rows-only: approximate by design;
    recall vs the exact path is pytest-asserted)."""
    from polars_text_spark.operators.similarity import cosine_topk_lsh

    vecs = _tbl(spark, sf_dir, "embeddings")
    return cosine_topk_lsh(vecs, vecs.filter(F.col("vec_id") < 5), k=10, dim=64)


QUERIES["similarity_topk_lsh"] = q_similarity_topk_lsh


def q_similarity_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed ANN variant (rows-only: approximate by design;
    recall vs exact is pytest-asserted)."""
    from polars_text_spark.operators.similarity import cosine_topk_ivf

    vecs = _tbl(spark, sf_dir, "embeddings")
    return cosine_topk_ivf(
        vecs, vecs.filter(F.col("vec_id") < 5), k=10, nprobe=4, seed=42
    )


QUERIES["similarity_topk_ivf"] = q_similarity_topk_ivf


def q_similarity_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the LSH and IVF ANN paths vs the exact top-k, one
    row per method (rows-only: the approximate membership is seeded-
    hash-dependent, but the recall FLOOR is pytest-asserted >= 0.8 —
    the operational quality gate a 100 TB deployment would run on a
    sampled query set). Knobs are at the measured 0.8-recall operating
    point for this corpus: 8 bands x 2 hyperplanes (OR-construction
    wide enough for near-random vectors), nprobe=12 of ~22 IVF lists."""
    from polars_text_spark.operators.similarity import ann_recall_report

    vecs = _tbl(spark, sf_dir, "embeddings")
    return ann_recall_report(
        vecs,
        vecs.filter(F.col("vec_id") < 5),
        k=10,
        dim=64,
        num_planes=16,
        bands=8,
        nprobe=12,
        seed=42,
    )


QUERIES["similarity_ann_recall"] = q_similarity_ann_recall


@query(
    "embedding_dup_pairs",
    """
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cosine
    FROM embeddings a JOIN embeddings b
      ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.4
    """,
)
def q_embedding_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs within label blocks (exact,
    SQL-checkable; label blocks stand in for LSH band keys).
    Vectors are L2-normalized per ROW before the join so the per-pair
    work is a single dot product."""
    from polars_text_spark.operators.similarity import dot, with_l2_normalized

    vecs = _tbl(spark, sf_dir, "embeddings")
    unit = with_l2_normalized(vecs, "embedding", "__unit")
    a = unit.select(
        "label",
        F.col("vec_id").alias("id_a"),
        F.col("__unit").alias("va"),
    )
    b = unit.select(
        "label",
        F.col("vec_id").alias("id_b"),
        F.col("__unit").alias("vb"),
    )
    return (
        a.join(b, "label")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", dot(F.col("va"), F.col("vb")))
        .filter(F.col("cosine") >= 0.4)
        .select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))
    )


# ---------------------------------------------------------------------------
# Relational host-ops showcase (SURVEY §2.2): scan+filter+agg, join.
# ---------------------------------------------------------------------------


@query(
    "pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 4) AS sum_qty,
           round(sum(l_extendedprice), 4) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
           round(avg(l_quantity), 6) AS avg_qty,
           round(avg(l_discount), 6) AS avg_disc,
           CAST(count(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _tbl(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "top_customer_revenue",
    """
    SELECT c.c_custkey, c.c_name, c.c_mktsegment,
           round(sum(o.o_totalprice), 4) AS revenue,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
    WHERE o.o_orderstatus <> 'F'
    GROUP BY c.c_custkey, c.c_name, c.c_mktsegment
    """,
)
def q_top_customer_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast join showcase: customer is the small build side."""
    cust = _tbl(spark, sf_dir, "customer")
    orders = _tbl(spark, sf_dir, "orders")
    return (
        orders.filter(F.col("o_orderstatus") != "F")
        .join(F.broadcast(cust), F.col("c_custkey") == F.col("o_custkey"))
        .groupBy("c_custkey", "c_name", "c_mktsegment")
        .agg(
            F.round(F.sum("o_totalprice"), 4).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


@query(
    "revenue_by_nation",
    """
    SELECT r.r_name AS region, n.n_name AS nation,
           round(sum(o.o_totalprice), 4) AS revenue,
           CAST(count(DISTINCT c.c_custkey) AS BIGINT) AS n_customers,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM region r
      JOIN nation n ON n.n_regionkey = r.r_regionkey
      JOIN customer c ON c.c_nationkey = n.n_nationkey
      JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY r.r_name, n.n_name
    """,
)
def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Four-way star-schema join: the two dimension joins broadcast
    (region/nation are tiny); only the customer<->orders join shuffles."""
    region = _tbl(spark, sf_dir, "region")
    nation = _tbl(spark, sf_dir, "nation")
    cust = _tbl(spark, sf_dir, "customer")
    orders = _tbl(spark, sf_dir, "orders")
    return (
        orders.join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.round(F.sum("o_totalprice"), 4).alias("revenue"),
            F.countDistinct("c_custkey").alias("n_customers"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


@query(
    "supplier_part_coverage",
    """
    SELECT s.s_nationkey AS nationkey,
           CAST(count(DISTINCT s.s_suppkey) AS BIGINT) AS n_suppliers,
           CAST(count(DISTINCT l.l_partkey) AS BIGINT) AS n_parts,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS supplied_value
    FROM supplier s JOIN lineitem l ON l.l_suppkey = s.s_suppkey
    GROUP BY s.s_nationkey
    """,
)
def q_supplier_part_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-to-dimension join on the big lineitem side; supplier
    broadcasts."""
    supp = _tbl(spark, sf_dir, "supplier")
    li = _tbl(spark, sf_dir, "lineitem")
    return (
        li.join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(
            F.countDistinct("s_suppkey").alias("n_suppliers"),
            F.countDistinct("l_partkey").alias("n_parts"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("supplied_value"),
        )
    )


@query(
    "events_hourly",
    """
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 6) AS sum_value,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events
    GROUP BY 1, 2
    """,
)
def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the streaming windowed aggregation
    (polars_text_spark.streaming.windowed_event_counts)."""
    from polars_text_spark.sources.catalog import load_events

    events = load_events(spark, sf_dir)
    return (
        events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
            "n_users",
        )
    )


@query(
    "customer_segment_rank",
    """
    SELECT c_mktsegment, c_custkey, round(c_acctbal, 2) AS acctbal,
           CAST(rank() OVER (PARTITION BY c_mktsegment
                             ORDER BY c_acctbal DESC, c_custkey) AS INT) AS bal_rank
    FROM customer
    QUALIFY bal_rank <= 10
    """,
)
def q_customer_segment_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-function showcase (SURVEY §2.2 host ops): top-10 account
    balances per market segment with deterministic tie-break."""
    from pyspark.sql import Window

    cust = _tbl(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey").asc()
    )
    return (
        cust.withColumn("bal_rank", F.rank().over(w).cast("int"))
        .filter(F.col("bal_rank") <= 10)
        .select(
            "c_mktsegment",
            "c_custkey",
            F.round("c_acctbal", 2).alias("acctbal"),
            "bal_rank",
        )
    )


@query(
    "corpus_pooling_union",
    f"""
    SELECT t AS token, CAST(count(*) AS BIGINT) AS count
    FROM (
      SELECT unnest({_SQL_TOKENS}) AS t
      FROM (SELECT text FROM documents WHERE lang = 'en'
            UNION ALL
            SELECT text FROM documents WHERE lang = 'zh') pooled
      WHERE text IS NOT NULL)
    GROUP BY t
    """,
)
def q_corpus_pooling_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus pooling via unionByName before token counting — the
    documented companion workflow (polars_text/functions.py:200-202,
    SURVEY §2.2 'union/concat for corpus pooling')."""
    docs = _docs(spark, sf_dir, wide=False)
    pooled = docs.filter(F.col("lang") == "en").unionByName(
        docs.filter(F.col("lang") == "zh")
    )
    return token_frequencies(pooled, "text", model=NATIVE_MODEL)


def q_embedding_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding op through the driver surface (SURVEY §2.1 #7) —
    rows-only: the vector values are model output, not SQL-expressible;
    dim/norm invariants are pytest-covered (tests/test_cache.py,
    tests/test_dedup_similarity.py).

    ``comp_sum``/``pos_buckets`` are value-bearing deterministic
    projections of the embedder output (per-doc component sum and
    positive-bucket count): dim and l2_norm alone are near-constant, so
    without them a regression in the feature-hasher's bucketing or sign
    logic would slip through a rows-only check unchanged."""
    from polars_text_spark.functions.embedding import embedding

    docs = _docs(spark, sf_dir)
    emb = docs.select(
        "doc_id",
        embedding("text", embedder_model="native:feature-hash:64")
        .cast("array<double>")
        .alias("vec"),
    )
    return emb.select(
        "doc_id",
        F.size("vec").alias("dim"),
        F.round(
            F.sqrt(
                F.aggregate(
                    F.col("vec"), F.lit(0.0), lambda acc, v: acc + v * v
                )
            ),
            4,
        ).alias("l2_norm"),
        F.round(
            F.aggregate(F.col("vec"), F.lit(0.0), lambda acc, v: acc + v), 4
        ).alias("comp_sum"),
        F.size(F.filter(F.col("vec"), lambda v: v > 0)).alias("pos_buckets"),
    )


QUERIES["embedding_docs"] = q_embedding_docs


@query(
    "embedding_docs_sha",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest(({_SQL_TOKENS})[1:512]) AS t
      FROM documents WHERE text IS NOT NULL),
    th AS (
      SELECT doc_id,
             ('0x' || substr(sha256(t), 1, 15))::BIGINT AS h
      FROM toks),
    acc AS (
      SELECT doc_id, h % 64 AS bucket,
             sum(CASE WHEN (h >> 59) & 1 = 1 THEN 1.0 ELSE -1.0 END) AS v
      FROM th GROUP BY doc_id, h % 64),
    dense AS (
      SELECT d.doc_id, g.i AS dim, COALESCE(a.v, 0.0) AS v
      FROM (SELECT doc_id FROM documents WHERE text IS NOT NULL) d
      CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS i) g
      LEFT JOIN acc a ON a.doc_id = d.doc_id AND a.bucket = g.i),
    nrm AS (
      SELECT doc_id, sqrt(sum(v * v)) AS n FROM dense GROUP BY doc_id)
    SELECT dense.doc_id, CAST(dim AS INT) AS dim,
           round(CAST(CAST(CASE WHEN n > 0 THEN v / n ELSE v END AS REAL)
                      AS DOUBLE), 6) AS value
    FROM dense JOIN nrm USING (doc_id)
    """,
)
def q_embedding_docs_sha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embedding op with the engine-portable sha256-prefix token
    hash (``native:feature-hash-sha``): DuckDB re-derives EVERY vector
    component — token hash, signed bucket accumulation, L2 normalize,
    float32 rounding — so the embedder's bag-of-buckets + normalize
    math (the stand-in for mean-pool + L2, src/topic_modeling/
    embedding.rs:189-250) gets a full value-level hash match. The md5
    twin (``embedding_docs``) remains the fast path; this runs the
    identical pandas-UDF plumbing (schema, Arrow batching, registry)."""
    from polars_text_spark.functions.embedding import embedding

    docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    emb = docs.select(
        "doc_id",
        embedding("text", embedder_model="native:feature-hash-sha:64").alias(
            "vec"
        ),
    )
    exploded = emb.select(
        "doc_id", F.posexplode(F.col("vec").cast("array<double>"))
    )
    return exploded.select(
        "doc_id",
        F.col("pos").cast("int").alias("dim"),
        F.round(F.col("col"), 6).alias("value"),
    )


@query("embedding_cached", ORACLES["embedding_docs_sha"])
def q_embedding_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embedding cache driven through the driver's hash gate — the
    embedding twin of ``tokenize_cached`` (reference semantics
    src/topic_modeling/embedding_cache.rs:20-31,143-160): a COLD pass
    computes every distinct text's vector once and appends it to the
    (model, revision, provider)-scoped parquet cache; a WARM pass finds
    zero misses and serves every vector FROM the cache — and the warm
    output must hash-match the uncached ``embedding_docs_sha`` oracle,
    which re-derives every vector component in SQL. A stale, corrupt,
    or lossily round-tripped cache (float munging, row loss, scope
    collisions) fails the value hash."""
    import atexit
    import shutil
    import tempfile

    from polars_text_spark.operators.cache import embedding_cached

    # unique per invocation; removal deferred past the driver's collect
    # (the warm frame reads the cache parquet lazily) — same lifecycle
    # as q_tokenize_cached
    cache_path = tempfile.mkdtemp(prefix="ptx_embcache_")
    atexit.register(shutil.rmtree, cache_path, True)
    docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    model = "native:feature-hash-sha:64"
    # cold: populates the cache scope
    embedding_cached(
        docs, "text", embedder_model=model, cache_path=cache_path,
        output_col="vec",
    )
    # warm: zero misses; vectors come back from the cache parquet
    warm = embedding_cached(
        docs, "text", embedder_model=model, cache_path=cache_path,
        output_col="vec",
    )
    exploded = warm.select(
        "doc_id", F.posexplode(F.col("vec").cast("array<double>"))
    )
    return exploded.select(
        "doc_id",
        F.col("pos").cast("int").alias("dim"),
        F.round(F.col("col"), 6).alias("value"),
    )


def q_topic_modeling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-column topic modeling (SURVEY §2.1 #8) — rows-only: the
    density clustering is not SQL-expressible; structural invariants
    (distribution sums, label contiguity, metadata replication, guard
    paths) are pytest-covered in tests/test_topic_modeling.py."""
    from polars_text_spark.operators.topic_modeling import topic_modeling

    docs = _docs(spark, sf_dir)
    out = topic_modeling(docs, "text", min_cluster_size=10, seed=42, top_k=5)
    return out.select(
        "doc_id",
        F.col("topics.dominant_topic").alias("dominant_topic"),
        F.size("topics.topic_distribution").alias("n_dist_entries"),
        F.round(
            F.aggregate(
                "topics.topic_distribution",
                F.lit(0.0),
                lambda acc, tp: acc + tp["proportion"].cast("double"),
            ),
            4,
        ).alias("proportion_sum"),
        F.col("topics.n_topics").alias("n_topics"),
        F.col("topics.n_chunks").alias("n_chunks"),
    )


QUERIES["topic_modeling"] = q_topic_modeling


# Engine-portable 60-bit sha prefix of an id/text expression — the same
# recipe as operators.dedup.sha_token_hash, inlined for SQL fragments.
_SQL_SHA60 = "('0x' || substr(sha256({expr}), 1, 15))::BIGINT"


def _sql_vecs(pred: str = "TRUE") -> str:
    """CTE ``e``: the embeddings matching ``pred`` as DOUBLE lists ``v``."""
    return f"""e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings WHERE embedding IS NOT NULL AND ({pred}))"""


# The exact re-rank of the vector oracles — the DuckDB twin of
# operators/similarity.py::rank_topk over fold-exact cosines. ``unit``
# L2-normalizes ``e`` (a zero vector stays as-is); ``scored`` is the
# left-fold dot of the unit vectors of every ``cand(query_id,
# neighbor_id)`` pair; _SQL_TOP10 keeps each query's 10 best, ties to
# the smaller neighbor_id.
_SQL_UNIT_CTE = """unit AS (
      SELECT vec_id,
        CASE WHEN nrm > 0 THEN list_transform(v, x -> x / nrm) ELSE v END AS u
      FROM (SELECT vec_id, v,
              sqrt(list_reduce(list_transform(v, x -> x * x),
                   (a, b) -> a + b)) AS nrm
            FROM e))"""
_SQL_SCORED_CTE = """scored AS (
      SELECT c.query_id, c.neighbor_id,
             list_reduce(list_transform(generate_series(1, len(uq.u)),
                  i -> uq.u[i] * un.u[i]), (a, b) -> a + b) AS cos
      FROM cand c
      JOIN unit uq ON uq.vec_id = c.query_id
      JOIN unit un ON un.vec_id = c.neighbor_id)"""
_SQL_TOP10 = """SELECT query_id, neighbor_id, round(cos, 6) AS cosine,
           CAST(rn AS INT) AS rank
    FROM (SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn
          FROM scored)
    WHERE rn <= 10"""


@query(
    "topic_ctfidf",
    f"""
    WITH labeled AS (
      SELECT {_SQL_SHA60.format(expr="CAST(doc_id AS VARCHAR)")} % 8 AS label,
             text
      FROM documents WHERE text IS NOT NULL),
    toks AS (
      SELECT label, unnest({_SQL_TOKENS}) AS token FROM labeled),
    counts AS (
      SELECT label, token, CAST(count(*) AS BIGINT) AS cnt
      FROM toks GROUP BY label, token),
    tot AS (SELECT label, sum(cnt) AS topic_total FROM counts GROUP BY label),
    cf AS (SELECT token, sum(cnt) AS corpus_freq FROM counts GROUP BY token),
    avg_w AS (
      SELECT sum(cnt) / count(DISTINCT label) AS avg_words FROM counts),
    scored AS (
      SELECT c.label, c.token,
             (c.cnt / t.topic_total)
               * ln(1 + a.avg_words / f.corpus_freq) AS score
      FROM counts c
      JOIN tot t USING (label)
      JOIN cf f USING (token)
      CROSS JOIN avg_w a),
    ranked AS (
      SELECT label, token,
             row_number() OVER (PARTITION BY label
                                ORDER BY score DESC, token ASC) AS rn
      FROM scored)
    SELECT label, CAST(rn AS INT) AS rank, token
    FROM ranked WHERE rn <= 5
    """,
)
def q_topic_ctfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The c-TF-IDF stage of topic modeling in isolation, made
    hash-checkable by fixing topic labels deterministically
    (sha(doc_id) mod 8) instead of density clustering: DuckDB
    re-derives tf = cnt/topic_total, idf = ln(1 + avg_words/
    corpus_freq) and the (score desc, token asc) ranking — the exact
    formula block of /root/reference/src/topic_modeling/
    ctfidf.rs:10-17,55-105. The full pipeline stays rows-only (seeded
    clustering, mod.rs:21-24); this pins its hardest pure-math stage."""
    from polars_text_spark.operators.dedup import sha_token_hash
    from polars_text_spark.operators.topic_modeling.ctfidf import topic_words

    docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    labeled = docs.select(
        (sha_token_hash(F.col("doc_id").cast("string")) % 8).alias("label"),
        F.col("text").alias("chunk_text"),
    )
    words = topic_words(labeled, top_k=5, vectorizer_model=NATIVE_MODEL)
    return words.select(
        "label", F.posexplode("representative_words")
    ).select(
        "label",
        (F.col("pos") + 1).cast("int").alias("rank"),
        F.col("col").alias("token"),
    )


@query(
    "topic_rollup",
    f"""
    WITH chunks AS (
      SELECT doc_id, s
      FROM (SELECT doc_id,
                   unnest(regexp_split_to_array(trim(lower(text)),
                                                '\\s+')) AS s
            FROM documents WHERE text IS NOT NULL)
      WHERE s <> ''),
    labeled AS (
      SELECT doc_id, {_SQL_SHA60.format(expr="s")} % 6 - 1 AS label
      FROM chunks),
    counts AS (
      SELECT doc_id, label, CAST(count(*) AS BIGINT) AS cnt
      FROM labeled GROUP BY doc_id, label),
    props AS (
      SELECT doc_id, label, cnt,
             cnt / sum(cnt) OVER (PARTITION BY doc_id) AS prop
      FROM counts),
    dom AS (
      SELECT doc_id, label AS dominant FROM (
        SELECT doc_id, label,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY cnt DESC, label ASC) AS rn
        FROM counts WHERE label <> -1) WHERE rn = 1)
    SELECT p.doc_id, CAST(p.label AS INT) AS topic_id,
           round(CAST(CAST(p.prop AS REAL) AS DOUBLE), 6) AS proportion,
           CAST(COALESCE(d.dominant, -1) AS INT) AS dominant_topic
    FROM props p LEFT JOIN dom d USING (doc_id)
    """,
)
def q_topic_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-document rollup stage of topic modeling in isolation
    (proportions over ALL chunks incl. outlier mass, distribution in
    ascending topic order, dominant = most frequent non-outlier with
    ties to the smaller id, all-outlier docs -> -1 — /root/reference/
    src/topic_modeling/rollup.rs:52-99), made hash-checkable with
    deterministic whitespace-token chunks (many per doc, so real
    multi-entry distributions and cnt-tie dominants occur) and
    hash-assigned labels in [-1, 4] so outlier paths are exercised.
    DuckDB re-derives the distribution row set and the dominant choice
    exactly; the float32 proportion cast is replicated on both sides."""
    from polars_text_spark.operators.dedup import sha_token_hash
    from polars_text_spark.operators.topic_modeling.rollup import rollup

    docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    chunks = docs.select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("s"),
    ).filter(F.col("s") != "")
    labeled = chunks.select(
        "doc_id", (sha_token_hash(F.col("s")) % 6 - 1).alias("label")
    )
    rolled = rollup(labeled, row_id_col="doc_id", label_col="label")
    return rolled.select(
        "doc_id",
        F.col("dominant_topic").cast("int").alias("dominant_topic"),
        F.explode("topic_distribution").alias("tp"),
    ).select(
        "doc_id",
        F.col("tp.topic_id").cast("int").alias("topic_id"),
        F.round(F.col("tp.proportion").cast("double"), 6).alias("proportion"),
        "dominant_topic",
    )


@query(
    "topic_assemble",
    f"""
    WITH chunks AS (
      SELECT doc_id, s
      FROM (SELECT doc_id,
                   unnest(regexp_split_to_array(trim(lower(text)),
                                                '\\s+')) AS s
            FROM documents WHERE text IS NOT NULL)
      WHERE s <> ''),
    labeled AS (
      SELECT doc_id, {_SQL_SHA60.format(expr="s")} % 6 - 1 AS label
      FROM chunks),
    counts AS (
      SELECT doc_id, label, count(*) AS cnt
      FROM labeled GROUP BY doc_id, label),
    dom AS (
      SELECT doc_id, label AS dominant FROM (
        SELECT doc_id, label,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY cnt DESC, label ASC) AS rn
        FROM counts WHERE label <> -1) WHERE rn = 1),
    ndist AS (
      SELECT doc_id, CAST(count(*) AS INT) AS n_dist
      FROM counts GROUP BY doc_id),
    tot AS (SELECT CAST(count(*) AS INT) AS nc FROM labeled)
    SELECT d.doc_id,
           CAST(COALESCE(dm.dominant, -1) AS INT) AS dominant_topic,
           COALESCE(nd.n_dist, 0) AS n_dist,
           CASE WHEN COALESCE(dm.dominant, -1) >= 0
                THEN 'w' || CAST(dm.dominant AS VARCHAR) ELSE '' END
             AS rep_words,
           round(CAST(CAST(CASE WHEN COALESCE(dm.dominant, -1) >= 0
                                THEN dm.dominant ELSE 0 END AS REAL)
                      AS DOUBLE), 6) AS x,
           round(CAST(CAST(CASE WHEN COALESCE(dm.dominant, -1) >= 0
                                THEN -dm.dominant ELSE 0 END AS REAL)
                      AS DOUBLE), 6) AS y,
           CAST(5 AS INT) AS n_topics,
           (SELECT nc FROM tot) AS n_chunks
    FROM documents d
    LEFT JOIN dom dm USING (doc_id)
    LEFT JOIN ndist nd USING (doc_id)
    """,
)
def q_topic_assemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The assemble stage of topic modeling in isolation
    (/root/reference/src/topic_modeling/plugin.rs:136-293): rollup +
    broadcast topic-metadata joins back onto the source rows 1:1 with
    the outlier/zero-chunk fills (dominant -1, empty words, origin
    coords, plugin.rs:160-186) — the last deterministic op-8 block
    under the driver hash. Hash-assigned labels over whitespace-token
    chunks (the topic_ctfidf/topic_rollup trick) make every fill path
    occur in real data: docs with NULL text exercise the no-chunk
    fill, all-outlier docs the dominant=-1 metadata miss. The oracle
    re-derives the dominant choice, the distribution size, the
    replicated per-topic metadata incl. both fills, and the literal
    n_topics/n_chunks replication."""
    from polars_text_spark.operators.dedup import sha_token_hash
    from polars_text_spark.operators.topic_modeling import assemble_topics
    from polars_text_spark.operators.topic_modeling.rollup import rollup

    docs = _docs(spark, sf_dir)  # ALL docs — null text hits the fill
    chunks = docs.filter(F.col("text").isNotNull()).select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("s"),
    ).filter(F.col("s") != "")
    labeled = chunks.select(
        "doc_id", (sha_token_hash(F.col("s")) % 6 - 1).alias("label")
    )
    n_chunks = labeled.count()
    doc_topics = rollup(labeled, row_id_col="doc_id", label_col="label")
    topic_table = spark.createDataFrame(
        [(t, [f"w{t}"], float(t), float(-t)) for t in range(5)],
        "dominant_topic int, representative_words array<string>, "
        "topic_x float, topic_y float",
    )
    out = assemble_topics(
        docs,
        doc_topics,
        topic_table,
        row_id_col="doc_id",
        n_topics=5,
        n_chunks=n_chunks,
        keep_cols=["doc_id"],
        output_col="topics",
    )
    return out.select(
        "doc_id",
        F.col("topics.dominant_topic").alias("dominant_topic"),
        F.size("topics.topic_distribution").alias("n_dist"),
        F.concat_ws(",", "topics.representative_words").alias("rep_words"),
        F.round(F.col("topics.x").cast("double"), 6).alias("x"),
        F.round(F.col("topics.y").cast("double"), 6).alias("y"),
        F.col("topics.n_topics").alias("n_topics"),
        F.col("topics.n_chunks").alias("n_chunks"),
    )


@query(
    "topic_projector",
    f"""
    WITH {_sql_vecs()},
    fit AS (
      SELECT vec_id, v,
             {_SQL_SHA60.format(expr="CAST(vec_id AS VARCHAR)")} % 6 - 1
               AS label
      FROM e WHERE vec_id % 4 = 0 AND vec_id < 4000),
    fdim AS (
      SELECT f.label, f.vec_id, u.i AS i, f.v[u.i] AS x
      FROM fit f, UNNEST(generate_series(1, 64)) AS u(i)
      WHERE f.label >= 0),
    cent AS (
      SELECT label, i, avg(x) AS c FROM fdim GROUP BY label, i),
    fitd AS (
      SELECT d.label, d.vec_id, sqrt(sum((d.x - c.c) * (d.x - c.c))) AS dist
      FROM fdim d JOIN cent c ON c.label = d.label AND c.i = d.i
      GROUP BY d.label, d.vec_id),
    radius AS (
      SELECT label, max(dist) AS r FROM fitd GROUP BY label),
    alld AS (
      SELECT e.vec_id, c.label,
             sqrt(sum((e.v[c.i] - c.c) * (e.v[c.i] - c.c))) AS dist
      FROM e, cent c
      GROUP BY e.vec_id, c.label),
    nearest AS (
      SELECT vec_id, label, dist,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY dist ASC, label ASC) AS rn
      FROM alld)
    SELECT n.vec_id,
           (n.vec_id % 4 = 0 AND n.vec_id < 4000) AS in_fit,
           CAST(CASE WHEN n.dist <= r.r * 1.5 THEN n.label
                     ELSE -1 END AS INT) AS projected_topic
    FROM nearest n JOIN radius r USING (label)
    WHERE n.rn = 1
    """,
)
def q_topic_projector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sampled-fit -> broadcast-projector assignment of the topic
    pipeline's scale path (pipeline.py:148-199) in isolation, under
    the driver hash: fit members are a deterministic corpus sample
    (vec_id % 4 = 0, bounded at 4000 — the max_fit_points stand-in)
    with hash-assigned fit labels in [-1, 4] (the topic_assemble
    trick, so the fit itself needs no seeded clustering), the topic
    geometry comes from the REAL :func:`cluster_geometry` (centroid =
    member mean, radius = max member distance), and every corpus
    vector is labeled executor-side by the REAL
    :func:`nearest_centroid_labels` inside an Arrow-batched pandas
    UDF whose closure ships only the (n_topics x dim) geometry —
    kilobytes, the broadcast-instead-of-collect half of the design.
    The oracle re-derives centroids, radii, each vector's nearest
    centroid (ties to the smaller label, numpy argmin's choice) and
    the radius_slack=1.5 outlier gate. Mirrors the out-of-sample
    assignment of /root/reference/src/topic_modeling/cluster.rs via
    reduce.rs:69-83's sampled-fit stance."""
    import numpy as np
    import pandas as pd

    from polars_text_spark.operators.dedup import sha_token_hash
    from polars_text_spark.operators.topic_modeling.cluster import (
        cluster_geometry,
        nearest_centroid_labels,
    )

    vecs = _tbl(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    fit = (
        vecs.filter((F.col("vec_id") % 4 == 0) & (F.col("vec_id") < 4000))
        .select(
            "vec_id",
            "embedding",
            (sha_token_hash(F.col("vec_id").cast("string")) % 6 - 1).alias(
                "label"
            ),
        )
    )
    # the ONE bounded driver materialization (<= 1000 rows by the
    # vec_id < 4000 cap), mirroring the pipeline's max_fit_points
    fit_pd = fit.toPandas()
    pts = np.stack([np.asarray(v, dtype=np.float32) for v in fit_pd["embedding"]])
    centroids, radii = cluster_geometry(
        pts, fit_pd["label"].to_numpy(), n_topics=5
    )

    @F.pandas_udf("int")
    def assign(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for series in batches:
            if len(series) == 0:
                yield pd.Series([], dtype="int32")
                continue
            mat = np.stack(
                [np.asarray(v, dtype=np.float32) for v in series]
            )
            yield pd.Series(
                nearest_centroid_labels(
                    mat, centroids, radii, radius_slack=1.5
                )
            )

    return vecs.select(
        "vec_id",
        ((F.col("vec_id") % 4 == 0) & (F.col("vec_id") < 4000)).alias(
            "in_fit"
        ),
        assign("embedding").alias("projected_topic"),
    )


def _sha_sign_sql(j, p) -> str:
    """DuckDB twin of operators.similarity._sha_sign for LITERAL plane
    j and generate_series column expr p."""
    return (
        f"CASE WHEN substr(sha256('{j}:' || CAST({p} AS VARCHAR)), 1, 1)"
        " < '8' THEN 1.0 ELSE -1.0 END"
    )


def _topic_oos_oracle_sql() -> str:
    # reduced coordinate r_j(v) = sum_p (v[p] - mean[p]) * sign(j, p)
    sgn_rows = " UNION ALL ".join(
        f"SELECT {j} AS j, p, {_sha_sign_sql(j, 'p')} AS s"
        " FROM (SELECT unnest(generate_series(0, 63)) AS p)"
        for j in range(5)
    )
    return f"""
    WITH {_sql_vecs()},
    fit AS (
      SELECT vec_id, v,
             {_SQL_SHA60.format(expr="CAST(vec_id AS VARCHAR)")} % 6 - 1
               AS label
      FROM e WHERE vec_id % 4 = 0 AND vec_id < 4000),
    mean AS (
      SELECT u.p AS p, avg(f.v[u.p + 1]) AS mu
      FROM fit f, UNNEST(generate_series(0, 63)) AS u(p)
      GROUP BY u.p),
    sgn AS ({sgn_rows}),
    red AS (
      SELECT e.vec_id, s.j,
             sum((e.v[s.p + 1] - m.mu) * s.s) AS r
      FROM e, sgn s JOIN mean m ON m.p = s.p
      GROUP BY e.vec_id, s.j),
    fitred AS (
      SELECT f.label, r.vec_id, r.j, r.r
      FROM fit f JOIN red r ON r.vec_id = f.vec_id
      WHERE f.label >= 0),
    cent AS (
      SELECT label, j, avg(r) AS c FROM fitred GROUP BY label, j),
    fitd AS (
      SELECT d.label, d.vec_id, sqrt(sum((d.r - c.c) * (d.r - c.c))) AS dist
      FROM fitred d JOIN cent c ON c.label = d.label AND c.j = d.j
      GROUP BY d.label, d.vec_id),
    radius AS (SELECT label, max(dist) AS rr FROM fitd GROUP BY label),
    alld AS (
      SELECT r.vec_id, c.label,
             sqrt(sum((r.r - c.c) * (r.r - c.c))) AS dist
      FROM red r JOIN cent c ON c.j = r.j
      GROUP BY r.vec_id, c.label),
    nearest AS (
      SELECT vec_id, label, dist,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY dist ASC, label ASC) AS rn
      FROM alld),
    assigned AS (
      SELECT n.vec_id,
             CAST(CASE WHEN n.dist <= r.rr * 1.5 THEN n.label
                       ELSE -1 END AS INT) AS label
      FROM nearest n JOIN radius r USING (label)
      WHERE n.rn = 1)
    SELECT a.vec_id,
           (a.vec_id % 4 = 0 AND a.vec_id < 4000) AS in_fit,
           CAST(CASE WHEN a.vec_id % 4 = 0 AND a.vec_id < 4000
                THEN {_SQL_SHA60.format(expr="CAST(a.vec_id AS VARCHAR)")}
                     % 6 - 1
                ELSE a.label END AS INT) AS label
    FROM assigned a
    """


@query("topic_assign_oos", _topic_oos_oracle_sql())
def q_topic_assign_oos(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sampled-fit -> ASSIGN round-trip of the topic pipeline's
    scale path under the driver hash (VERDICT r12 #6), at a fit cap
    smaller than the corpus: fit members are the deterministic
    vec_id%4<4000 sample with hash-assigned labels (the topic_assemble
    trick — the seeded SVD/MST fit itself is the one non-replayable
    stage, per the reference's CI stance), the REDUCTION is a
    LinearProjector with sha-derived ±1 components and the real fit
    mean, topic geometry comes from the real
    :func:`~polars_text_spark.operators.topic_modeling.cluster.
    cluster_geometry` IN THE REDUCED SPACE, and every corpus vector —
    fit and out-of-sample alike — is labeled by the pipeline's OWN
    ``_assign_udf`` (pipeline.py::_assign_udf: executor-side reduce +
    nearest-centroid + radius_slack gate, closure = kilobytes of
    fitted state). Fit rows then keep their exact fit labels via the
    same coalesce the pipeline applies. The oracle re-derives the
    mean, all five reduced coordinates of every vector, centroids,
    radii, the argmin tie-break and the 1.5-radius outlier gate —
    unlike `topic_projector` (raw-space assignment only), this pins
    reduce -> geometry -> assign end to end."""
    import numpy as np

    from polars_text_spark.operators.dedup import sha_token_hash
    from polars_text_spark.operators.similarity import _sha_sign
    from polars_text_spark.operators.topic_modeling.cluster import (
        cluster_geometry,
    )
    from polars_text_spark.operators.topic_modeling.pipeline import (
        _assign_udf,
    )
    from polars_text_spark.operators.topic_modeling.reduce import (
        LinearProjector,
    )

    vecs = _tbl(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    fit_lbl = (sha_token_hash(F.col("vec_id").cast("string")) % 6 - 1).cast(
        "int"
    )
    fit = vecs.filter(
        (F.col("vec_id") % 4 == 0) & (F.col("vec_id") < 4000)
    ).select("vec_id", "embedding", fit_lbl.alias("label"))
    # the ONE bounded driver materialization (<= 1000 rows), the
    # pipeline's max_fit_points stand-in
    fit_pd = fit.toPandas()
    fit_mat = np.stack(
        [np.asarray(v, dtype=np.float32) for v in fit_pd["embedding"]]
    )
    mean = np.asarray(fit_mat, dtype=np.float64).mean(axis=0, keepdims=True)
    comps_k = np.array(
        [[_sha_sign(j, p) for p in range(64)] for j in range(5)]
    )
    comps_2 = np.array(
        [[_sha_sign(j, p) for p in range(64)] for j in (100, 101)]
    )
    proj_k = LinearProjector(mean, comps_k)
    proj_2 = LinearProjector(mean, comps_2)
    centroids, radii = cluster_geometry(
        proj_k.transform(fit_mat), fit_pd["label"].to_numpy(), n_topics=5
    )
    in_fit = (F.col("vec_id") % 4 == 0) & (F.col("vec_id") < 4000)
    assigned = vecs.withColumn(
        "__as", _assign_udf(proj_k, proj_2, centroids, radii)(F.col("embedding"))
    )
    return assigned.select(
        "vec_id",
        in_fit.alias("in_fit"),
        F.when(in_fit, fit_lbl)
        .otherwise(F.col("__as.label"))
        .cast("int")
        .alias("label"),
    )


@query(
    "normalize_and_stopwords",
    f"""
    SELECT t AS token, CAST(count(*) AS BIGINT) AS count
    FROM (
      SELECT unnest(list_filter({_SQL_TOKENS.replace("lower(text)", "lower(nfc_normalize(text))")},
             x -> x NOT IN ('the','a','of','and','to','in','is','it','that','was'))) AS t
      FROM documents WHERE text IS NOT NULL)
    GROUP BY t
    """,
)
def q_normalize_and_stopwords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NFC normalization -> tokenize -> stopword removal -> counts:
    the standard text-cleaning prefix of a training-data pipeline,
    end to end with a DuckDB nfc_normalize oracle."""
    from polars_text_spark.functions import normalize_text, remove_stopwords

    docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    toks = docs.select(
        F.explode(
            remove_stopwords(
                tokenize(normalize_text("text"), model=NATIVE_MODEL),
                "en",
                field="token",
            )
        ).alias("t")
    )
    return toks.groupBy(F.col("t.token").alias("token")).agg(
        F.count(F.lit(1)).alias("count")
    )


@query(
    "event_sessions",
    """
    WITH g AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL THEN 1
                  WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w)
                       > CAST(3600 AS BIGINT) * 1000000 THEN 1
                  ELSE 0 END AS ns
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
    s AS (
      SELECT *, sum(ns) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM g)
    SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 6) AS sum_value
    FROM s GROUP BY user_id, sid
    """,
)
def q_event_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (gaps-and-islands) — the exact twin of the
    applyInPandasWithState streaming operator
    (polars_text_spark.streaming.sessions)."""
    from polars_text_spark.sources.catalog import load_events
    from polars_text_spark.streaming.sessions import sessionize_batch

    events = load_events(spark, sf_dir)
    out = sessionize_batch(events, gap_seconds=3600)
    return out.select(
        "user_id",
        "session_start",
        "session_end",
        "n_events",
        F.round("sum_value", 6).alias("sum_value"),
    )


@query(
    "events_props_json",
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
    FROM events
    WHERE props IS NOT NULL
    GROUP BY event_type
    """,
)
def q_events_props_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured props extraction (get_json_object stays
    JVM-side) — the JSON-column pattern an event pipeline needs."""
    from polars_text_spark.sources.catalog import load_events

    events = load_events(spark, sf_dir).filter(F.col("props").isNotNull())
    k = F.get_json_object("props", "$.k").cast("long")
    return events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(k).alias("sum_k"),
        F.max(k).alias("max_k"),
    )


# ---------------------------------------------------------------------------
# Round-3 pipeline operators: as-of join, repetition signals,
# decontamination, deterministic sampling, BM25 retrieval.
# ---------------------------------------------------------------------------


@query(
    "events_asof_clicks",
    """
    SELECT l.event_id, l.user_id, l.ts, r.ts AS click_ts,
           date_diff('microsecond', r.ts, l.ts) AS gap_us
    FROM (SELECT * FROM events WHERE event_type = 'purchase') l
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') r
      ON l.user_id = r.user_id AND l.ts >= r.ts
    """,
)
def q_events_asof_clicks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribution as-of join: each purchase matched to the user's
    most recent prior-or-simultaneous click. The Spark plan is the
    union+running-window form (one shuffle on user_id, no range
    join); DuckDB's native ASOF LEFT JOIN is the oracle. Only the
    tie-invariant matched timestamp is projected — ASOF leaves the
    choice among equal-ts right rows unspecified."""
    from polars_text_spark.operators.asof import asof_join
    from polars_text_spark.sources.catalog import load_events

    events = load_events(spark, sf_dir)
    purchases = events.filter(F.col("event_type") == "purchase")
    clicks = events.filter(F.col("event_type") == "click")
    out = asof_join(
        purchases, clicks, on=["user_id"], left_ts="ts", right_cols=["ts"]
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        F.col("ts_right").alias("click_ts"),
        (F.unix_micros("ts") - F.unix_micros("ts_right")).alias("gap_us"),
    )


@query(
    "events_gapfill",
    """
    WITH b AS (
      SELECT event_type, date_trunc('hour', ts) AS bucket,
             round(avg(value), 6) AS avg_value, true AS present
      FROM events WHERE user_id % 50 = 0 GROUP BY 1, 2),
    r AS (SELECT event_type, min(bucket) AS mn, max(bucket) AS mx
          FROM b GROUP BY 1),
    g AS (SELECT event_type,
                 unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS bucket
          FROM r),
    j AS (SELECT g.event_type, g.bucket, b.avg_value, b.present
          FROM g LEFT JOIN b
            ON g.event_type = b.event_type AND g.bucket = b.bucket)
    SELECT event_type, bucket,
           last_value(avg_value IGNORE NULLS) OVER (
             PARTITION BY event_type ORDER BY bucket
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS avg_value,
           present IS NULL AS is_gap
    FROM j
    """,
)
def q_events_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style gap-fill + LOCF: hourly per-type average
    event value over a sparse user slice, densified to every hour
    between each type's first and last observation with the last
    value carried across the gaps. The Spark plan is the union +
    running-window form (operators/asof.py gapfill_locf — grid via
    sequence/explode, ONE keys shuffle, no range join); the oracle
    replays it with generate_series + last_value IGNORE NULLS.
    Rounding happens at the bucket stage on BOTH sides, so carried
    values are bit-equal."""
    from polars_text_spark.operators.asof import gapfill_locf
    from polars_text_spark.sources.catalog import load_events

    ev = load_events(spark, sf_dir).filter(F.col("user_id") % 50 == 0)
    buckets = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("bucket")
    ).agg(F.round(F.avg("value"), 6).alias("avg_value"))
    return gapfill_locf(
        buckets, ["event_type"], "bucket", ["avg_value"], step="1 hour"
    )


@query(
    "repetition_signals",
    """
    WITH t AS (
      SELECT doc_id,
             CASE WHEN trim(text) = '' THEN []
                  ELSE regexp_split_to_array(trim(lower(text)), '\\s+')
             END AS toks
      FROM documents WHERE text IS NOT NULL),
    s AS (
      SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_words,
             round(CASE WHEN len(toks) = 0 THEN 0.0
                        ELSE 1.0 - len(list_distinct(toks)) * 1.0 / len(toks)
                   END, 6) AS dup_word_frac
      FROM t),
    bi AS (
      SELECT doc_id,
             unnest([array_to_string(toks[i:i+1], ' ')
                     for i in generate_series(1, len(toks)-1)]) AS g
      FROM t WHERE len(toks) >= 2),
    top AS (
      SELECT doc_id, max(c) AS top_bigram_count
      FROM (SELECT doc_id, g, CAST(count(*) AS BIGINT) AS c
            FROM bi GROUP BY doc_id, g)
      GROUP BY doc_id)
    SELECT s.doc_id, s.n_words, s.dup_word_frac,
           coalesce(top.top_bigram_count, 0) AS top_bigram_count
    FROM s LEFT JOIN top USING (doc_id)
    """,
)
def q_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals per document:
    duplicate-word fraction (pure Catalyst expression) and the count
    of the most frequent word bigram (explode + two-level agg —
    shuffles on (doc_id, gram) then doc_id, no UDF, no driver
    state)."""
    docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    base = docs.select(
        "doc_id",
        F.when(F.trim(F.col("text")) == "", F.array().cast("array<string>"))
        .otherwise(toks)
        .alias("_t"),
    )
    scalars = base.select(
        "doc_id",
        F.size("_t").cast("long").alias("n_words"),
        F.round(
            F.when(F.size("_t") <= 0, F.lit(0.0)).otherwise(
                F.lit(1.0)
                - F.size(F.array_distinct("_t")).cast("double")
                / F.size("_t").cast("double")
            ),
            6,
        ).alias("dup_word_frac"),
    )
    grams = F.transform(
        F.sequence(F.lit(0), F.size("_t") - 2),
        lambda i: F.concat_ws(" ", F.slice("_t", i + 1, 2)),
    )
    top = (
        base.filter(F.size("_t") >= 2)
        .select("doc_id", F.explode(grams).alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_bigram_count"))
    )
    return scalars.join(top, "doc_id", "left").select(
        "doc_id",
        "n_words",
        "dup_word_frac",
        F.coalesce("top_bigram_count", F.lit(0)).cast("long").alias(
            "top_bigram_count"
        ),
    )


@query(
    "unigram_surprisal",
    f"""
    WITH toks AS (
      SELECT doc_id,
             unnest({_SQL_WS_TOKS}) AS token
      FROM documents WHERE text IS NOT NULL),
    freq AS (SELECT token, count(*) AS cnt FROM toks GROUP BY token),
    tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM freq)
    SELECT t.doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           round(avg(-log2(f.cnt / tot.total)), 6) AS avg_surprisal
    FROM toks t JOIN freq f USING (token) CROSS JOIN tot
    GROUP BY t.doc_id
    """,
)
def q_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-relative quality: mean token surprisal (bits) under the
    corpus's own unigram distribution — the zero-dependency stand-in
    for a KenLM perplexity filter. Pure Catalyst (explode + two aggs +
    one token-key join); the corpus total rides in as a broadcast
    1-row cross join, and the vocabulary join deliberately shuffles on
    token (web-scale vocab is not broadcastable)."""
    from polars_text_spark.operators.quality import unigram_surprisal

    docs = _docs(spark, sf_dir)
    out = unigram_surprisal(docs, "text", "doc_id")
    return out.select(
        "doc_id",
        "n_tokens",
        F.round("avg_surprisal", 6).alias("avg_surprisal"),
    )


@query(
    "surprisal_buckets",
    f"""
    WITH toks AS (
      SELECT doc_id,
             unnest({_SQL_WS_TOKS}) AS token
      FROM documents WHERE text IS NOT NULL),
    freq AS (SELECT token, count(*) AS cnt FROM toks GROUP BY token),
    tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM freq),
    scored AS (
      SELECT t.doc_id, round(avg(-log2(f.cnt / tot.total)), 6) AS s
      FROM toks t JOIN freq f USING (token) CROSS JOIN tot
      GROUP BY t.doc_id),
    docs AS (
      SELECT d.doc_id, coalesce(d.lang, '') AS lang, sc.s
      FROM documents d JOIN scored sc USING (doc_id)),
    hist AS (SELECT lang, s, count(*) AS n FROM docs GROUP BY lang, s),
    cum AS (
      SELECT lang, s, sum(n) OVER (PARTITION BY lang ORDER BY s) AS c
      FROM hist),
    totals AS (SELECT lang, count(*) AS t FROM docs GROUP BY lang),
    th AS (
      SELECT c.lang,
             min(CASE WHEN c.c * 3 >= 1 * tt.t THEN c.s END) AS t1,
             min(CASE WHEN c.c * 3 >= 2 * tt.t THEN c.s END) AS t2
      FROM cum c JOIN totals tt USING (lang) GROUP BY c.lang)
    SELECT d.doc_id, d.lang, d.s AS avg_surprisal,
           CAST(CASE WHEN d.s <= th.t1 THEN 0
                     WHEN d.s <= th.t2 THEN 1
                     ELSE 2 END AS INT) AS bucket
    FROM docs d JOIN th USING (lang)
    """,
)
def q_surprisal_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CCNet head/middle/tail split: per-language terciles of
    mean unigram surprisal, with thresholds picked by INTEGER
    cumulative-count arithmetic over the 6-decimal-rounded score
    histogram — actual data values, no quantile interpolation, so the
    oracle reproduces every label exactly. Surprisal is pre-rounded
    so both engines bucket an identical multiset."""
    from polars_text_spark.operators.quality import (
        quantile_buckets,
        unigram_surprisal,
    )

    docs = _docs(spark, sf_dir)
    scored = unigram_surprisal(docs, "text", "doc_id").select(
        "doc_id", F.round("avg_surprisal", 6).alias("avg_surprisal")
    )
    labeled = scored.join(
        docs.select("doc_id", F.coalesce("lang", F.lit("")).alias("lang")),
        "doc_id",
    )
    return quantile_buckets(
        labeled, "avg_surprisal", "lang", n_buckets=3
    ).select("doc_id", "lang", "avg_surprisal", "bucket")


@query(
    "bigram_surprisal",
    f"""
    WITH t AS (
      SELECT doc_id, {_SQL_WS_TOKS} AS tk
      FROM documents WHERE text IS NOT NULL),
    bg AS (
      SELECT doc_id, tk[i] AS w1, tk[i+1] AS w2
      FROM (SELECT doc_id, unnest(generate_series(1, len(tk) - 1)) AS i,
                   tk
            FROM t WHERE len(tk) >= 2)),
    cnt AS (SELECT w1, w2, count(*) AS c FROM bg GROUP BY 1, 2),
    lc AS (SELECT w1, sum(c) AS lcnt FROM cnt GROUP BY 1),
    v AS (SELECT CAST(count(DISTINCT tok) AS DOUBLE) AS vv
          FROM (SELECT unnest(tk) AS tok FROM t))
    SELECT b.doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           round(avg(-log2((c + 1.0) / (lcnt + vv))), 6) AS avg_surprisal
    FROM bg b JOIN cnt USING (w1, w2) JOIN lc USING (w1) CROSS JOIN v
    GROUP BY b.doc_id
    """,
)
def q_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM quality scoring (one Markov order above
    unigram_surprisal — the KenLM-perplexity-filter stand-in): mean
    conditional surprisal under the corpus's own add-1-smoothed bigram
    model. The LM is two aggregates over the pair stream; left-context
    totals derive from the bigram-TYPE frame, never a second corpus
    pass; V rides in as a broadcast 1-row cross join."""
    from polars_text_spark.operators.quality import bigram_surprisal

    docs = _docs(spark, sf_dir)
    out = bigram_surprisal(docs, "text", "doc_id", alpha=1.0)
    return out.select(
        "doc_id",
        "n_bigrams",
        F.round("avg_surprisal", 6).alias("avg_surprisal"),
    )


@query(
    "decontaminate_ngrams",
    f"""
    WITH toks AS (
      SELECT doc_id, {_SQL_WS_TOKS} AS t
      FROM documents WHERE text IS NOT NULL),
    sh AS (
      SELECT doc_id,
             unnest(CASE WHEN len(t) < 4 THEN [array_to_string(t, ' ')]
                    ELSE list_distinct([array_to_string(t[i:i+3], ' ')
                         for i in generate_series(1, len(t)-3)])
                    END) AS s
      FROM toks WHERE len(t) > 0),
    bench AS (SELECT DISTINCT s, doc_id AS bench_id FROM sh WHERE doc_id % 10 = 0)
    SELECT a.doc_id,
           CAST(count(DISTINCT a.s) AS BIGINT) AS n_shared_shingles,
           CAST(count(DISTINCT b.bench_id) AS BIGINT) AS n_bench_docs
    FROM sh a JOIN bench b ON a.s = b.s
    WHERE a.doc_id % 10 <> 0
    GROUP BY a.doc_id
    """,
)
def q_decontaminate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: training docs sharing any 4-word
    shingle with the held-out split (doc_id % 10 == 0 stands in for a
    benchmark set). The bench shingles are broadcast, so the training
    side never shuffles for the join — the 100 TB shape."""
    from polars_text_spark.operators.decontam import ngram_contamination

    docs = _docs(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") % 10 == 0)
    cand = docs.filter(F.col("doc_id") % 10 != 0)
    return ngram_contamination(cand, bench, "text", "doc_id", n=4)


@query(
    "bloom_decontam",
    f"""
    WITH toks AS (
      SELECT doc_id, {_SQL_WS_TOKS} AS t
      FROM documents WHERE text IS NOT NULL),
    sh AS (
      SELECT doc_id,
             unnest(CASE WHEN len(t) < 4 THEN [array_to_string(t, ' ')]
                    ELSE list_distinct([array_to_string(t[i:i+3], ' ')
                         for i in generate_series(1, len(t)-3)])
                    END) AS s
      FROM toks WHERE len(t) > 0),
    bench AS (SELECT DISTINCT s, doc_id AS bench_id FROM sh WHERE doc_id % 23 = 0)
    SELECT a.doc_id,
           CAST(count(DISTINCT a.s) AS BIGINT) AS n_shared_shingles,
           CAST(count(DISTINCT b.bench_id) AS BIGINT) AS n_bench_docs
    FROM sh a JOIN bench b ON a.s = b.s
    WHERE a.doc_id % 23 <> 0
    GROUP BY a.doc_id
    """,
)
def q_bloom_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered decontamination: same exact result as the
    row-broadcast path (`decontaminate_ngrams`, here with a %23 bench
    split), but candidate shingles are pruned MAP-SIDE against a
    broadcast Bloom bitset before the confirm join — the plan for
    when the benchmark shingle set outgrows a row broadcast
    (operators/bloom.py). The oracle replays only the exact join: a
    Bloom false NEGATIVE (the one failure a Bloom cannot have, pinned
    by construction via the shared fit/probe bit-index expression)
    would surface here as a missing row."""
    from polars_text_spark.operators.decontam import bloom_ngram_contamination

    docs = _docs(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") % 23 == 0)
    cand = docs.filter(F.col("doc_id") % 23 != 0)
    return bloom_ngram_contamination(cand, bench, "text", "doc_id", n=4)


@query(
    "decontaminate_semantic",
    """
    WITH ev AS (
      SELECT embedding::DOUBLE[] AS v FROM embeddings
      WHERE vec_id % 25 = 0 AND embedding IS NOT NULL),
    train AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
      WHERE vec_id % 25 <> 0 AND embedding IS NOT NULL),
    scored AS (
      SELECT t.vec_id,
             max(list_cosine_similarity(t.v, ev.v)) AS mc
      FROM train t CROSS JOIN ev
      GROUP BY t.vec_id)
    SELECT t.vec_id,
           round(s.mc, 6) AS max_eval_cosine,
           coalesce(round(s.mc, 6) >= 0.3, false) AS contaminated
    FROM train t LEFT JOIN scored s USING (vec_id)
    """,
)
def q_decontaminate_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic decontamination (the paraphrase blind spot of n-gram
    collision checks): training vectors whose max cosine against the
    held-out slice crosses the threshold. Eval side broadcast, one
    scan of the training side, per-row max via map-side partial
    aggregation. Both engines compare the ROUNDED cosine to the
    threshold so a last-ulp engine difference can never flip the
    verdict."""
    from polars_text_spark.operators.decontam import embedding_contamination

    vecs = _tbl(spark, sf_dir, "embeddings")
    ev = vecs.filter(F.col("vec_id") % 25 == 0)
    tr = vecs.filter(F.col("vec_id") % 25 != 0)
    out = embedding_contamination(tr, ev, threshold=0.3)
    return out.select(
        "vec_id",
        F.round("max_eval_cosine", 6).alias("max_eval_cosine"),
        F.coalesce(
            F.round("max_eval_cosine", 6) >= 0.3, F.lit(False)
        ).alias("contaminated"),
    )


@query(
    "pack_sequences",
    f"""
    WITH toks AS (
      SELECT doc_id, lang,
             len({_SQL_WS_TOKS}) AS n_tokens
      FROM documents WHERE text IS NOT NULL),
    w AS (
      SELECT doc_id, lang, n_tokens,
             coalesce(sum(n_tokens) OVER (
               PARTITION BY lang ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS s
      FROM toks)
    SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(s AS BIGINT)        AS stream_start,
           CAST(s // 512 AS BIGINT) AS first_seq,
           CAST(CASE WHEN n_tokens <= 0 THEN s // 512
                ELSE (s + n_tokens - 1) // 512 END AS BIGINT) AS last_seq,
           CAST(CASE WHEN n_tokens <= 0 THEN 0
                ELSE (s + n_tokens - 1) // 512 - s // 512 + 1
                END AS BIGINT)      AS n_seqs,
           CAST(s % 512 AS BIGINT)  AS seq_offset
    FROM w
    """,
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-sequence packing (concat-and-chop over a 512-token
    budget), sharded by lang so each stream's ordered window runs
    independently after one shuffle — the packing layout a training
    job needs to chop the corpus into fixed-length sequences without
    ever materializing the token stream."""
    from polars_text_spark.operators.packing import pack_sequences

    docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    toks = F.filter(
        F.split(F.trim(F.lower(F.col("text"))), r"\s+"), lambda t: t != ""
    )
    counted = docs.select(
        "doc_id", "lang", F.size(toks).cast("long").alias("n_tokens")
    )
    return pack_sequences(
        counted, "n_tokens", 512, order_col="doc_id", shard_col="lang"
    )


@query(
    "sequence_manifest",
    f"""
    WITH toks AS (
      SELECT doc_id, lang,
             len({_SQL_WS_TOKS}) AS tok
      FROM documents WHERE text IS NOT NULL),
    w AS (
      SELECT doc_id, lang, tok,
             coalesce(sum(tok) OVER (
               PARTITION BY lang ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS s
      FROM toks WHERE tok > 0),
    exploded AS (
      SELECT doc_id, lang, tok, s, unnest(generate_series(
               CAST(s // 512 AS BIGINT),
               CAST((s + tok - 1) // 512 AS BIGINT))) AS seq_id
      FROM w)
    SELECT doc_id, lang, CAST(seq_id AS BIGINT) AS seq_id,
           CAST(greatest(s, seq_id * 512) - seq_id * 512 AS BIGINT)
             AS seq_pos,
           CAST(greatest(s, seq_id * 512) - s AS BIGINT) AS doc_tok_start,
           CAST(least(s + tok, seq_id * 512 + 512)
                - greatest(s, seq_id * 512) AS BIGINT) AS slice_len
    FROM exploded
    """,
)
def q_sequence_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The packed-corpus manifest a training job consumes: one row per
    (sequence, doc slice) with in-sequence and in-doc offsets —
    groupBy(lang, seq_id) recovers exactly the slices to concatenate
    for each 512-token training sequence. Integer-only math, so the
    SQL window+generate_series oracle hash-matches exactly."""
    from polars_text_spark.operators.packing import (
        pack_sequences,
        sequence_manifest,
    )

    docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    toks = F.filter(
        F.split(F.trim(F.lower(F.col("text"))), r"\s+"), lambda t: t != ""
    )
    counted = docs.select(
        "doc_id", "lang", F.size(toks).cast("long").alias("tok")
    )
    packed = pack_sequences(
        counted, "tok", 512, order_col="doc_id", shard_col="lang"
    )
    return sequence_manifest(
        packed, "tok", 512, id_cols=("doc_id",), shard_col="lang"
    )


_SAMPLE_RATES = {"en": 0.5, "de": 0.3, "zh": 1.0}
_SAMPLE_DEFAULT = 0.2


def _sample_oracle_sql() -> str:
    from polars_text_spark.operators.sampling import rate_threshold_hex

    clauses = []
    for lang, rate in _SAMPLE_RATES.items():
        if rate >= 1.0:
            clauses.append(f"(lang = '{lang}')")
        else:
            clauses.append(
                f"(lang = '{lang}' AND substr(sha256(CAST(doc_id AS VARCHAR)), 1, 8)"
                f" < '{rate_threshold_hex(rate)}')"
            )
    listed = ", ".join(f"'{lang}'" for lang in _SAMPLE_RATES)
    clauses.append(
        f"(lang NOT IN ({listed}) AND substr(sha256(CAST(doc_id AS VARCHAR)), 1, 8)"
        f" < '{rate_threshold_hex(_SAMPLE_DEFAULT)}')"
    )
    return (
        "SELECT doc_id, lang FROM documents WHERE "
        + " OR ".join(clauses)
    )


@query("stratified_sample", _sample_oracle_sql())
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language sampling (corpus rebalancing):
    keep-decision = sha256(doc_id) hex-prefix threshold, so the
    sample is content-keyed — reproducible across reruns, engines
    and partitionings, unlike df.sample(). Pure filter fused into
    the scan; zero shuffle."""
    from polars_text_spark.operators.sampling import stratified_sample

    docs = _docs(spark, sf_dir)
    out = stratified_sample(
        docs, _SAMPLE_RATES, "lang", "doc_id", default_rate=_SAMPLE_DEFAULT
    )
    return out.select("doc_id", "lang")


_BM25_TERMS = ("hash", "join", "vector", "window")


@query(
    "bm25_search",
    f"""
    WITH base AS (
      SELECT doc_id,
             CASE WHEN trim(text) = '' THEN []
                  ELSE regexp_split_to_array(trim(lower(text)), '\\s+')
             END AS toks
      FROM documents WHERE text IS NOT NULL),
    b2 AS (SELECT doc_id, toks, len(toks) * 1.0 AS dl FROM base),
    stats AS (SELECT count(*) * 1.0 AS n, avg(dl) AS avgdl FROM b2),
    tf AS (
      SELECT doc_id, dl, term, count(*) * 1.0 AS tf
      FROM (SELECT doc_id, dl,
                   unnest(list_filter(toks, x -> x IN
                     ({", ".join(repr(t) for t in _BM25_TERMS)}))) AS term
            FROM b2)
      GROUP BY doc_id, dl, term),
    dft AS (SELECT term, count(DISTINCT doc_id) * 1.0 AS df FROM tf GROUP BY term)
    SELECT doc_id,
           round(sum(ln(1 + (n - df + 0.5) / (df + 0.5))
                     * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))), 6)
             AS score
    FROM tf JOIN dft USING (term) CROSS JOIN stats
    GROUP BY doc_id
    """,
)
def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 ranked retrieval for a fixed keyword query — all
    scored docs (the top-k cut is pytest-covered; an unbounded result
    set keeps the oracle free of rank-boundary float ties). Explode
    is restricted to query terms before it materializes; corpus
    stats and per-term df are broadcast."""
    from polars_text_spark.operators.search import bm25_scores

    docs = _docs(spark, sf_dir)
    scores = bm25_scores(docs, _BM25_TERMS, "text", "doc_id", k1=1.2, b=0.75)
    return scores.select("doc_id", F.round("score", 6).alias("score"))


@query(
    "length_quantiles",
    """
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(quantile_cont(n_chars, 0.5), 6) AS p50,
           round(quantile_cont(n_chars, 0.9), 6) AS p90,
           round(quantile_cont(n_chars, 0.99), 6) AS p99
    FROM documents
    GROUP BY lang
    """,
)
def q_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language document-length distribution: exact interpolated
    percentiles (Spark ``percentile`` == DuckDB ``quantile_cont``,
    both the (n-1)*p linear-interpolation convention). At 100 TB the
    same query swaps in ``percentile_approx`` (t-digest sketch, one
    pass, mergeable across partitions) — the exact form here is the
    calibration oracle for that swap."""
    docs = _docs(spark, sf_dir)
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.percentile("n_chars", F.lit(0.5)), 6).alias("p50"),
        F.round(F.percentile("n_chars", F.lit(0.9)), 6).alias("p90"),
        F.round(F.percentile("n_chars", F.lit(0.99)), 6).alias("p99"),
    )


# ---------------------------------------------------------------------------
# Corpus-mixture curation: vocabulary coverage, distribution drift,
# Zipf health, target-mixture rebalancing.
# ---------------------------------------------------------------------------


@query(
    "vocab_oov",
    f"""
    WITH toks AS (
      SELECT doc_id,
             unnest({_SQL_WS_TOKS}) AS token
      FROM documents WHERE text IS NOT NULL),
    freq AS (SELECT token, count(*) AS cnt FROM toks GROUP BY token),
    vocab AS (SELECT token FROM freq ORDER BY cnt DESC, token ASC LIMIT 10)
    SELECT t.doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_oov,
           round(avg(CASE WHEN v.token IS NULL THEN 1.0 ELSE 0.0 END), 6)
             AS oov_rate
    FROM toks t LEFT JOIN vocab v USING (token)
    GROUP BY t.doc_id
    """,
)
def q_vocab_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document OOV rate against the corpus's own top-10 token
    vocabulary (k=10 of a 31-token synthetic vocab keeps the rates
    value-bearing). The vocab build ranks the |vocab|-row frequency
    frame, never the corpus; the membership join broadcasts the k-row
    vocab — at 100 TB this is one explode-shuffle plus a map-side
    join."""
    from polars_text_spark.operators.quality import oov_rate

    docs = _docs(spark, sf_dir)
    out = oov_rate(docs, "text", "doc_id", k=10)
    return out.select(
        "doc_id",
        "n_tokens",
        "n_oov",
        F.round("oov_rate", 6).alias("oov_rate"),
    )


@query(
    "source_divergence",
    f"""
    WITH toks AS (
      SELECT source,
             unnest({_SQL_WS_TOKS}) AS token
      FROM documents WHERE text IS NOT NULL),
    gt AS (SELECT source, token, count(*) AS cnt_gt
           FROM toks GROUP BY source, token),
    x AS (SELECT source, cnt_gt,
                 sum(cnt_gt) OVER (PARTITION BY source) AS total_g,
                 sum(cnt_gt) OVER (PARTITION BY token) AS cnt_t,
                 sum(cnt_gt) OVER () AS total
          FROM gt)
    SELECT source,
           CAST(sum(cnt_gt) AS BIGINT) AS n_tokens,
           round(sum((cnt_gt / CAST(total_g AS DOUBLE))
                     * log2((cnt_gt / CAST(total_g AS DOUBLE))
                            / (cnt_t / CAST(total AS DOUBLE)))), 6) AS kl_bits
    FROM x GROUP BY source
    """,
)
def q_source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixture drift diagnostic: KL(source unigram distribution
    || corpus distribution) per source — flags a source whose token
    mix has drifted (spam flood, wrong language). One corpus
    explode+groupBy; the three normalizing totals are window sums over
    the |sources|x|vocab| aggregate, so the corpus is scanned once."""
    from polars_text_spark.operators.quality import source_kl_divergence

    docs = _docs(spark, sf_dir)
    out = source_kl_divergence(docs, "text", "source")
    return out.select(
        "source", "n_tokens", F.round("kl_bits", 6).alias("kl_bits")
    )


@query(
    "zipf_by_lang",
    f"""
    WITH toks AS (
      SELECT lang,
             unnest({_SQL_WS_TOKS}) AS token
      FROM documents WHERE text IS NOT NULL),
    freq AS (SELECT lang, token, count(*) AS cnt
             FROM toks GROUP BY lang, token),
    ranked AS (SELECT lang, cnt,
                      row_number() OVER (PARTITION BY lang
                                         ORDER BY cnt DESC, token ASC) AS r
               FROM freq)
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_types,
           round(regr_slope(log2(CAST(cnt AS DOUBLE)),
                            log2(CAST(r AS DOUBLE))), 6) AS zipf_slope,
           round(regr_intercept(log2(CAST(cnt AS DOUBLE)),
                                log2(CAST(r AS DOUBLE))), 6) AS zipf_intercept
    FROM ranked GROUP BY lang
    """,
)
def q_zipf_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-health scalar per language: OLS slope of log2(count) on
    log2(rank) over the language's token-frequency curve (natural text
    ~ -1). Built-in regr_slope/regr_intercept aggregates — the window
    ranks the frequency frame, not the corpus."""
    from polars_text_spark.operators.quality import zipf_slope_by

    out = zipf_slope_by(_docs(spark, sf_dir), "text", "lang")
    return out.select(
        "lang",
        "n_types",
        F.round("zipf_slope", 6).alias("zipf_slope"),
        F.round("zipf_intercept", 6).alias("zipf_intercept"),
    )


_MIX_WEIGHTS = {"en": 0.4, "de": 0.2, "fr": 0.2, "es": 0.1, "zh": 0.1}


def _mixture_oracle_sql() -> str:
    values = ", ".join(f"('{s}', {w})" for s, w in _MIX_WEIGHTS.items())
    return f"""
    WITH w(lang, wt) AS (VALUES {values}),
    cnts AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
    sc AS (SELECT min(CAST(n AS DOUBLE) / CAST(wt AS DOUBLE)) AS scale
           FROM cnts JOIN w USING (lang)),
    rates AS (SELECT lang,
                     least(1.0, sc.scale * CAST(wt AS DOUBLE)
                                / CAST(n AS DOUBLE)) AS rate
              FROM cnts JOIN w USING (lang) CROSS JOIN sc)
    SELECT d.doc_id, d.lang
    FROM documents d JOIN rates r USING (lang)
    WHERE r.rate >= 1.0
       OR substr(sha256(CAST(d.doc_id AS VARCHAR)), 1, 8)
          < printf('%08x',
                   least(CAST(floor(r.rate * 4294967296.0) AS BIGINT),
                         4294967295))
    """


@query("mixture_rebalance", _mixture_oracle_sql())
def q_mixture_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rebalance the corpus to a target language mixture
    (en/de/fr/es/zh = 40/20/20/10/10): keep-rates derived from the
    per-language counts so the binding language is kept whole and the
    rest are hash-downsampled to proportion. The rate computation is
    one tiny groupBy-count; the rebalance itself is a content-keyed
    filter fused into the scan — deterministic across engines, so the
    oracle recomputes the same rates in SQL and must select the exact
    same rows."""
    from polars_text_spark.operators.sampling import mixture_rebalance

    docs = _docs(spark, sf_dir)
    out = mixture_rebalance(docs, _MIX_WEIGHTS, "lang", "doc_id")
    return out.select("doc_id", "lang")


# ---------------------------------------------------------------------------
# Round 5 additions: PII redaction, line-level Gopher heuristics,
# interval (range) join. The synthetic docs carry no PII or newlines,
# so the first two queries SYNTHESIZE the structure deterministically
# from doc fields — with the identical expression in the oracle — so
# the regex/line machinery is genuinely exercised, not vacuously zero.
# ---------------------------------------------------------------------------


def _pii_oracle_sql() -> str:
    from polars_text_spark.operators.pii import (
        EMAIL_PATTERN,
        IPV4_PATTERN,
        PHONE_PATTERN,
    )

    enrich = (
        "text || ' contact user' || CAST(doc_id AS VARCHAR)"
        " || '@example.com via +1 (415) 555-'"
        " || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
        " || ' from 10.2.' || CAST(doc_id % 256 AS VARCHAR) || '.77'"
    )
    red = "t"
    for pat, tok in (
        (EMAIL_PATTERN, "[EMAIL]"),
        (IPV4_PATTERN, "[IP]"),
        (PHONE_PATTERN, "[PHONE]"),
    ):
        red = f"regexp_replace({red}, '{pat}', '{tok}', 'g')"
    return (
        "WITH enriched AS (SELECT doc_id, " + enrich + " AS t"
        " FROM documents WHERE text IS NOT NULL)"
        " SELECT doc_id,"
        f" CAST(len(regexp_extract_all(t, '{EMAIL_PATTERN}')) AS BIGINT) AS n_emails,"
        f" CAST(len(regexp_extract_all(t, '{IPV4_PATTERN}')) AS BIGINT) AS n_ipv4,"
        f" CAST(len(regexp_extract_all(t, '{PHONE_PATTERN}')) AS BIGINT) AS n_phones,"
        f" CAST(length({red}) AS BIGINT) AS redacted_len"
        " FROM enriched"
    )


@query("pii_scan", _pii_oracle_sql())
def q_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub pass: per-doc email/IPv4/phone match counts plus the
    redacted length. Pure regexp built-ins fused into the scan — the
    100 TB shape is a map-only projection, no shuffle. The identical
    pattern strings run in the DuckDB oracle (common Java-regex/RE2
    subset, exported from operators/pii.py)."""
    from polars_text_spark.operators.pii import pii_counts, redact_pii

    docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    enriched = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com via +1 (415) 555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit(" from 10.2."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".77"),
        ).alias("t"),
    )
    return enriched.select(
        "doc_id",
        pii_counts("t").alias("p"),
        F.length(redact_pii("t")).cast("long").alias("redacted_len"),
    ).select(
        "doc_id",
        F.col("p.n_emails").alias("n_emails"),
        F.col("p.n_ipv4").alias("n_ipv4"),
        F.col("p.n_phones").alias("n_phones"),
        "redacted_len",
    )


def _pii_redact_oracle_sql() -> str:
    from polars_text_spark.operators.pii import (
        EMAIL_PATTERN,
        IPV4_PATTERN,
        PHONE_PATTERN,
    )

    enrich = (
        "text || ' contact user' || CAST(doc_id AS VARCHAR)"
        " || '@example.com via +1 (415) 555-'"
        " || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
        " || ' from 10.2.' || CAST(doc_id % 256 AS VARCHAR) || '.77'"
    )
    red = "t"
    for pat, tok in (
        (EMAIL_PATTERN, "[EMAIL]"),
        (IPV4_PATTERN, "[IP]"),
        (PHONE_PATTERN, "[PHONE]"),
    ):
        red = f"regexp_replace({red}, '{pat}', '{tok}', 'g')"
    return (
        "WITH enriched AS (SELECT doc_id, " + enrich + " AS t"
        " FROM documents WHERE text IS NOT NULL)"
        f" SELECT doc_id, {red} AS redacted FROM enriched"
    )


@query("pii_redact", _pii_redact_oracle_sql())
def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The redactor's FULL output under the driver hash: every
    character of every redacted document must match the oracle's
    replay (pii_scan checks only lengths — a redactor that mangled
    surrounding text while preserving length would slip it). Same
    deterministic PII enrichment, same pattern strings both engines,
    still a map-only projection fused into the scan."""
    from polars_text_spark.operators.pii import redact_pii

    docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    enriched = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com via +1 (415) 555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit(" from 10.2."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".77"),
        ).alias("t"),
    )
    return enriched.select(
        "doc_id", redact_pii("t").alias("redacted")
    )


def _web_enrich_sql() -> str:
    """Deterministic URL enrichment shared by the two web queries —
    same recipe both engines (the pii_redact trick): two URLs per doc
    with a doc_id-derived host (one mixed-case to exercise the
    lower-fold), one fragment, trailing plain text."""
    return (
        "text || ' see https://ex' || CAST(doc_id % 7 AS VARCHAR)"
        " || '.example.com/p/' || CAST(doc_id AS VARCHAR)"
        " || '?ref=1 and http://Mirror' || CAST(doc_id % 3 AS VARCHAR)"
        " || '.example.NET/x#frag plus text'"
    )


def _web_enrich_spark(docs: DataFrame) -> DataFrame:
    return docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" see https://ex"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(".example.com/p/"),
            F.col("doc_id").cast("string"),
            F.lit("?ref=1 and http://Mirror"),
            (F.col("doc_id") % 3).cast("string"),
            F.lit(".example.NET/x#frag plus text"),
        ).alias("t"),
    )


def _link_stats_oracle_sql() -> str:
    from polars_text_spark.operators.web import URL_PATTERN

    pat = URL_PATTERN.replace("'", "''")
    return (
        "WITH enriched AS (SELECT doc_id, " + _web_enrich_sql() + " AS t"
        " FROM documents WHERE text IS NOT NULL),"
        " x AS (SELECT doc_id, t,"
        f" regexp_extract_all(t, '{pat}') AS us"
        " FROM enriched)"
        " SELECT doc_id,"
        " CAST(length(t) AS BIGINT) AS n_chars,"
        " CAST(len(us) AS BIGINT) AS n_urls,"
        " CAST(COALESCE(list_sum(list_transform(us, u -> length(u))), 0)"
        "   AS BIGINT) AS url_chars,"
        " round(CASE WHEN length(t) > 0 THEN"
        "   COALESCE(list_sum(list_transform(us, u -> length(u))), 0)"
        "   * 1.0 / length(t) ELSE 0 END, 6) AS link_density"
        " FROM x"
    )


@query("link_stats", _link_stats_oracle_sql())
def q_link_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document link signals (URL count, URL character mass, link
    density — the C4/Gopher-style link-farm gate) under the driver
    hash: deterministic URL enrichment, the same regex constant in
    both engines (operators/web.py builds the oracle pattern from the
    Spark one, so they cannot drift), map-only projection fused into
    the scan."""
    from polars_text_spark.operators.web import link_stats

    docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    enriched = _web_enrich_spark(docs)
    return enriched.select("doc_id", link_stats("t").alias("s")).select(
        "doc_id",
        F.col("s.n_chars").alias("n_chars"),
        F.col("s.n_urls").alias("n_urls"),
        F.col("s.url_chars").alias("url_chars"),
        F.round(F.col("s.link_density"), 6).alias("link_density"),
    )


def _lang_consistency_oracle_sql() -> str:
    # per-SEGMENT detector: the doc-level replay with its text refs
    # rebound to the exploded segment column
    seg_detect = _SQL_DETECT_LANG.replace("text", "seg")
    return (
        "WITH enriched AS (SELECT doc_id,"
        " CASE WHEN doc_id % 3 = 0 THEN"
        "   text || chr(10) || 'le la les et est une pour dans'"
        " ELSE text END AS t"
        " FROM documents WHERE text IS NOT NULL),"
        " segs AS (SELECT doc_id, unnest(string_split(t, chr(10))) AS seg"
        " FROM enriched),"
        " labeled AS (SELECT doc_id, " + seg_detect + " AS lang"
        " FROM segs WHERE trim(seg) <> ''),"
        " counts AS (SELECT doc_id, lang, count(*) AS n"
        " FROM labeled GROUP BY doc_id, lang),"
        " ranked AS (SELECT doc_id, lang, n,"
        " row_number() OVER (PARTITION BY doc_id"
        "   ORDER BY n DESC, lang ASC) AS r,"
        " sum(n) OVER (PARTITION BY doc_id) AS n_segments,"
        " count(*) OVER (PARTITION BY doc_id) AS n_langs"
        " FROM counts)"
        " SELECT doc_id, CAST(n_segments AS BIGINT) AS n_segments,"
        " CAST(n_langs AS INT) AS n_langs, lang AS dominant_lang,"
        " round(n * 1.0 / n_segments, 6) AS consistency"
        " FROM ranked WHERE r = 1"
    )


@query("lang_consistency", _lang_consistency_oracle_sql())
def q_lang_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixed-language detection under the driver hash: every third doc
    gets a French stopword segment appended (deterministic enrichment,
    both engines), segments split on newline, each language-ID'd with
    the shared heuristic detector, dominant + consistency per doc. The
    oracle replays the detector per segment (the language_id CASE with
    its text refs rebound), both window totals, and the
    count-desc/lang-asc dominant tie-break."""
    from polars_text_spark.operators.quality import language_consistency

    docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    enriched = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.col("text"),
                F.lit("\nle la les et est une pour dans"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("t"),
    )
    out = language_consistency(enriched, "t", "doc_id")
    return out.select(
        "doc_id",
        "n_segments",
        "n_langs",
        "dominant_lang",
        F.round("consistency", 6).alias("consistency"),
    )


def _domain_freq_oracle_sql() -> str:
    from polars_text_spark.operators.web import DOMAIN_PATTERN, URL_PATTERN

    upat = URL_PATTERN.replace("'", "''")
    dpat = DOMAIN_PATTERN.replace("'", "''")
    return (
        "WITH enriched AS (SELECT doc_id, " + _web_enrich_sql() + " AS t"
        " FROM documents WHERE text IS NOT NULL),"
        " urls AS (SELECT doc_id,"
        f" unnest(regexp_extract_all(t, '{upat}')) AS u FROM enriched),"
        " doms AS (SELECT doc_id,"
        f" lower(regexp_extract(u, '{dpat}', 1)) AS domain FROM urls),"
        " perdoc AS (SELECT domain, doc_id, count(*) AS c FROM doms"
        " WHERE domain <> '' GROUP BY domain, doc_id)"
        " SELECT domain, CAST(sum(c) AS BIGINT) AS n_urls,"
        " CAST(count(*) AS BIGINT) AS n_docs"
        " FROM perdoc GROUP BY domain"
    )


@query("domain_frequencies", _domain_freq_oracle_sql())
def q_domain_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus domain table (mention count + distinct-doc count per
    linked host — the input a recrawl queue or domain_cap consumes)
    under the driver hash: the oracle replays URL extraction, the
    host capture, the lower-fold, and both aggregation levels from
    the shared pattern constants."""
    from polars_text_spark.operators.web import domain_frequencies

    docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    enriched = _web_enrich_spark(docs)
    return domain_frequencies(enriched, "t", "doc_id")


def _url_canon_enrich_spark(docs: DataFrame) -> DataFrame:
    # URLs that exercise EVERY canonicalization rule: mixed-case
    # scheme+host, default ports (:443 / :80), tracking params mixed
    # with real ones, fragments — identical construction in
    # _url_canon_oracle_sql
    return docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" https://EX"),
            (F.col("doc_id") % 5).cast("string"),
            F.lit(".Example.com:443/a/"),
            (F.col("doc_id") % 11).cast("string"),
            F.lit("?utm_source=x&id="),
            (F.col("doc_id") % 4).cast("string"),
            F.lit("&utm_campaign=y#sec plus HTTP://site"),
            (F.col("doc_id") % 3).cast("string"),
            F.lit(".example.org:80/p?gclid=abc end"),
        ).alias("t"),
    )


def _url_canon_oracle_sql() -> str:
    from polars_text_spark.operators.web import (
        TRACKING_PARAM_PATTERN,
        URL_PATTERN,
    )

    upat = URL_PATTERN.replace("'", "''")
    tpat = TRACKING_PARAM_PATTERN.replace("'", "''")
    enrich = (
        "text || ' https://EX' || CAST(doc_id % 5 AS VARCHAR)"
        " || '.Example.com:443/a/' || CAST(doc_id % 11 AS VARCHAR)"
        " || '?utm_source=x&id=' || CAST(doc_id % 4 AS VARCHAR)"
        " || '&utm_campaign=y#sec plus HTTP://site'"
        " || CAST(doc_id % 3 AS VARCHAR)"
        " || '.example.org:80/p?gclid=abc end'"
    )
    return (
        "WITH enriched AS (SELECT doc_id, " + enrich + " AS t"
        " FROM documents WHERE text IS NOT NULL),"
        " urls AS (SELECT doc_id,"
        f" unnest(regexp_extract_all(t, '{upat}')) AS u FROM enriched),"
        " parts AS (SELECT doc_id,"
        " lower(regexp_extract(u, '^(https?)://', 1)) AS scheme,"
        " lower(regexp_extract(u, '^https?://([^/?#]*)', 1)) AS hostport,"
        " substr(u, length(regexp_extract(u, '^https?://[^/?#]*', 0)) + 1)"
        "   AS rest"
        " FROM urls),"
        " p2 AS (SELECT doc_id, scheme,"
        " CASE WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$', '')"
        "      ELSE regexp_replace(hostport, ':443$', '') END AS host,"
        " regexp_replace(rest, '#.*$', '') AS nofrag"
        " FROM parts),"
        " p3 AS (SELECT doc_id, scheme, host,"
        " regexp_extract(nofrag, '^([^?]*)', 1) AS path,"
        " regexp_extract(nofrag, '^[^?]*\\?(.*)$', 1) AS query"
        " FROM p2),"
        " p4 AS (SELECT doc_id, scheme || '://' || host ||"
        " CASE WHEN path = '' THEN '/' ELSE path END ||"
        " CASE WHEN qstr = '' THEN '' ELSE '?' || qstr END AS url"
        " FROM (SELECT *, array_to_string(list_filter("
        "   string_split(query, '&'),"
        f"   p -> p <> '' AND NOT regexp_matches(p, '{tpat}')), '&')"
        "   AS qstr FROM p3)),"
        " perdoc AS (SELECT url, doc_id, count(*) AS c FROM p4"
        " WHERE url <> '' GROUP BY 1, 2)"
        " SELECT url, CAST(sum(c) AS BIGINT) AS n_urls,"
        " CAST(count(*) AS BIGINT) AS n_docs"
        " FROM perdoc GROUP BY url"
    )


@query("url_canonical_freq", _url_canon_oracle_sql())
def q_url_canonical_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-URL frequency table under the driver hash: the
    oracle replays every normalization rule (scheme/host lower-fold,
    default-port strip, fragment drop, tracking-param filter with
    order-preserving rejoin, empty-path -> '/') from the shared
    pattern constants, plus both aggregation levels. The enrichment
    guarantees every rule fires on every document."""
    from polars_text_spark.operators.web import canonical_url_frequencies

    docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    enriched = _url_canon_enrich_spark(docs)
    return canonical_url_frequencies(enriched, "t", "doc_id")


def _pagerank_oracle_sql(iters: int = 3) -> str:
    """Unrolled fixed-point PageRank replay: DuckDB re-derives the
    edge list from the shared URL/DOMAIN patterns, then every
    iteration's integer shares, dangling redistribution and damping
    update — bit-identical BIGINT ranks (the fixed-point design in
    operators/graph.py exists exactly so this oracle can be exact)."""
    from polars_text_spark.operators.web import DOMAIN_PATTERN, URL_PATTERN

    upat = URL_PATTERN.replace("'", "''")
    dpat = DOMAIN_PATTERN.replace("'", "''")
    sql = (
        "WITH enriched AS (SELECT doc_id,"
        " 'site' || CAST(doc_id % 5 AS VARCHAR) || '.example.com'"
        " AS domain,"
        " text || ' see https://ex' || CAST(doc_id % 7 AS VARCHAR)"
        " || '.example.com/p/' || CAST(doc_id AS VARCHAR)"
        " || ' and http://Mirror' || CAST(doc_id % 3 AS VARCHAR)"
        " || '.example.NET/x'"
        " || CASE WHEN doc_id % 10 < 3 THEN"
        " ' plus https://hub.example.com/' ELSE '' END AS t"
        " FROM documents WHERE text IS NOT NULL),"
        " urls AS (SELECT lower(domain) AS src,"
        f" unnest(regexp_extract_all(t, '{upat}')) AS u FROM enriched),"
        " edges AS (SELECT DISTINCT src,"
        f" lower(regexp_extract(u, '{dpat}', 1)) AS dst FROM urls"
        f" WHERE lower(regexp_extract(u, '{dpat}', 1)) <> ''"
        f" AND src <> lower(regexp_extract(u, '{dpat}', 1))),"
        " nodes AS (SELECT src AS node FROM edges"
        " UNION SELECT dst FROM edges),"
        " nc AS (SELECT COUNT(*) AS n FROM nodes),"
        " outdeg AS (SELECT src, COUNT(*) AS odeg FROM edges"
        " GROUP BY src),"
        " r0 AS (SELECT node, CAST(1000000000 AS BIGINT) AS pr"
        " FROM nodes)"
    )
    for k in range(1, iters + 1):
        sql += (
            f", s{k} AS (SELECT e.dst AS node,"
            f" SUM(r.pr // o.odeg) AS inflow"
            f" FROM edges e JOIN r{k - 1} r ON r.node = e.src"
            " JOIN outdeg o ON o.src = e.src GROUP BY e.dst)"
            f", d{k} AS (SELECT COALESCE(SUM(r.pr), 0) AS dang"
            f" FROM r{k - 1} r LEFT JOIN outdeg o ON o.src = r.node"
            " WHERE o.src IS NULL)"
            f", r{k} AS (SELECT n.node,"
            " CAST((15000000000 + 85 * (COALESCE(s.inflow, 0)"
            " + (d.dang // nc.n))) // 100 AS BIGINT) AS pr"
            f" FROM nodes n LEFT JOIN s{k} s ON s.node = n.node"
            f" CROSS JOIN d{k} d CROSS JOIN nc)"
        )
    return (
        sql
        + " SELECT node AS domain, pr AS rank,"
        f" round(pr / 1000000000.0, 6) AS score FROM r{iters}"
    )


def _bpe_oracle_sql(k: int = 5) -> str:
    """Unrolled BPE replay: k CTE rounds of pair counting (positional
    list zip), (freq desc, a, b) argmax and the double-space literal
    replace — byte-identical merge application in both engines
    because the separator trick needs only literal ``replace``."""
    sql = (
        "WITH toks AS (SELECT unnest(" + _SQL_WS_TOKS + ") AS w"
        " FROM documents WHERE text IS NOT NULL),"
        " w0 AS (SELECT w, COUNT(*) AS cnt,"
        " ' ' || array_to_string(list_transform("
        "generate_series(1, length(w)), i -> substring(w, i, 1)),"
        " '  ') || ' ' AS s"
        " FROM toks GROUP BY w)"
    )
    pair_struct = "{'a': syms[i], 'b': syms[i+1]}"
    for r in range(1, k + 1):
        sql += (
            f", p{r} AS (SELECT pr.a AS a, pr.b AS b,"
            " SUM(cnt) AS freq FROM ("
            " SELECT cnt, unnest(list_transform("
            "generate_series(1, len(syms)-1),"
            f" i -> {pair_struct})) AS pr"
            " FROM (SELECT cnt, string_split(trim(s), '  ') AS syms"
            f" FROM w{r - 1})) GROUP BY 1, 2)"
            f", m{r} AS (SELECT a, b, freq FROM p{r}"
            " ORDER BY freq DESC, a, b LIMIT 1)"
            f", w{r} AS (SELECT w, cnt, replace(s,"
            " ' ' || m.a || '  ' || m.b || ' ',"
            " ' ' || m.a || m.b || ' ') AS s"
            f" FROM w{r - 1} CROSS JOIN m{r} m)"
        )
    selects = " UNION ALL ".join(
        f"SELECT CAST({r} AS INT) AS merge_rank, a AS left_sym,"
        f" b AS right_sym, a || b AS merged,"
        f" CAST(freq AS BIGINT) AS freq FROM m{r}"
        for r in range(1, k + 1)
    )
    return sql + " " + selects


@query("bpe_merges", _bpe_oracle_sql())
def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer training (Sennrich et al. 2016)
    under the driver hash: 5 merge rounds learned from the corpus's
    whitespace-token TYPE frame — the corpus is aggregated once, each
    round is a map-only pair projection + one (a, b) sum + a top-1
    TakeOrdered, and the merge applies as a literal double-space
    replace. The oracle replays all five rounds end to end (pair
    counts, argmax tie-break, merge application), so the learned
    merge TABLE — not just its shape — is engine-exact."""
    from polars_text_spark.operators.bpe import bpe_learn

    docs = _docs(spark, sf_dir)
    return bpe_learn(docs, "text", num_merges=5)


def _license_oracle_sql() -> str:
    from polars_text_spark.functions.analysis import LICENSE_PATTERNS

    counts = " ".join(
        f", CAST(len(regexp_extract_all(t, '{pat}')) AS BIGINT) AS {name}"
        for name, pat in LICENSE_PATTERNS.items()
    )
    return (
        "WITH enriched AS (SELECT doc_id, text || CASE doc_id % 5"
        " WHEN 0 THEN ' Licensed under the MIT License.'"
        " WHEN 1 THEN ' This work is licensed under a Creative"
        " Commons Attribution (CC BY-SA) license.'"
        " WHEN 2 THEN ' Portions under the MIT License. Copyright:"
        " All Rights Reserved.'"
        " WHEN 3 THEN ' Distributed under the GNU General Public"
        " License, or later GPLv3.'"
        " ELSE '' END AS t FROM documents WHERE text IS NOT NULL),"
        " c AS (SELECT doc_id" + counts + " FROM enriched)"
        " SELECT doc_id, n_creative_commons, n_public_domain,"
        " n_permissive, n_copyleft, n_rights_reserved,"
        " CASE WHEN n_copyleft > 0 THEN 'copyleft'"
        " WHEN n_rights_reserved > 0 THEN 'rights_reserved'"
        " WHEN n_permissive > 0 THEN 'permissive'"
        " WHEN n_creative_commons > 0 THEN 'creative_commons'"
        " WHEN n_public_domain > 0 THEN 'public_domain'"
        " ELSE 'none' END AS verdict FROM c"
    )


@query("license_scan", _license_oracle_sql())
def q_license_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """License-marker governance scan under the driver hash: the
    enrichment plants one license family per doc-id class — MIT
    (permissive), CC BY-SA (two distinct CC markers), a MIXED doc
    (MIT + all-rights-reserved, pinning the most-restrictive-wins
    verdict priority), GPL prose + the GPLv3 short form, and an
    untouched class (verdict 'none'). The oracle replays every family
    count from the shared LICENSE_PATTERNS constants and the verdict
    CASE. Map-only regexp_count fused into the scan."""
    from polars_text_spark.functions.analysis import license_signals

    docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    enriched = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.lit(" Licensed under the MIT License."),
            )
            .when(
                F.col("doc_id") % 5 == 1,
                F.lit(
                    " This work is licensed under a Creative Commons"
                    " Attribution (CC BY-SA) license."
                ),
            )
            .when(
                F.col("doc_id") % 5 == 2,
                F.lit(
                    " Portions under the MIT License. Copyright:"
                    " All Rights Reserved."
                ),
            )
            .when(
                F.col("doc_id") % 5 == 3,
                F.lit(
                    " Distributed under the GNU General Public"
                    " License, or later GPLv3."
                ),
            )
            .otherwise(F.lit("")),
        ).alias("t"),
    )
    out = enriched.select("doc_id", license_signals("t").alias("s"))
    return out.select(
        "doc_id",
        F.col("s.n_creative_commons").alias("n_creative_commons"),
        F.col("s.n_public_domain").alias("n_public_domain"),
        F.col("s.n_permissive").alias("n_permissive"),
        F.col("s.n_copyleft").alias("n_copyleft"),
        F.col("s.n_rights_reserved").alias("n_rights_reserved"),
        F.col("s.verdict").alias("verdict"),
    )


@query(
    "blocklist_gate",
    """
    WITH d AS (SELECT doc_id,
      CASE doc_id % 4
        WHEN 0 THEN 'ads.tracker' || CAST(doc_id % 3 AS VARCHAR) || '.net'
        WHEN 1 THEN 'sub.deep.example.biz'
        WHEN 2 THEN 'notexample.biz'
        ELSE 'spam.example.org' END AS domain
      FROM documents WHERE text IS NOT NULL),
    bl AS (SELECT lower(pattern) AS pat FROM (VALUES ('tracker0.net'),
      ('tracker1.net'), ('example.biz'), ('Spam.Example.ORG'))
      t(pattern)),
    sfx AS (SELECT doc_id, unnest(list_transform(
              generate_series(1, len(p)),
              i -> array_to_string(list_slice(p, i, len(p)), '.'))) AS s
            FROM (SELECT doc_id, string_split(lower(domain), '.') AS p
                  FROM d)),
    hits AS (SELECT DISTINCT sfx.doc_id FROM sfx JOIN bl ON s = pat)
    SELECT d.doc_id, d.domain, (h.doc_id IS NOT NULL) AS blocked
    FROM d LEFT JOIN hits h ON d.doc_id = h.doc_id
    """,
)
def q_blocklist_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-blocklist gate (the UT1/tracker-list URL filter shape)
    with label-aligned suffix semantics under the driver hash. The
    enrichment exercises every matching rule: a parameterized tracker
    family where only 2 of 3 members are listed, a depth-2 subdomain
    blocked via its registered parent, a label-misaligned near-miss
    (``notexample.biz`` must NOT match ``example.biz``), and a
    mixed-case blocklist entry (pattern lower-fold). The oracle
    replays suffix generation, both folds, the distinct-hit set and
    the left-join verdict."""
    from polars_text_spark.operators.web import blocklist_verdict

    docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    d = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(
                F.lit("ads.tracker"),
                (F.col("doc_id") % 3).cast("string"),
                F.lit(".net"),
            ),
        )
        .when(F.col("doc_id") % 4 == 1, F.lit("sub.deep.example.biz"))
        .when(F.col("doc_id") % 4 == 2, F.lit("notexample.biz"))
        .otherwise(F.lit("spam.example.org"))
        .alias("domain"),
    )
    bl = spark.createDataFrame(
        [("tracker0.net",), ("tracker1.net",), ("example.biz",),
         ("Spam.Example.ORG",)],
        "pattern string",
    )
    return blocklist_verdict(d, bl, domain_col="domain", id_col="doc_id")


@query("domain_pagerank", _pagerank_oracle_sql())
def q_domain_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point PageRank over the corpus's own domain link graph —
    the crawl-frontier / spam-prior centrality signal (Common Crawl
    publishes exactly this table for its domain graph). Enrichment
    gives every doc a site{0..4} host plus links to ex{0..6}, a
    mirror{0..2} host and (3 of 10 docs) a hub — hub and the dangling
    targets get DIFFERENT in-flows, so the test graph exercises varied
    out-degrees, the dangling-mass term and the teleport floor. The
    oracle replays edge extraction from the shared patterns and all
    three integer iterations; ranks are BIGINT-exact (no float
    summation anywhere), which is what makes a distributed graph
    metric hash-checkable across engines."""
    from polars_text_spark.operators.graph import pagerank
    from polars_text_spark.operators.web import domain_link_edges

    docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    enriched = docs.select(
        "doc_id",
        F.concat(
            F.lit("site"),
            (F.col("doc_id") % 5).cast("string"),
            F.lit(".example.com"),
        ).alias("domain"),
        F.concat(
            F.col("text"),
            F.lit(" see https://ex"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(".example.com/p/"),
            F.col("doc_id").cast("string"),
            F.lit(" and http://Mirror"),
            (F.col("doc_id") % 3).cast("string"),
            F.lit(".example.NET/x"),
            F.when(
                F.col("doc_id") % 10 < 3,
                F.lit(" plus https://hub.example.com/"),
            ).otherwise(F.lit("")),
        ).alias("t"),
    )
    edges = domain_link_edges(enriched, "domain", "t")
    pr = pagerank(edges, iterations=3)
    return pr.select(
        F.col("node").alias("domain"),
        "rank",
        F.round(F.col("rank") / F.lit(1000000000.0), 6).alias("score"),
    )


@query(
    "quality_weighted_sample",
    f"""
    WITH w AS (
      SELECT doc_id, lang,
             least(1.0, len({_SQL_WS_TOKS}) / 200.0) AS wt
      FROM documents WHERE text IS NOT NULL),
    drawn AS (
      SELECT doc_id, lang, wt,
             ('0x' || substr(sha256(CAST(doc_id AS VARCHAR) || 'q'),
                             1, 15))::BIGINT / 1152921504606846976.0 AS u
      FROM w)
    SELECT doc_id, lang FROM drawn WHERE u < wt
    """,
)
def q_quality_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-proportional downsampling (the DataComp/Dolma curation
    shape): each doc survives with probability equal to its quality
    weight — here ``min(1, word_count/200)`` so short docs are shed
    proportionally — via a deterministic per-key uniform draw
    (sha256 60-bit prefix over 2^60). Map-only, fused into the scan;
    the oracle recomputes both the weight and the draw, so the kept
    row SET must match exactly, not just its size."""
    from polars_text_spark.functions.analysis import ws_token_array
    from polars_text_spark.operators.sampling import weighted_sample

    docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    wt = F.size(ws_token_array("text")) / F.lit(200.0)
    return weighted_sample(docs, wt, "doc_id", salt="q").select(
        "doc_id", "lang"
    )


# DSIR (Xie et al. 2023) shared oracle CTEs: hashed uni+bigram feature
# stream, add-1-smoothed bucket log-ratios (target = English docs, the
# high-quality stand-in), per-doc summed log importance weights. The
# 60-bit sha bucket hash is the repo recipe, so Spark and DuckDB bin
# every n-gram identically; log_weight is rounded to 6 dp on both
# sides BEFORE the select query's keep-probability so the sampled SET
# compares exactly.
_DSIR_B = 2048
_DSIR_CTES = f"""
    t AS (
      SELECT doc_id, lang, {_SQL_WS_TOKS} AS tk
      FROM documents WHERE text IS NOT NULL),
    feats AS (
      SELECT doc_id, lang,
             ('0x' || substr(sha256(g), 1, 15))::BIGINT % {_DSIR_B} AS bucket
      FROM (
        SELECT doc_id, lang, unnest(tk) AS g FROM t
        UNION ALL
        SELECT doc_id, lang, tk[i] || ' ' || tk[i+1] AS g
        FROM (SELECT doc_id, lang,
                     unnest(generate_series(1, len(tk) - 1)) AS i, tk
              FROM t WHERE len(tk) >= 2))),
    r_cnt AS (SELECT bucket, count(*) AS rc FROM feats GROUP BY 1),
    t_cnt AS (SELECT bucket, count(*) AS tc FROM feats
              WHERE lang = 'en' GROUP BY 1),
    tot AS (SELECT (SELECT sum(rc) FROM r_cnt)::DOUBLE AS rt,
                   (SELECT coalesce(sum(tc), 0) FROM t_cnt)::DOUBLE AS tt),
    lr AS (
      SELECT r.bucket,
             ln((coalesce(t.tc, 0) + 1.0) / (tot.tt + {_DSIR_B}))
             - ln((r.rc + 1.0) / (tot.rt + {_DSIR_B})) AS log_ratio
      FROM r_cnt r LEFT JOIN t_cnt t USING (bucket) CROSS JOIN tot),
    wts AS (
      SELECT f.doc_id,
             CAST(count(*) AS BIGINT) AS n_features,
             round(sum(lr.log_ratio), 6) AS log_weight
      FROM feats f JOIN lr USING (bucket)
      GROUP BY 1)
"""


@query(
    "dsir_weights",
    f"WITH {_DSIR_CTES} SELECT doc_id, n_features, log_weight FROM wts",
)
def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (Data Selection via Importance
    Resampling, arXiv:2302.03169): fit hashed uni+bigram bucket
    distributions for the full corpus (raw) and its English documents
    (target stand-in), then score every document with its summed
    bucket log-ratio. The oracle re-derives the hash, the smoothing,
    and every per-doc sum — the full fit+score chain is value-checked,
    not just row counts."""
    from polars_text_spark.operators.dsir import dsir_fit_weights

    docs = _docs(spark, sf_dir)
    # fused fit+score: ONE feature-hash pass (the layered
    # dsir_fit + dsir_log_weights recipe scanned the corpus 5x —
    # see plans/r16/dsir_weights_before.txt and OPTIMIZATION_r16.md)
    _, out = dsir_fit_weights(docs, F.col("lang") == "en", buckets=_DSIR_B)
    return out.select(
        "doc_id", "n_features", F.round("log_weight", 6).alias("log_weight")
    )


@query(
    "dsir_select",
    f"""
    WITH {_DSIR_CTES},
    sel AS (
      SELECT doc_id,
             least(1.0, exp(4.0 * (log_weight / n_features))) AS p
      FROM wts)
    SELECT d.doc_id, d.lang
    FROM documents d JOIN sel USING (doc_id)
    WHERE ('0x' || substr(sha256(CAST(doc_id AS VARCHAR) || 'ds'), 1, 15))
            ::BIGINT / 1152921504606846976.0 < p
    """,
)
def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR expectation-mode resampling on top of :func:`dsir_weights`:
    keep a doc with probability ``min(1, exp(beta * avg_log_ratio))``
    (beta=4 sharpens toward the English target) under the content-keyed
    sha draw. Map-only after the weights join; the oracle replays
    weight, keep-probability, AND draw, so the kept row SET must match
    exactly. Weights are rounded to 6 dp on both engines before the
    exponent so summation-order ulps can't flip a boundary draw."""
    from polars_text_spark.operators.dsir import dsir_fit_weights, dsir_sample

    docs = _docs(spark, sf_dir)
    # fused fit+score: one feature-hash pass (see dsir_weights)
    _, weights = dsir_fit_weights(
        docs, F.col("lang") == "en", buckets=_DSIR_B
    )
    weights = weights.withColumn("log_weight", F.round("log_weight", 6))
    kept = dsir_sample(docs, weights, beta=4.0, salt="ds")
    return kept.select("doc_id", "lang")


@query(
    "dsir_topk",
    f"""
    WITH {_DSIR_CTES},
    keyed AS (
      SELECT doc_id,
             2.0 * (log_weight / n_features)
               + -ln(-ln(greatest(
                   ('0x' || substr(sha256(CAST(doc_id AS VARCHAR) || 'gk'),
                            1, 15))::BIGINT / 1152921504606846976.0,
                   1.0 / 1152921504606846976.0))) AS gk
      FROM wts)
    SELECT d.doc_id, d.lang
    FROM keyed k JOIN documents d USING (doc_id)
    ORDER BY k.gk DESC, d.doc_id ASC
    LIMIT 100
    """,
)
def q_dsir_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR's exact-size selection (the paper's Gumbel top-k): the 100
    documents with the largest ``beta * avg_log_ratio + Gumbel(u)``
    keys, ``u`` the content-keyed sha draw — a without-replacement
    sample proportional to the tempered importance weight, fully
    deterministic. The oracle replays weights, Gumbel keys, and the
    ranked cut. Weights are rounded to 6 dp on both engines before
    the key so summation-order ulps can't reorder a boundary rank."""
    from polars_text_spark.operators.dsir import dsir_fit_weights, dsir_topk

    docs = _docs(spark, sf_dir)
    # fused fit+score: one feature-hash pass (see dsir_weights)
    _, weights = dsir_fit_weights(
        docs, F.col("lang") == "en", buckets=_DSIR_B
    )
    weights = weights.withColumn("log_weight", F.round("log_weight", 6))
    kept = dsir_topk(docs, weights, 100, beta=2.0, salt="gk")
    return kept.select("doc_id", "lang")


@query(
    "epoch_mixture",
    """
    WITH c AS (
      SELECT lang, count(*) AS n FROM documents
      WHERE text IS NOT NULL AND lang IN ('de', 'en', 'es', 'fr')
      GROUP BY 1),
    b AS (SELECT CAST(trunc(1.5 * sum(n)) AS BIGINT) AS bt FROM c),
    plan AS (SELECT lang, (bt * 0.25) / n AS r FROM c CROSS JOIN b),
    -- join BEFORE the unnest: DuckDB's binder hits an internal
    -- assertion ("Failed to bind column reference") when a filter
    -- references an unnest alias produced in the same block as a
    -- JOIN; unnesting from a plain pre-joined CTE binds fine
    dd AS (
      SELECT d.doc_id, d.lang, p.r
      FROM documents d JOIN plan p USING (lang)
      WHERE d.text IS NOT NULL),
    ex AS (
      SELECT doc_id, lang, r,
             unnest(generate_series(1, CAST(ceil(r) AS INT))) AS epoch
      FROM dd)
    SELECT doc_id, lang, CAST(epoch AS INT) AS epoch
    FROM ex
    WHERE epoch <= floor(r)
       OR ('0x' || substr(sha256(CAST(doc_id AS VARCHAR) || ':'
                                 || CAST(epoch AS VARCHAR) || 'ep'),
                          1, 15))::BIGINT / 1152921504606846976.0
          < r - floor(r)
    """,
)
def q_epoch_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget epoch mixing (data-constrained pretraining,
    arXiv:2305.16264): plan per-language repetition factors for a
    budget of 1.5x the corpus under a uniform 4-language target
    (Chinese deliberately unplanned — dropped rows are part of the
    contract), then materialize (doc, epoch) rows — integer epochs
    unconditional, the fractional epoch via the content-keyed sha
    draw. The oracle re-derives counts, budget, factors, explode, and
    every fractional-draw decision; the query's parameters are chosen
    so no source hits the repetition cap (solver iteration is pure
    driver arithmetic, exercised in tests/test_budget.py — capped
    plans replay identically once the factors are fixed)."""
    from polars_text_spark.operators.budget import apply_epoch_plan, epoch_plan

    langs = ["de", "en", "es", "fr"]
    docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    counts = {
        r[0]: r[1]
        for r in docs.filter(F.col("lang").isin(langs))
        .groupBy("lang")
        .count()
        .collect()
    }
    budget = int(1.5 * sum(counts.values()))
    plan = epoch_plan(
        counts, {lang: 0.25 for lang in langs}, budget, max_epochs=3.0
    )
    out = apply_epoch_plan(docs, plan, "lang", "doc_id", salt="ep")
    return out.select("doc_id", "lang", F.col("epoch").cast("int").alias("epoch"))


@query(
    "windowed_drift",
    f"""
    WITH d AS (
      SELECT doc_id, text,
             TIMESTAMP '2024-01-01 00:00:00'
               + (doc_id % 360) * INTERVAL 1 MINUTE AS ts
      FROM documents WHERE text IS NOT NULL),
    ref AS (
      SELECT tok AS token, count(*) AS cnt
      FROM (SELECT unnest({_SQL_WS_TOKS}) AS tok FROM documents
            WHERE text IS NOT NULL AND lang = 'en')
      GROUP BY 1),
    den AS (SELECT ((SELECT sum(cnt) FROM ref)
                    + (SELECT count(*) FROM ref) + 1)::DOUBLE AS dn),
    toks AS (
      SELECT date_trunc('hour', ts) AS ws, unnest({_SQL_WS_TOKS}) AS token
      FROM d),
    cnts AS (SELECT ws, token, count(*) AS c FROM toks GROUP BY 1, 2),
    scored AS (
      SELECT ws, c,
             ln((coalesce(ref.cnt, 0) + 1.0) / den.dn) AS logq
      FROM cnts LEFT JOIN ref USING (token) CROSS JOIN den)
    SELECT ws AS window_start,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_distinct,
           round(sum(c * (ln(c) - logq)) / sum(c) - ln(sum(c)), 6) AS kl_nats
    FROM scored GROUP BY 1
    """,
)
def q_windowed_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed token-distribution drift (the streaming monitor's
    batch twin, streaming/drift.py — the SAME transform runs on a
    readStream with chained stateful aggregations, stream==batch
    proven in tests/test_streaming_drift.py): per event-time hour,
    KL(window || smoothed English-reference unigram model) in nats.
    Synthetic deterministic timestamps (doc_id minutes past midnight)
    spread the corpus over six hourly windows; the oracle replays the
    reference fit, the add-1 smoothing, the OOV slot, and the
    two-sum KL identity per window."""
    from polars_text_spark.operators.quality import unigram_frequencies
    from polars_text_spark.streaming.drift import windowed_token_drift

    docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    timed = docs.withColumn(
        "ts",
        F.expr(
            "timestamp'2024-01-01 00:00:00' + make_interval("
            "0, 0, 0, 0, 0, CAST(doc_id % 360 AS INT), 0)"
        ),
    )
    ref = unigram_frequencies(docs.filter(F.col("lang") == "en"), "text")
    out = windowed_token_drift(timed, ref, window="1 hour")
    return out.select(
        "window_start",
        "n_tokens",
        "n_distinct",
        F.round("kl_nats", 6).alias("kl_nats"),
    )


@query(
    "media_dhash_dups",
    """
    WITH m AS (
      SELECT doc_id AS id, encode(text) AS b
      FROM documents WHERE text IS NOT NULL AND length(text) > 0
      UNION ALL
      SELECT doc_id + 1000000, encode(substr(text, 1, length(text) - 1) || 'z')
      FROM documents WHERE text IS NOT NULL AND length(text) > 0),
    hx AS (SELECT id, hex(b) AS h, octet_length(b) AS n FROM m
           WHERE octet_length(b) > 0),
    px AS (SELECT id,
                  [('0x' || substr(h, 2 * ((i * n) // 72) + 1, 2))::INT
                   FOR i IN generate_series(0, 71)] AS p
           FROM hx),
    bits AS (SELECT id,
                    [CASE WHEN p[(j // 8) * 9 + (j % 8) + 1]
                             > p[(j // 8) * 9 + (j % 8) + 2]
                          THEN 1 ELSE 0 END
                     FOR j IN generate_series(0, 63)] AS bt
             FROM px),
    sig AS (SELECT id,
                   [list_sum([bt[16 * k + t + 1] * (1 << (15 - t))
                              FOR t IN generate_series(0, 15)])::INT
                    FOR k IN generate_series(0, 3)] AS s
            FROM bits),
    blocked AS (
      SELECT id, s, ci, s[ci + 1] AS cv
      FROM (SELECT id, s, unnest(generate_series(0, 3)) AS ci FROM sig)),
    cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM blocked a JOIN blocked b
        ON a.ci = b.ci AND a.cv = b.cv AND a.id < b.id),
    pairs AS (
      SELECT c.id_a, c.id_b,
             list_sum([bit_count(xor(sa.s[k+1]::BIGINT, sb.s[k+1]::BIGINT))
                       FOR k IN generate_series(0, 3)]) AS hamming
      FROM cand c JOIN sig sa ON sa.id = c.id_a
                  JOIN sig sb ON sb.id = c.id_b)
    SELECT id_a, id_b, CAST(hamming AS INT) AS hamming
    FROM pairs WHERE hamming <= 3
    """,
)
def q_media_dhash_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual (dHash) media near-dup pairs over binary payloads —
    the image-dedup shape with the stub byte-grid backend so the
    oracle can replay EVERY stage: 72-sample pixel grid from the hex
    bytes, 64 dHash comparison bits, 4x16-bit chunk signature,
    pigeonhole chunk-banded candidate join, exact Hamming verify.
    Media = utf-8 bytes of each document plus a tail-byte-perturbed
    twin (same char length), which yields hamming-0 pairs for long
    payloads (the flipped tail byte falls between grid samples) and
    small positive distances for short ones — both branches
    value-checked. Gated Pillow backend swaps in real decode+resize
    with no plumbing change (operators/phash.py)."""
    from polars_text_spark.operators.phash import dhash_pairs

    docs = _docs(spark, sf_dir).filter(
        F.col("text").isNotNull() & (F.length("text") > 0)
    )
    base = docs.select(
        F.col("doc_id").alias("id"), F.encode("text", "UTF-8").alias("media")
    )
    variant = docs.select(
        (F.col("doc_id") + 1000000).alias("id"),
        F.encode(
            F.concat(
                F.expr("substring(text, 1, length(text) - 1)"), F.lit("z")
            ),
            "UTF-8",
        ).alias("media"),
    )
    media = base.unionByName(variant)
    return dhash_pairs(media, "media", "id", max_hamming=3).select(
        "id_a", "id_b", F.col("hamming").cast("int").alias("hamming")
    )


@query(
    "wav_pcm_stats",
    """
    WITH s AS (SELECT doc_id, 64 + doc_id % 64 AS n FROM documents),
    samp AS (
      SELECT doc_id, n,
             unnest([((doc_id * 7919 + t * 104729) % 65536) - 32768
                     FOR t IN generate_series(0, n - 1)]) AS v
      FROM s)
    SELECT doc_id,
           CAST(any_value(n) AS BIGINT) AS n_samples,
           16000 AS sample_rate,
           round(sqrt(sum(v * v)::DOUBLE / any_value(n)), 6) AS rms,
           CAST(max(abs(v)) AS INT) AS peak,
           round(sum(CASE WHEN abs(v) >= 32767 THEN 1 ELSE 0 END)::DOUBLE
                 / any_value(n), 6) AS clip_ratio
    FROM samp GROUP BY doc_id
    """,
)
def q_wav_pcm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode, end-to-end engine-replayed: per doc a
    deterministic PCM16 sample train is packed into actual RIFF/WAVE
    bytes JVM-side (synth_wav_pcm16 — hex assembly + unhex, no UDF),
    then DECODED by the numpy PCM reader (wav_pcm_stats) into
    loudness/clipping stats. The oracle recomputes the stats from
    the sample formula alone — it never sees the bytes — so a header
    layout, endianness, or two's-complement bug on EITHER the encode
    or decode side breaks the hash. sample_rate=16000 round-trips
    through the actual fmt chunk, pinning the header path too."""
    from polars_text_spark.operators.multimodal import (
        synth_wav_pcm16,
        wav_pcm_stats,
    )

    docs = _docs(spark, sf_dir).select("doc_id")
    n = F.lit(64) + F.col("doc_id") % 64
    samples = F.transform(
        F.sequence(F.lit(0), (n - 1).cast("int")),
        lambda t: (
            F.pmod(
                F.col("doc_id") * 7919 + t.cast("long") * 104729,
                F.lit(65536),
            )
            - 32768
        ).cast("int"),
    )
    wav = docs.select("doc_id", synth_wav_pcm16(samples, 16000).alias("wav"))
    return wav.select(
        "doc_id", wav_pcm_stats("wav").alias("s")
    ).select(
        "doc_id",
        F.col("s.n_samples").alias("n_samples"),
        F.col("s.sample_rate").alias("sample_rate"),
        F.round("s.rms", 6).alias("rms"),
        F.col("s.peak").alias("peak"),
        F.round("s.clip_ratio", 6).alias("clip_ratio"),
    )


@query(
    "warc_ingest",
    """
    WITH crlf AS (SELECT chr(13) || chr(10) AS c),
    env AS (
      SELECT doc_id, text,
             'HTTP/1.1 200 OK' || c ||
             'Content-Type: text/plain; charset=utf-8' || c ||
             'Content-Length: ' || octet_length(encode(text))::VARCHAR ||
             c || c || text AS http
      FROM documents, crlf WHERE text IS NOT NULL)
    SELECT '<urn:uuid:00000000-0000-0000-0000-' ||
             lpad(doc_id::VARCHAR, 12, '0') || '>' AS record_id,
           'https://example.org/doc/' || doc_id AS target_uri,
           CAST(octet_length(encode(http)) AS BIGINT) AS content_length,
           200 AS http_status,
           'text/plain; charset=utf-8' AS content_type,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_body_bytes,
           text AS body_text
    FROM env
    """,
)
def q_warc_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC round-trip, end-to-end engine-replayed: each document is
    wrapped JVM-side into a spec-shaped WARC response record (WARC
    headers + HTTP envelope, Content-Length framing at both layers),
    then the REAL record parser (sources/warc.py — the Common Crawl
    reader's core, Content-Length-driven, never delimiter-split)
    sweeps the bytes back apart. The oracle re-derives every parsed
    field from the raw documents without ever seeing the container —
    a framing, header-casing, or byte-length bug on either side
    breaks the hash. body_text round-trips the full payload, CRLFs
    included."""
    from polars_text_spark.sources.warc import parse_warc_records

    docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    body_len = F.octet_length("text")
    http = F.concat(
        F.lit(
            "HTTP/1.1 200 OK\r\n"
            "Content-Type: text/plain; charset=utf-8\r\n"
            "Content-Length: "
        ),
        body_len.cast("string"),
        F.lit("\r\n\r\n"),
        F.col("text"),
    )
    rid = F.concat(
        F.lit("<urn:uuid:00000000-0000-0000-0000-"),
        F.lpad(F.col("doc_id").cast("string"), 12, "0"),
        F.lit(">"),
    )
    uri = F.concat(
        F.lit("https://example.org/doc/"), F.col("doc_id").cast("string")
    )
    warc = F.concat(
        F.lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Record-ID: "),
        rid,
        F.lit("\r\nWARC-Target-URI: "),
        uri,
        F.lit(
            "\r\nContent-Type: application/http; msgtype=response"
            "\r\nContent-Length: "
        ),
        F.octet_length(http).cast("string"),
        F.lit("\r\n\r\n"),
        http,
        F.lit("\r\n\r\n"),
    )
    blob = docs.select(F.encode(warc, "UTF-8").alias("b"))
    return (
        blob.select(F.explode(parse_warc_records("b")).alias("r"))
        .select(
            F.col("r.record_id").alias("record_id"),
            F.col("r.target_uri").alias("target_uri"),
            F.col("r.content_length").alias("content_length"),
            F.col("r.http_status").alias("http_status"),
            F.col("r.content_type").alias("content_type"),
            F.length("r.payload").cast("bigint").alias("n_body_bytes"),
            # replace-on-malformed like warc_text_documents (identity
            # on this valid-UTF-8 synth, so the oracle is unaffected)
            F.make_valid_utf8(F.col("r.payload").cast("string")).alias(
                "body_text"
            ),
        )
    )


# Mojibake enrichment strings, built from explicit code points so the
# Spark literal and the DuckDB chr() chain are character-identical by
# construction (raw artifact literals in source are one bad editor
# round-trip away from silent divergence). _MOJI_ART carries 3
# artifacts (2x 'Ã', 1x 'â€') and 4 C1 controls (0x80 twice from the
# two latin-1-style smart-quote triples, plus 0x9C and 0x9D);
# _MOJI_REP carries 1 replacement char + 1 C1 control (NEL).
_MOJI_ART = (
    " caf" + chr(195) + chr(169) + " "
    + chr(226) + chr(128) + chr(156) + "quoted"
    + chr(226) + chr(128) + chr(157) + " it"
    + chr(226) + chr(8364) + chr(8482) + "s na"
    + chr(195) + chr(175) + "ve"
)
_MOJI_REP = " bad" + chr(65533) + "chars" + chr(133) + "x"
_MOJI_ART_SQL = (
    "' caf' || chr(195) || chr(169) || ' ' || chr(226) || chr(128)"
    " || chr(156) || 'quoted' || chr(226) || chr(128) || chr(157)"
    " || ' it' || chr(226) || chr(8364) || chr(8482) || 's na'"
    " || chr(195) || chr(175) || 've'"
)
_MOJI_REP_SQL = "' bad' || chr(65533) || 'chars' || chr(133) || 'x'"


@query(
    "mojibake_scan",
    f"""
    WITH enriched AS (
      SELECT doc_id,
             text || CASE
               WHEN doc_id % 3 = 0 THEN {_MOJI_ART_SQL}
               WHEN doc_id % 3 = 1 THEN {_MOJI_REP_SQL}
               ELSE '' END AS t
      FROM documents WHERE text IS NOT NULL)
    SELECT doc_id,
           CAST(length(t) AS BIGINT) AS n_chars,
           CAST(len(regexp_extract_all(t, chr(65533))) AS BIGINT)
             AS n_replacement,
           CAST(len(regexp_extract_all(t,
                '[' || chr(128) || '-' || chr(159) || ']')) AS BIGINT)
             AS n_c1_controls,
           CAST(len(regexp_extract_all(t,
                chr(195) || '|' || chr(226) || chr(8364) || '|' || chr(194)))
             AS BIGINT) AS n_artifacts,
           round(CASE WHEN length(t) = 0 THEN 0.0 ELSE
             (len(regexp_extract_all(t, chr(65533)))
              + len(regexp_extract_all(t,
                    '[' || chr(128) || '-' || chr(159) || ']'))
              + len(regexp_extract_all(t,
                    chr(195) || '|' || chr(226) || chr(8364) || '|'
                    || chr(194)))) * 1.0
             / length(t) END, 6) AS score
    FROM enriched
    """,
)
def q_mojibake_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoding-damage scan (mojibake): replacement chars, C1-control
    residue, and UTF-8 double-decode artifact counts with a damage
    score — a web-corpus curation gate. The synthetic docs are clean,
    so deterministic thirds of the corpus are enriched with real
    artifact sequences (double-decoded e-acute, both smart-quote
    mojibake flavors, U+FFFD, a C1 NEL) with the character-identical
    expression in the oracle — the regex machinery is genuinely
    exercised, not vacuously zero (the pii_scan recipe). Map-only
    regexp_count built-ins, fused into the scan."""
    from polars_text_spark.functions.analysis import mojibake_signals

    docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    enriched = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 3 == 0, F.lit(_MOJI_ART))
            .when(F.col("doc_id") % 3 == 1, F.lit(_MOJI_REP))
            .otherwise(F.lit("")),
        ).alias("t"),
    )
    m = mojibake_signals("t")
    return enriched.select(
        "doc_id",
        m["n_chars"].alias("n_chars"),
        m["n_replacement"].alias("n_replacement"),
        m["n_c1_controls"].alias("n_c1_controls"),
        m["n_artifacts"].alias("n_artifacts"),
        F.round(m["score"], 6).alias("score"),
    )


@query(
    "containment_dups",
    f"""
    WITH sh AS ({{_sh_cte}})
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(len(list_intersect(a.s, b.s)) * 1.0 / len(a.s), 6)
             AS c_a_in_b,
           round(len(list_intersect(a.s, b.s)) * 1.0 / len(b.s), 6)
             AS c_b_in_a
    FROM sh a JOIN sh b
      ON a.source = b.source AND a.lang = b.lang AND a.doc_id < b.doc_id
    WHERE greatest(len(list_intersect(a.s, b.s)) * 1.0 / len(a.s),
                   len(list_intersect(a.s, b.s)) * 1.0 / len(b.s))
          >= 0.05
    """.replace("{_sh_cte}", _SQL_SH_CTE),
)
def q_containment_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided containment near-dups (Broder's containment
    coefficient): the quote/reply/wrapper shape Jaccard misses — a
    short doc fully inside a longer one has tiny Jaccard but
    containment ~1, and the curation decision needs the one-sided
    score. Blocked on (source, lang) like the exact-Jaccard path; the
    oracle replays every intersection and both ratios. Threshold 0.05
    keeps the synthetic corpus's overlap tail in the result so the
    hash has entropy."""
    from polars_text_spark.operators.dedup import containment_pairs

    docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    pairs = containment_pairs(
        docs, "text", "doc_id", block_cols=("source", "lang"),
        threshold=0.05,
    )
    return pairs.select(
        "id_a", "id_b",
        F.round("c_a_in_b", 6).alias("c_a_in_b"),
        F.round("c_b_in_a", 6).alias("c_b_in_a"),
    )


@query(
    "fim_psm",
    f"""
    WITH u AS (
      SELECT doc_id, text, length(text) AS L,
             {_SQL_SHA60.format(expr="CAST(doc_id AS VARCHAR) || 'fim1'")}
               / 1152921504606846976.0 AS u1,
             {_SQL_SHA60.format(expr="CAST(doc_id AS VARCHAR) || 'fim2'")}
               / 1152921504606846976.0 AS u2,
             {_SQL_SHA60.format(expr="CAST(doc_id AS VARCHAR) || 'fimr'")}
               / 1152921504606846976.0 AS ur
      FROM documents WHERE text IS NOT NULL),
    sp AS (
      SELECT doc_id, text, L, ur,
             CAST(floor(least(u1, u2) * L) AS INT) AS i,
             CAST(floor(greatest(u1, u2) * L) AS INT) AS j
      FROM u)
    SELECT doc_id, ur < 0.5 AS fim_applied,
           CASE WHEN ur < 0.5
                THEN '<PRE>' || substr(text, 1, i)
                  || '<SUF>' || substr(text, j + 1, L - j)
                  || '<MID>' || substr(text, i + 1, j - i)
                ELSE text END AS fim_text
    FROM sp
    """,
)
def q_fim_psm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill-in-the-middle augmentation (Bavarian et al. 2022) under
    the driver hash: a deterministic half of the corpus is rewritten
    to PSM order with sha-uniform split points; the oracle recomputes
    the uniforms, the split indices, and every transformed character.
    Map-only — the 100 TB shape is a projection fused into the scan,
    no shuffle, no UDF."""
    from polars_text_spark.operators.packing import fim_transform

    docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    out = fim_transform(docs, "text", "doc_id", fim_rate=0.5)
    return out.select("doc_id", "fim_applied", "fim_text")


@query(
    "dehyphenate_repair",
    """
    WITH t AS (
      SELECT doc_id,
             regexp_replace(regexp_replace(text,
               ' over', ' ov-' || chr(10) || 'er', 'g'),
               ' with', ' wi-' || chr(13) || chr(10) || '  th', 'g') AS tx
      FROM documents WHERE text IS NOT NULL)
    SELECT doc_id,
           CAST(len(regexp_extract_all(tx,
             '[a-zA-Z]-' || chr(13) || '?' || chr(10)
               || '[ ' || chr(9) || ']*[a-zA-Z]'))
             AS BIGINT) AS n_wraps,
           regexp_replace(tx,
             '([a-zA-Z])-' || chr(13) || '?' || chr(10)
               || '[ ' || chr(9) || ']*([a-zA-Z])',
             '\\1\\2', 'g') AS repaired
    FROM t
    """,
)
def q_dehyphenate_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OCR/PDF line-wrap repair under the driver hash: hyphen-newline
    word splits are synthesized deterministically (the gopher_line_stats
    newline recipe — one LF seam, one CRLF+indent seam, so BOTH line
    ending shapes are exercised), then :func:`dehyphenate` must
    reproduce the oracle's repaired text to the character, plus the
    wrap count. An over-eager pattern (joining numeric ranges, eating
    the indent of non-wrap lines) or an under-eager one (missing
    indented continuations or Windows CRLF wraps) fails the value
    hash. Map-only regexp built-ins fused into the scan.

    The oracle uses ``[a-zA-Z]`` where the operator uses ``\\p{L}``:
    equivalent on this corpus (ASCII letters only at the synthesized
    seams), and RE2's class avoids engine drift on the oracle side."""
    from polars_text_spark.functions.analysis import dehyphenate

    docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    wrapped = docs.select(
        "doc_id",
        F.regexp_replace(
            F.regexp_replace(F.col("text"), " over", " ov-\ner"),
            " with",
            " wi-\r\n  th",
        ).alias("tx"),
    )
    return wrapped.select(
        "doc_id",
        F.regexp_count(
            F.col("tx"), F.lit(r"[a-zA-Z]-\r?\n[ \t]*[a-zA-Z]")
        ).cast("long").alias("n_wraps"),
        dehyphenate("tx").alias("repaired"),
    )


@query(
    "gopher_line_stats",
    """
    WITH t AS (
      SELECT doc_id,
             regexp_replace(regexp_replace(text,
               ' the ', chr(10) || '- ', 'g'),
               ' data ', '...' || chr(10), 'g') AS tx
      FROM documents WHERE text IS NOT NULL),
    lines AS (
      SELECT doc_id, unnest(string_split(tx, chr(10))) AS line FROM t),
    agg AS (
      SELECT doc_id,
             count(*) AS n_lines,
             count(*) FILTER (trim(line) = '') AS n_blank,
             count(*) FILTER (trim(line) <> '') AS n_nb,
             count(*) FILTER (trim(line) <> '' AND
               (trim(line) LIKE '- %' OR trim(line) LIKE '* %'
                OR trim(line) LIKE '• %')) AS n_bullet,
             count(*) FILTER (trim(line) <> '' AND
               (trim(line) LIKE '%...' OR trim(line) LIKE '%…')) AS n_ellipsis,
             sum(length(line)) AS total_len
      FROM lines GROUP BY doc_id)
    SELECT doc_id,
           CAST(n_lines AS BIGINT) AS n_lines,
           round(CASE WHEN n_lines > 0 THEN n_blank * 1.0 / n_lines
                 ELSE 0 END, 6) AS blank_ratio,
           round(CASE WHEN n_nb > 0 THEN n_bullet * 1.0 / n_nb
                 ELSE 0 END, 6) AS bullet_ratio,
           round(CASE WHEN n_nb > 0 THEN n_ellipsis * 1.0 / n_nb
                 ELSE 0 END, 6) AS ellipsis_ratio,
           round(CASE WHEN n_lines > 0 THEN total_len * 1.0 / n_lines
                 ELSE 0 END, 6) AS mean_line_len
    FROM agg
    """,
)
def q_gopher_line_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-level Gopher quality heuristics (bullet-line ratio,
    ellipsis-line ratio, blank ratio, mean line length). The corpus is
    single-line, so lines are synthesized deterministically (' the '
    -> newline + bullet, ' data ' -> ellipsis + newline) identically
    in both engines. One projection of higher-order array built-ins —
    no explode on the Spark side, so the 100 TB plan stays map-only
    while the oracle uses unnest + group-by."""
    from polars_text_spark.functions.analysis import line_stats

    docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    tx = F.regexp_replace(
        F.regexp_replace(F.col("text"), " the ", "\n- "), " data ", "...\n"
    )
    s = docs.select("doc_id", line_stats(tx).alias("s"))
    return s.select(
        "doc_id",
        F.col("s.n_lines").alias("n_lines"),
        F.round("s.blank_ratio", 6).alias("blank_ratio"),
        F.round("s.bullet_ratio", 6).alias("bullet_ratio"),
        F.round("s.ellipsis_ratio", 6).alias("ellipsis_ratio"),
        F.round("s.mean_line_len", 6).alias("mean_line_len"),
    )


@query(
    "events_first_hour",
    """
    WITH f AS (SELECT user_id, min(ts) AS s FROM events GROUP BY user_id)
    SELECT e.user_id, CAST(count(*) AS BIGINT) AS n_first_hour
    FROM events e JOIN f ON e.user_id = f.user_id
     AND e.ts BETWEEN f.s AND f.s + INTERVAL 1 HOUR
    GROUP BY e.user_id
    """,
)
def q_events_first_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval (range) join: count each user's events inside their
    first active hour. Catalyst would plan the raw BETWEEN condition
    as a broadcast-nested-loop; interval_join buckets the time axis so
    it becomes ONE equi-join shuffle on (user_id, bucket) + an exact
    containment filter — the shape that survives 100 TB of events."""
    from polars_text_spark.operators.interval import interval_join
    from polars_text_spark.sources.catalog import load_events

    events = load_events(spark, sf_dir)
    intervals = events.groupBy("user_id").agg(F.min("ts").alias("start_ts"))
    intervals = intervals.withColumn(
        "end_ts", F.col("start_ts") + F.expr("INTERVAL 1 HOUR")
    )
    joined = interval_join(
        events.select("user_id", "event_id", "ts"),
        intervals,
        point_ts="ts",
        start_col="start_ts",
        end_col="end_ts",
        on=["user_id"],
        bucket_seconds=3600,
    )
    return joined.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_first_hour")
    )


@query(
    "paragraph_dedup_stats",
    """
    WITH chunks AS (
      SELECT doc_id, trim(c) AS chunk
      FROM (SELECT doc_id, unnest(string_split(
              regexp_replace(text, ' table ', chr(10) || chr(10), 'g'),
              chr(10) || chr(10))) AS c
            FROM documents WHERE text IS NOT NULL)
      WHERE trim(c) <> ''),
    freq AS (
      SELECT sha256(chunk) AS fp, count(*) AS n
      FROM chunks GROUP BY sha256(chunk))
    SELECT c.doc_id,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(count(*) FILTER (f.n > 1) AS BIGINT) AS n_dup_chunks,
           round(count(*) FILTER (f.n > 1) * 1.0 / count(*), 6)
             AS dup_chunk_frac
    FROM chunks c JOIN freq f ON sha256(c.chunk) = f.fp
    GROUP BY c.doc_id
    """,
)
def q_paragraph_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document dedup profile: fraction of each doc's paragraphs
    that are corpus-wide repeats (the RefinedWeb boilerplate signal).
    The single-line corpus gets paragraph breaks synthesized
    deterministically (' table ' -> blank line) identically in both
    engines. Chunks shuffle as sha256 fingerprints only — text never
    enters a shuffle."""
    from polars_text_spark.operators.chunks import chunk_dup_stats

    docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    synth = docs.select(
        "doc_id",
        F.regexp_replace(F.col("text"), " table ", "\n\n").alias("text"),
    )
    return chunk_dup_stats(synth, "text", "doc_id", sep="\n\n")


@query(
    "winnow_overlap",
    f"""
    WITH t AS (
      SELECT doc_id, {_SQL_WS_TOKS} AS tk
      FROM documents WHERE text IS NOT NULL),
    g AS (
      SELECT doc_id,
        CASE WHEN len(tk) = 0 THEN CAST([] AS BIGINT[])
             WHEN len(tk) < 5 THEN
               [('0x' || substr(sha256(array_to_string(tk, ' ')), 1, 15))::BIGINT]
             ELSE [('0x' || substr(sha256(array_to_string(tk[i:i+4], ' ')),
                                   1, 15))::BIGINT
                   for i in generate_series(1, len(tk) - 4)]
        END AS grams
      FROM t),
    fp AS (
      SELECT doc_id,
        CASE WHEN len(grams) = 0 THEN CAST([] AS BIGINT[])
             WHEN len(grams) < 4 THEN [list_min(grams)]
             ELSE list_distinct([list_min(grams[j:j+3])
                                 for j in generate_series(1, len(grams) - 3)])
        END AS fps
      FROM g),
    e AS (SELECT doc_id, unnest(fps) AS f FROM fp)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(count(*) AS BIGINT) AS n_shared
    FROM e a JOIN e b ON a.f = b.f AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    HAVING count(*) >= 2
    """,
)
def q_winnow_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-fingerprint passage overlap (MOSS, SIGMOD'03): pairs
    of docs sharing >= 2 window-min k-gram fingerprints — catches
    shared PASSAGES where whole-doc MinHash needs global similarity.
    Uses the engine-portable sha256-prefix gram hash so DuckDB
    re-derives every fingerprint exactly."""
    from polars_text_spark.operators.dedup import sha_token_hash
    from polars_text_spark.operators.winnow import winnow_overlap_pairs

    docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    return winnow_overlap_pairs(
        docs, "text", "doc_id", k=5, w=4, min_shared=2,
        gram_hash=sha_token_hash,
    )


@query(
    "strip_duplicate_paragraphs",
    """
    WITH t AS (
      SELECT doc_id, list_filter(list_transform(string_split(
               regexp_replace(text, ' table ', chr(10) || chr(10), 'g'),
               chr(10) || chr(10)), x -> trim(x)), x -> x <> '') AS l
      FROM documents WHERE text IS NOT NULL),
    pos AS (
      SELECT doc_id, unnest(generate_series(1, len(l))) AS i, l
      FROM t WHERE len(l) > 0),
    c2 AS (SELECT doc_id, i - 1 AS idx, l[i] AS chunk FROM pos),
    flagged AS (
      SELECT doc_id, idx, chunk,
             count(*) OVER (PARTITION BY chunk) AS n,
             row_number() OVER (PARTITION BY chunk
                                ORDER BY doc_id, idx) AS rn
      FROM c2),
    kept AS (SELECT * FROM flagged WHERE n <= 1 OR rn = 1)
    SELECT d.doc_id,
           coalesce(string_agg(k.chunk, chr(10) || chr(10) ORDER BY k.idx),
                    '') AS text
    FROM (SELECT DISTINCT doc_id FROM c2) d
    LEFT JOIN kept k USING (doc_id)
    GROUP BY d.doc_id
    """,
)
def q_strip_duplicate_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The RefinedWeb boilerplate-STRIP step: rebuild every doc with
    corpus-wide repeated paragraphs removed (globally-first occurrence
    kept). Same synthesized paragraph breaks as paragraph_dedup_stats;
    the oracle re-derives the keep set with window functions and
    string_agg. Duplicate decisions shuffle fingerprints; only
    surviving chunk text shuffles for the rebuild."""
    from polars_text_spark.operators.chunks import strip_duplicate_chunks

    docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    synth = docs.select(
        "doc_id",
        F.regexp_replace(F.col("text"), " table ", "\n\n").alias("text"),
    )
    return strip_duplicate_chunks(
        synth, "text", "doc_id", sep="\n\n", max_occurrences=1, keep_first=True
    )


@query(
    "strip_common_lines",
    """
    WITH docs AS (
      SELECT doc_id, coalesce(source, '') AS src,
             'NAV ' || coalesce(source, '') || chr(10) ||
             regexp_replace(text, ' the ', chr(10), 'g') || chr(10) ||
             'Copyright ' || coalesce(source, '') AS text
      FROM documents WHERE text IS NOT NULL),
    t AS (
      SELECT doc_id, src, list_filter(list_transform(
               string_split(text, chr(10)), x -> trim(x)), x -> x <> '') AS l
      FROM docs),
    pos AS (
      SELECT doc_id, src, unnest(generate_series(1, len(l))) AS i, l
      FROM t WHERE len(l) > 0),
    c2 AS (SELECT doc_id, src, i - 1 AS idx, l[i] AS line FROM pos),
    freq AS (
      SELECT src, line, count(DISTINCT doc_id) AS ndocs
      FROM c2 GROUP BY 1, 2),
    kept AS (
      SELECT c.* FROM c2 c JOIN freq f USING (src, line)
      WHERE f.ndocs < 2)
    SELECT d.doc_id,
           coalesce(string_agg(k.line, chr(10) ORDER BY k.idx), '') AS text
    FROM (SELECT DISTINCT doc_id FROM c2) d
    LEFT JOIN kept k USING (doc_id)
    GROUP BY d.doc_id
    """,
)
def q_strip_common_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CCNet site-template strip: rebuild every doc with lines
    that appear in >= 2 DISTINCT docs of the same source removed (ALL
    copies — nav/cookie boilerplate keeps nothing), in-doc repetition
    untouched. The corpus is enriched with deterministic per-source
    NAV/Copyright template lines so the strip is exercised for real
    on every source, plus whatever natural cross-doc line repeats the
    ' the '-split produces. Full rebuilt TEXT is hash-compared, not
    just counts. Decision side shuffles (src, fingerprint, doc) —
    never text; verdict returns as a left-anti join against the small
    template-line set."""
    from polars_text_spark.operators.chunks import strip_common_lines

    docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    src = F.coalesce(F.col("source"), F.lit(""))
    synth = docs.select(
        "doc_id",
        src.alias("src"),
        F.concat(
            F.lit("NAV "), src, F.lit("\n"),
            F.regexp_replace(F.col("text"), " the ", "\n"),
            F.lit("\n"), F.lit("Copyright "), src,
        ).alias("text"),
    )
    return strip_common_lines(
        synth, "text", "doc_id", "src", sep="\n", min_docs=2
    )


@query(
    "salted_order_priority_revenue",
    """
    SELECT o_orderpriority,
           round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
           CAST(count(*) AS BIGINT) AS n_items
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)
def q_salted_order_priority_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by order priority through a SALTED lineitem⋈orders
    join: the hot-key mitigation for shuffle joins where one key would
    otherwise pin a straggler task. Salting is row-equivalent to the
    plain join (the oracle IS the plain join) — it only spreads each
    key over `salt` reducers, which is the point at 100 TB."""
    from polars_text_spark.operators.skew import salted_join

    li = _tbl(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("orderkey"), "l_extendedprice", "l_discount"
    )
    orders = _tbl(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("orderkey"), "o_orderpriority"
    )
    joined = salted_join(li, orders, ["orderkey"], salt=8)
    return joined.groupBy("o_orderpriority").agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))), 4
        ).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


@query(
    "salted_customer_order_counts",
    """
    SELECT c.c_custkey AS custkey, c.c_mktsegment,
           CAST(count(o.o_orderkey) AS BIGINT) AS n_orders,
           round(coalesce(sum(o.o_totalprice), 0.0), 4) AS total_spend
    FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    WHERE c.c_mktsegment IN ('BUILDING', 'MACHINERY')
    GROUP BY c.c_custkey, c.c_mktsegment
    """,
)
def q_salted_customer_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """salted_join(how='left'): per-customer order counts keeping
    customers with NO orders — the left path is row-equivalent to a
    plain LEFT JOIN (the oracle) because every big-side row carries
    exactly one salt value, so an unmatched row surfaces exactly once
    with NULL small-side columns."""
    from polars_text_spark.operators.skew import salted_join

    cust = _tbl(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment").isin("BUILDING", "MACHINERY")
    ).select(F.col("c_custkey").alias("custkey"), "c_mktsegment")
    orders = _tbl(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"), "o_orderkey", "o_totalprice"
    )
    left = salted_join(
        cust, orders, ["custkey"], salt=4, how="left", salt_col="custkey"
    )
    return left.groupBy("custkey", "c_mktsegment").agg(
        F.count("o_orderkey").alias("n_orders"),
        F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 4).alias(
            "total_spend"
        ),
    )


@query(
    "events_purchase_windows_left",
    """
    WITH purchases AS (
      SELECT user_id, ts AS p_ts, event_id AS p_event
      FROM events WHERE event_type = 'purchase'),
    clicks AS (
      SELECT user_id, event_id, ts FROM events WHERE event_type = 'click')
    SELECT c.event_id, CAST(count(p.p_event) AS BIGINT) AS n_windows
    FROM clicks c LEFT JOIN purchases p
      ON c.user_id = p.user_id
     AND c.ts >= p.p_ts - INTERVAL 30 MINUTE
     AND c.ts <= p.p_ts
    GROUP BY c.event_id
    """,
)
def q_events_purchase_windows_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """interval_join(how='left'): for every click, how many purchase
    lead-windows (the 30 min before each purchase) it falls into —
    keeping zero-window clicks. Left semantics come from the anti-join
    recovery path (narrow, on the point id), not an exceptAll; the
    oracle is the plain LEFT JOIN ... BETWEEN."""
    from polars_text_spark.operators.interval import interval_join
    from polars_text_spark.sources.catalog import load_events

    events = load_events(spark, sf_dir)
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id",
        (F.col("ts") - F.expr("INTERVAL 30 MINUTE")).alias("start_ts"),
        F.col("ts").alias("end_ts"),
        F.col("event_id").alias("p_event"),
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", "event_id", "ts"
    )
    joined = interval_join(
        clicks,
        purchases,
        point_ts="ts",
        start_col="start_ts",
        end_col="end_ts",
        on=["user_id"],
        bucket_seconds=1800,
        how="left",
        point_id_col="event_id",
    )
    return joined.groupBy("event_id").agg(
        F.count("p_event").alias("n_windows")
    )


@query(
    "dedup_keep_best",
    f"""
    {_SQL_DUP_FAMILIES},
    labeled AS (
      SELECT d.doc_id, d.n_chars,
             coalesce(z.component, d.doc_id)             AS component,
             CAST(coalesce(z.cluster_size, 1) AS BIGINT) AS cluster_size
      FROM (SELECT doc_id, n_chars FROM documents WHERE text IS NOT NULL) d
      LEFT JOIN sized z USING (doc_id)
    )
    SELECT doc_id, component, cluster_size,
           row_number() OVER (PARTITION BY component
                              ORDER BY n_chars DESC, doc_id ASC) = 1
             AS is_canonical
    FROM labeled
    """,
)
def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document SELECTION, not just clustering: the same
    blocked-Jaccard duplicate families as ``dedup_clusters``, but the
    keeper per family is the LONGEST member (``prefer_col='n_chars'``,
    ties to min id) — the policy real pipelines want when a family
    mixes truncated and full versions of a page. The oracle re-derives
    the closure with a recursive CTE and the same preference window."""
    from polars_text_spark.operators.components import duplicate_clusters
    from polars_text_spark.operators.dedup import ngram_jaccard_pairs

    docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    pairs = ngram_jaccard_pairs(
        docs, "text", "doc_id", block_cols=("source", "lang"), threshold=0.01
    )
    return duplicate_clusters(
        docs.select("doc_id", "n_chars"),
        pairs.select("id_a", "id_b"),
        "doc_id",
        prefer_col="n_chars",
    ).select("doc_id", "component", "cluster_size", "is_canonical")


_SQL_KMEANS_CTE = f"""
    {_sql_vecs()},
    c0 AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS c
      FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 8)),
    d0 AS (
      SELECT e.vec_id,
             list(list_reduce(list_transform(generate_series(1, len(e.v)),
                  i -> (e.v[i] - c.c[i]) * (e.v[i] - c.c[i])),
                  (a, b) -> a + b) ORDER BY c.cid) AS ds
      FROM e CROSS JOIN c0 c GROUP BY e.vec_id),
    a0 AS (SELECT vec_id, list_position(ds, list_min(ds)) - 1 AS cid
           FROM d0),
    u0 AS (SELECT cid, unnest(generate_series(1, len(v))) AS i, v
           FROM a0 JOIN e USING (vec_id)),
    m0 AS (SELECT cid, i, round(avg(v[i]), 6) AS mx FROM u0 GROUP BY cid, i),
    c1m AS (SELECT cid, list(mx ORDER BY i) AS c FROM m0 GROUP BY cid),
    c1 AS (SELECT c0.cid, coalesce(c1m.c, c0.c) AS c
           FROM c0 LEFT JOIN c1m USING (cid)),
    d1 AS (
      SELECT e.vec_id,
             list(list_reduce(list_transform(generate_series(1, len(e.v)),
                  i -> (e.v[i] - c.c[i]) * (e.v[i] - c.c[i])),
                  (a, b) -> a + b) ORDER BY c.cid) AS ds
      FROM e CROSS JOIN c1 c GROUP BY e.vec_id),
    a1 AS (SELECT vec_id, list_position(ds, list_min(ds)) - 1 AS cid
           FROM d1)
"""


@query(
    "kmeans_clusters",
    f"""
    WITH {_SQL_KMEANS_CTE}
    SELECT vec_id, CAST(cid AS INT) AS cluster FROM a1
    """,
)
def q_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic distributed Lloyd k-means (k=8, 2 rounds) over
    the embeddings table — every per-point assignment hash-checked
    against a DuckDB twin that re-derives both rounds (smallest-id
    seeding, left-fold distances, argmin-ties-to-first, centroid
    means rounded to 6 dp between rounds; see
    operators/semdedup.py for why that makes k-means, normally
    seeded-approximate, exactly reproducible across engines)."""
    from polars_text_spark.operators.semdedup import kmeans_assign

    vecs = _tbl(spark, sf_dir, "embeddings")
    return kmeans_assign(
        vecs, "embedding", "vec_id", k=8, iterations=2, decimals=6
    )


@query(
    "semantic_dedup_pairs",
    f"""
    WITH {_SQL_KMEANS_CTE},
    {_SQL_UNIT_CTE}
    SELECT id_a, id_b, cluster, round(cos, 6) AS cosine FROM (
      SELECT x.vec_id AS id_a, y.vec_id AS id_b,
             CAST(x.cid AS INT) AS cluster,
             list_reduce(list_transform(generate_series(1, len(ux.u)),
                  i -> ux.u[i] * uy.u[i]), (a, b) -> a + b) AS cos
      FROM a1 x JOIN a1 y ON x.cid = y.cid AND x.vec_id < y.vec_id
      JOIN unit ux ON ux.vec_id = x.vec_id
      JOIN unit uy ON uy.vec_id = y.vec_id)
    WHERE cos >= 0.4
    """,
)
def q_semantic_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): near-duplicate pairs by cosine
    WITHIN k-means clusters — candidate generation is an equi-join on
    the cluster id, never all-pairs; vectors are L2-normalized per row
    so per-pair work is one dot product. The oracle replays the full
    pipeline (both k-means rounds + normalize + dot) with bit-identical
    left folds, so the >= tau threshold cannot flip between engines."""
    from polars_text_spark.operators.semdedup import semantic_dup_pairs

    vecs = _tbl(spark, sf_dir, "embeddings")
    return semantic_dup_pairs(
        vecs, "embedding", "vec_id", k=8, iterations=2, tau=0.4, decimals=6
    )


@query(
    "quality_classifier",
    f"""
    WITH t AS (
      SELECT doc_id,
             CASE WHEN text IS NULL THEN CAST([] AS VARCHAR[])
                  ELSE {_SQL_WS_TOKS}
             END AS tk
      FROM documents),
    z AS (
      SELECT doc_id, len(tk) AS n,
             CASE WHEN len(tk) > 0 THEN
               list_reduce(list_transform(tk, t ->
                 (('0x' || substr(sha256('w:' || CAST(
                     ('0x' || substr(sha256('b:' || t), 1, 15))::BIGINT
                       % 4096 AS VARCHAR)), 1, 15))::BIGINT % 2000001)
                 / 1000000.0 - 1.0),
                 (a, b) -> a + b) / CAST(len(tk) AS DOUBLE)
             ELSE 0.0 END AS m
      FROM t)
    SELECT doc_id, round(m, 6) AS margin,
           (n > 0 AND m >= 0.0) AS keep
    FROM z
    """,
)
def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering (the fastText-classifier step of
    CCNet/LLaMA-class pipelines): hashing-trick linear scorer, map-only
    whole-stage-codegen, weights broadcast as a literal array. Runs the
    deterministic sha-derived stand-in weights so DuckDB re-derives
    every bucket weight and the exact fold margin; a trained weight
    vector drops into the same plan via ``weights=``."""
    from polars_text_spark.functions.analysis import hashed_classifier_score

    docs = _docs(spark, sf_dir)
    return docs.select(
        "doc_id",
        hashed_classifier_score("text").alias("__qc"),
    ).select(
        "doc_id",
        F.col("__qc.margin").alias("margin"),
        F.col("__qc.keep").alias("keep"),
    )


@query(
    "dup_span_coverage",
    f"""
    WITH t AS (
      SELECT doc_id, {_SQL_WS_TOKS} AS tk
      FROM documents WHERE text IS NOT NULL),
    base AS (
      SELECT doc_id, len(tk) AS n_tokens,
             greatest(len(tk) - 4, 0) AS n_grams, tk
      FROM t),
    pos AS (
      SELECT doc_id, unnest(generate_series(1, len(tk) - 4)) AS i, tk
      FROM base WHERE n_tokens >= 5),
    g AS (
      SELECT doc_id, i - 1 AS start,
             ('0x' || substr(sha256(array_to_string(tk[i:i+4], ' ')),
                             1, 15))::BIGINT AS gh
      FROM pos),
    dupset AS (SELECT gh FROM g GROUP BY gh HAVING count(*) >= 2),
    d AS (SELECT g.doc_id, g.start FROM g JOIN dupset USING (gh)),
    cov AS (
      SELECT doc_id, start,
             greatest(0, (start + 5) - greatest(start,
               coalesce(max(start + 5) OVER (PARTITION BY doc_id
                          ORDER BY start
                          ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND 1 PRECEDING), 0))) AS add
      FROM d),
    agg AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup_grams,
             CAST(sum(add) AS BIGINT) AS dup_tokens
      FROM cov GROUP BY doc_id)
    SELECT b.doc_id,
           CAST(b.n_tokens AS BIGINT) AS n_tokens,
           CAST(b.n_grams AS BIGINT)  AS n_grams,
           CAST(coalesce(a.n_dup_grams, 0) AS BIGINT) AS n_dup_grams,
           CAST(coalesce(a.dup_tokens, 0) AS BIGINT)  AS dup_tokens,
           round(CASE WHEN b.n_tokens > 0
                      THEN coalesce(a.dup_tokens, 0) * 1.0 / b.n_tokens
                      ELSE 0.0 END, 6) AS dup_frac
    FROM base b LEFT JOIN agg a USING (doc_id)
    """,
)
def q_dup_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated n-gram SPAN coverage (Lee et al. 2022 family): per
    doc, the fraction of tokens inside at least one corpus-duplicated
    5-gram, with overlapping grams merged into spans. The oracle
    re-derives every sha-prefix gram hash, the corpus frequency table,
    and the same sorted-interval sweep. Only (id, start, hash) longs
    shuffle — text never does."""
    from polars_text_spark.operators.spans import dup_ngram_coverage

    docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    return dup_ngram_coverage(docs, "text", "doc_id", n=5, min_df=2)


@query(
    "gopher_filter",
    f"""
    WITH t AS (
      SELECT doc_id,
             CASE WHEN text IS NULL THEN CAST([] AS VARCHAR[])
                  ELSE {_SQL_WS_TOKS}
             END AS tk
      FROM documents),
    m AS (
      SELECT doc_id, len(tk) AS n,
             CASE WHEN len(tk) > 0 THEN
               list_reduce(list_transform(tk,
                   t -> CAST(length(t) AS BIGINT)), (a, b) -> a + b)
               * 1.0 / len(tk) END AS mean_len,
             CASE WHEN len(tk) > 0 THEN
               len(list_filter(tk, t -> regexp_matches(t, '[a-z]')))
               * 1.0 / len(tk) END AS alpha_frac,
             len(list_filter(tk, t -> t IN ('the','a','of','and','to',
                                            'in','is','it','that','was')))
               AS stop_hits
      FROM t)
    SELECT doc_id,
           coalesce(n >= 10 AND n <= 100000, FALSE)      AS rule_token_count,
           coalesce(mean_len >= 2.0 AND mean_len <= 12.0,
                    FALSE)                               AS rule_mean_word_len,
           coalesce(alpha_frac >= 0.8, FALSE)            AS rule_alpha_words,
           coalesce(stop_hits >= 2, FALSE)               AS rule_stopwords,
           coalesce(n >= 10 AND n <= 100000, FALSE)
             AND coalesce(mean_len >= 2.0 AND mean_len <= 12.0, FALSE)
             AND coalesce(alpha_frac >= 0.8, FALSE)
             AND coalesce(stop_hits >= 2, FALSE)         AS keep
    FROM m
    """,
)
def q_gopher_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule-tagger filtering (the Gopher/Dolma taggers pattern): every
    heuristic is a named boolean TAG column and keep is their AND, so
    rejected docs stay inspectable. The whole battery is one map-only
    codegen projection with the token array staged once; the oracle
    re-derives every tag and the verdict."""
    from polars_text_spark.operators.filters import with_gopher_tags

    docs = _docs(spark, sf_dir)
    return with_gopher_tags(docs, "text").select(
        "doc_id",
        "rule_token_count",
        "rule_mean_word_len",
        "rule_alpha_words",
        "rule_stopwords",
        "keep",
    )


@query(
    "strip_duplicate_spans",
    f"""
    WITH t AS (
      SELECT doc_id, {_SQL_WS_TOKS} AS tk
      FROM documents WHERE text IS NOT NULL),
    pos AS (
      SELECT doc_id, unnest(generate_series(1, len(tk) - 4)) AS i, tk
      FROM t WHERE len(tk) >= 5),
    g AS (
      SELECT doc_id, i - 1 AS start,
             ('0x' || substr(sha256(array_to_string(tk[i:i+4], ' ')),
                             1, 15))::BIGINT AS gh
      FROM pos),
    dupset AS (SELECT gh FROM g GROUP BY gh HAVING count(*) >= 2),
    d AS (SELECT g.doc_id, g.start FROM g JOIN dupset USING (gh)),
    covered AS (
      SELECT DISTINCT doc_id, p FROM (
        SELECT doc_id, unnest(generate_series(start, start + 4)) AS p
        FROM d)),
    tokpos AS (
      SELECT doc_id, unnest(generate_series(1, len(tk))) AS i, tk FROM t),
    tp AS (SELECT doc_id, i - 1 AS p, tk[i] AS tok FROM tokpos),
    kept AS (
      SELECT tp.doc_id, tp.p, tp.tok
      FROM tp LEFT JOIN covered c ON c.doc_id = tp.doc_id AND c.p = tp.p
      WHERE c.p IS NULL)
    SELECT d0.doc_id,
           coalesce(string_agg(k.tok, ' ' ORDER BY k.p), '') AS text
    FROM (SELECT doc_id FROM documents WHERE text IS NOT NULL) d0
    LEFT JOIN kept k USING (doc_id)
    GROUP BY d0.doc_id
    """,
)
def q_strip_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact-substring-dedup REMOVAL step (Lee et al. 2022):
    rebuild every doc with all tokens covered by a corpus-duplicated
    5-gram dropped — every occurrence, unlike the keep-first paragraph
    strip. The oracle re-derives gram hashes, the duplicated set, the
    coverage expansion and the ordered rebuild, hash-matching the full
    output text of all 500 docs."""
    from polars_text_spark.operators.spans import strip_duplicate_spans

    docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    return strip_duplicate_spans(docs, "text", "doc_id", n=5, min_df=2)


# ---------------------------------------------------------------------------
# Flagship (driver smoke): per-language document profile.
# ---------------------------------------------------------------------------


def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "lang", F.explode(tokenize("text", model=NATIVE_MODEL)).alias("t")
    )
    token_stats = toks.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.countDistinct(F.col("t.token")).alias("n_distinct_tokens"),
    )
    profile = (
        docs.select("lang", word_count("text"), char_count("text"), quality_score("text"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("word_count").alias("sum_words"),
            F.sum("char_count").alias("sum_chars"),
            F.round(F.avg("quality_score"), 6).alias("avg_quality"),
        )
    )
    return profile.join(token_stats, "lang", "left").orderBy("lang")


# ---------------------------------------------------------------------------
# Round 7: deterministic IVF, cache-through-driver, chunking oracle.
# ---------------------------------------------------------------------------


@query(
    "similarity_topk_ivf_sha",
    f"""
    WITH {_SQL_KMEANS_CTE},
    {_SQL_UNIT_CTE},
    pd AS (
      SELECT q.vec_id AS query_id, c.cid,
             list_reduce(list_transform(generate_series(1, len(q.v)),
                  i -> (q.v[i] - c.c[i]) * (q.v[i] - c.c[i])),
                  (a, b) -> a + b) AS d
      FROM (SELECT vec_id, v FROM e WHERE vec_id < 5) q CROSS JOIN c1 c),
    probe AS (
      SELECT query_id, cid FROM (
        SELECT query_id, cid, row_number() OVER (
                 PARTITION BY query_id ORDER BY d, cid) AS pr
        FROM pd)
      WHERE pr <= 3),
    cand AS (
      SELECT p.query_id, a.vec_id AS neighbor_id
      FROM probe p JOIN a1 a ON a.cid = p.cid
      WHERE a.vec_id <> p.query_id),
    {_SQL_SCORED_CTE}
    {_SQL_TOP10}
    """,
)
def q_similarity_topk_ivf_sha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN whose EVERY stage the oracle re-derives: the codebook is
    the oracle-checked deterministic k-means (both Lloyd rounds replayed
    in SQL), vector list assignment is that k-means' own assignment,
    query probes are the nprobe nearest final centroids (distance ties
    to the smaller list id), and the candidate re-rank is the exact
    normalized dot — candidate membership AND final top-k hash-match,
    closing the "ANN is rows-only by nature" gap for the IVF family
    (the xxhash-seeded LSH variant stays irreducibly rows-only)."""
    from polars_text_spark.operators.similarity import cosine_topk_ivf_kmeans

    vecs = _tbl(spark, sf_dir, "embeddings")
    out = cosine_topk_ivf_kmeans(
        vecs,
        vecs.filter(F.col("vec_id") < 5),
        k=10,
        n_lists=8,
        nprobe=3,
        iterations=2,
        decimals=6,
    )
    return out.select(
        "query_id",
        "neighbor_id",
        F.round("cosine", 6).alias("cosine"),
        F.col("rank").cast("int").alias("rank"),
    )


@query("tokenize_cached", ORACLES["tokenize_offsets"])
def q_tokenize_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The content-addressed cache layer driven through the driver's
    hash gate (mirrors reference tests/test_tokenize_cache.py:22-34):
    a COLD pass populates the parquet cache scope (distinct-text miss
    dedup, then append), a WARM pass finds zero misses and serves every
    token list from the cache parquet — and the warm output must equal
    the uncached ``tokenize_offsets`` result exactly (same oracle SQL).
    A stale/corrupt/incomplete cache round-trip fails the value hash,
    not just a pytest invariant."""
    import atexit
    import shutil
    import tempfile

    from polars_text_spark.operators.cache import tokenize_cached

    # Unique per invocation: a fixed path would race a concurrent
    # bench/driver run (one process rmtree-ing between another's cold
    # write and warm read) and collide across users on a shared host.
    # Deletion is deferred to exit because the returned frame reads the
    # cache parquet lazily, at the driver's collect.
    cache_path = tempfile.mkdtemp(prefix="ptx_tokcache_")
    atexit.register(shutil.rmtree, cache_path, True)
    docs = _docs(spark, sf_dir)
    # cold: computes every distinct text once, writes the cache scope
    tokenize_cached(
        docs, "text", model=NATIVE_MODEL, cache_path=cache_path,
        output_col="toks",
    )
    # warm: zero misses; token lists come back from the parquet cache
    warm = tokenize_cached(
        docs, "text", model=NATIVE_MODEL, cache_path=cache_path,
        output_col="toks",
    )
    toks = warm.select("doc_id", F.explode("toks").alias("t"))
    return toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.countDistinct(F.col("t.token")).alias("n_distinct"),
    )


@query(
    "topic_chunks",
    """
    WITH t AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(text, '\\s+'),
                         x -> x <> '') AS tk
      FROM documents WHERE text IS NOT NULL)
    SELECT doc_id,
           CAST(len(tk) AS BIGINT) AS n_tokens,
           sha256(array_to_string(tk, ' ')) AS tokens_sha,
           TRUE AS bound_ok,
           TRUE AS contiguous_ok
    FROM t WHERE len(tk) > 0
    """,
)
def q_topic_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The greedy chunking stage of the topic pipeline (reference
    chunking.rs:238-281) under the driver's hash — via its checkable
    INVARIANTS, labeled as such (a full greedy replay needs recursion
    over the unit ladder, beyond a practical SQL twin):

    - coverage: with overlap=0 the packer must preserve the document's
      whitespace-token stream exactly, so ``tokens_sha`` (sha256 of the
      space-joined token stream rebuilt from all chunks in index order)
      must equal the oracle's sha of the doc's own token stream;
    - totals: ``n_tokens`` (sum of per-chunk counts) == doc token count;
    - bound: every chunk's packed count <= max_tokens (Spark computes
      the boolean; the oracle pins it TRUE);
    - contiguity: chunk_index runs 0..n-1 per doc (same).

    Chunk COUNTS per doc are packing-dependent and not SQL-derivable;
    they are covered by tests/test_topic_modeling.py."""
    from polars_text_spark.operators.topic_modeling.chunking import chunk_rows

    docs = _docs(spark, sf_dir)
    ch = chunk_rows(docs, "text", "doc_id", max_tokens=32, overlap=0)
    rebuilt = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct("chunk_index", "chunk"))),
            lambda s: s.getField("chunk"),
        ),
        " ",
    )
    toks = F.filter(F.split(rebuilt, r"\s+"), lambda x: x != "")
    return ch.groupBy("doc_id").agg(
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.sha2(F.array_join(toks, " "), 256).alias("tokens_sha"),
        (F.max("n_tokens") <= F.lit(32)).alias("bound_ok"),
        (
            (F.min("chunk_index") == 0)
            & (F.max("chunk_index") == F.count(F.lit(1)) - 1)
        ).alias("contiguous_ok"),
    )


# ---------------------------------------------------------------------------
# Round 7: deterministic splitting / leakage audit / sharding.
# ---------------------------------------------------------------------------

# Cumulative hex thresholds for the 0.1/0.1/0.8 split, derived with the
# SAME formula as operators/splits.py so query and oracle cannot drift.
_SPLIT_T1 = format(min(int(0.1 * 16 ** 8), 16 ** 8 - 1), "08x")
_SPLIT_T2 = format(min(int(0.2 * 16 ** 8), 16 ** 8 - 1), "08x")
_SQL_SPLIT_CASE = f"""
    CASE WHEN substr(sha256(CAST(doc_id AS VARCHAR)), 1, 8) < '{_SPLIT_T1}'
           THEN 'val'
         WHEN substr(sha256(CAST(doc_id AS VARCHAR)), 1, 8) < '{_SPLIT_T2}'
           THEN 'test'
         ELSE 'train' END
"""


@query(
    "train_val_split",
    f"""
    SELECT doc_id, {_SQL_SPLIT_CASE} AS split
    FROM documents
    """,
)
def q_train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-keyed train/val/test assignment: a row's split depends
    only on sha256(doc_id), so reruns, backfills and the DuckDB oracle
    agree row-for-row (no Spark-internal RNG). Map-only CASE over
    cumulative hash intervals; the last label (train) absorbs the
    rounding residue. The group-keyed variant (whole domains move
    together) is exercised in tests/test_splits.py."""
    from polars_text_spark.operators.splits import assign_splits

    docs = _docs(spark, sf_dir, wide=False)
    out = assign_splits(
        docs, "doc_id", {"val": 0.1, "test": 0.1, "train": 0.8}
    )
    return out.select("doc_id", "split")


@query(
    "split_leakage_audit",
    f"""
    {_SQL_DUP_FAMILIES},
    s AS (
      SELECT doc_id, {_SQL_SPLIT_CASE} AS split
      FROM documents WHERE text IS NOT NULL),
    lab AS (
      SELECT s.doc_id, s.split,
             coalesce(c.component, s.doc_id) AS component
      FROM s LEFT JOIN comp c USING (doc_id)),
    fam AS (
      SELECT component,
             max(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS has_train
      FROM lab GROUP BY component)
    SELECT l.doc_id, l.component, l.split, fam.has_train = 1 AS contaminated
    FROM lab l JOIN fam USING (component)
    WHERE l.split <> 'train'
    """,
)
def q_split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate LEAKAGE audit of the split: non-train rows whose
    duplicate family (connected components over exact-Jaccard pairs)
    contains a train member — the eval rows a benchmark must re-draw.
    The n-gram decontamination twin (`decontaminate_ngrams`) catches
    passage overlap; this catches whole-document near-dups that
    straddle the split. Oracle replays the closure (recursive CTE),
    the split CASE and the per-family train flag."""
    from polars_text_spark.operators.dedup import ngram_jaccard_pairs
    from polars_text_spark.operators.splits import assign_splits, split_leakage

    docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    with_split = assign_splits(
        docs, "doc_id", {"val": 0.1, "test": 0.1, "train": 0.8}
    )
    pairs = ngram_jaccard_pairs(
        docs, "text", "doc_id", block_cols=("source", "lang"), threshold=0.01
    )
    return split_leakage(
        with_split, pairs.select("id_a", "id_b"), "doc_id", "split"
    )


@query(
    "shard_manifest",
    """
    WITH h AS (SELECT doc_id, sha256(CAST(doc_id AS VARCHAR)) AS hh
               FROM documents)
    SELECT doc_id,
           CAST(('0x' || substr(hh, 1, 8))::BIGINT % 8 AS INT) AS shard,
           CAST(row_number() OVER (
                  PARTITION BY ('0x' || substr(hh, 1, 8))::BIGINT % 8
                  ORDER BY hh, doc_id) - 1 AS BIGINT) AS shard_pos
    FROM h
    """,
)
def q_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle + shard assignment for training
    output: shard = hash mod 8, within-shard order = the full hash —
    a reproducible pseudo-random read order with no RNG state. One
    shuffle on the shard id; at 100 TB this feeds
    repartition(n, "shard") + sortWithinPartitions + partitioned
    write, one shard streamed per executor."""
    from polars_text_spark.operators.splits import shard_assignment

    docs = _docs(spark, sf_dir, wide=False)
    return shard_assignment(docs, "doc_id", n_shards=8)


# ---------------------------------------------------------------------------
# Round 7: curation caps, keyword extraction, sketch calibration.
# ---------------------------------------------------------------------------


@query(
    "domain_cap",
    """
    SELECT doc_id, source FROM (
      SELECT doc_id, source, row_number() OVER (
               PARTITION BY source
               ORDER BY sha256(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      FROM documents)
    WHERE rn <= 30
    """,
)
def q_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain frequency cap (no host may dominate the corpus):
    keep at most 30 docs per source, chosen by content-keyed
    pseudo-random rank — reruns and the oracle agree row-for-row, no
    engine RNG. One shuffle keyed by source."""
    from polars_text_spark.operators.sampling import cap_per_group

    docs = _docs(spark, sf_dir, wide=False)
    return cap_per_group(docs, "source", "doc_id", max_rows=30).select(
        "doc_id", "source"
    )


@query(
    "tfidf_keywords",
    """
    WITH t AS (
      SELECT doc_id,
             unnest(CASE WHEN trim(lower(text)) = ''
                         THEN CAST([] AS VARCHAR[])
                         ELSE regexp_split_to_array(trim(lower(text)),
                                                    '\\s+') END) AS term
      FROM documents WHERE text IS NOT NULL),
    tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
           FROM t GROUP BY doc_id, term),
    dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df
            FROM tf GROUP BY term),
    n AS (SELECT CAST(count(*) AS DOUBLE) AS nn
          FROM documents WHERE text IS NOT NULL),
    sc AS (SELECT tf.doc_id, tf.term, tf.tf, dfq.df,
                  round(tf.tf * (ln((nn + 1.0) / (dfq.df + 1.0)) + 1.0),
                        6) AS tfidf
           FROM tf JOIN dfq USING (term), n)
    SELECT doc_id, term, tf, df, tfidf, CAST(rn AS INT) AS rank
    FROM (SELECT *, row_number() OVER (
            PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rn
          FROM sc)
    WHERE rn <= 5
    """,
)
def q_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keyword extraction: top-5 terms by smoothed
    TF-IDF (sklearn smooth-idf), ranked on the ROUNDED score so a
    last-ulp ln() difference between engines cannot flip the order.
    Explode -> combiner-heavy (doc, term) counts; vocabulary-sized df
    aggregate; 1-row N broadcast; per-doc top-k window. No UDFs."""
    from polars_text_spark.operators.search import tfidf_keywords

    docs = _docs(spark, sf_dir)
    return tfidf_keywords(docs, "text", "doc_id", k=5)


@query(
    "source_cardinality",
    f"""
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT sha256({_SQL_CLEAN})) AS BIGINT)
             AS n_distinct,
           TRUE AS sketch_ok
    FROM documents WHERE text IS NOT NULL
    GROUP BY source
    """,
)
def q_source_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-content cardinality per source with a sketch-accuracy
    audit: the exact distinct count is oracle-checked, and
    ``sketch_ok`` pins the HyperLogLog++ estimate (rsd=0.02) within
    10% of it — the calibration a 100 TB dedup-rate dashboard runs
    per-shard before trusting the one-pass mergeable sketch instead
    of an exact-distinct shuffle."""
    from polars_text_spark.operators.quality import cardinality_report

    docs = _docs(spark, sf_dir, wide=False).filter(F.col("text").isNotNull())
    return cardinality_report(
        docs, "source", doc_fingerprint("text"), rsd=0.02, rel_err_bound=0.1
    )


# ---------------------------------------------------------------------------
# Corpus-linguistics analysis (operators/linguistics.py): n-grams,
# collocations, Gries dispersion — the AntConc-family tools rounding out
# the reference's concordance/frequency surface.
# ---------------------------------------------------------------------------

@query(
    "ngram_trigrams",
    f"""
    WITH toks AS (
      SELECT {_SQL_WS_TOKS} AS t
      FROM documents WHERE text IS NOT NULL),
    grams AS (
      SELECT array_to_string(list_slice(t, i, i + 2), ' ') AS ngram
      FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)
      WHERE len(t) >= 3)
    SELECT ngram, CAST(count(*) AS BIGINT) AS count
    FROM grams GROUP BY ngram HAVING count(*) >= 2
    """,
)
def q_ngram_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus trigram frequency table (min_count=2). Gram construction
    is map-only (slice over the token array — no positional self-join);
    the single shuffle is the count groupBy with map-side combine."""
    from polars_text_spark.operators.linguistics import ngram_counts

    return ngram_counts(_docs(spark, sf_dir), "text", n=3, min_count=2)


@query(
    "collocations_pmi",
    f"""
    WITH toks AS (
      SELECT {_SQL_WS_TOKS} AS t
      FROM documents WHERE text IS NOT NULL),
    pairs AS (
      SELECT t[i] AS a, t[i + d] AS b
      FROM toks,
           UNNEST(range(1, len(t) + 1)) AS u(i),
           UNNEST(range(1, 4)) AS v(d)
      WHERE i + d <= len(t)),
    pc AS (SELECT a, b, CAST(count(*) AS BIGINT) AS pair_count
           FROM pairs GROUP BY a, b),
    uc AS (SELECT unnest(t) AS token FROM toks),
    ucc AS (SELECT token, CAST(count(*) AS BIGINT) AS c
            FROM uc GROUP BY token),
    tot AS (SELECT (SELECT CAST(sum(pair_count) AS DOUBLE) FROM pc) AS m,
                   (SELECT CAST(sum(c) AS DOUBLE) FROM ucc) AS n)
    SELECT p.a, p.b, p.pair_count,
           ua.c AS count_a, ub.c AS count_b,
           round(log2((CAST(p.pair_count AS DOUBLE) / m)
                      / ((CAST(ua.c AS DOUBLE) / n)
                         * (CAST(ub.c AS DOUBLE) / n))), 6) AS pmi,
           round(14.0 + log2(2.0 * CAST(p.pair_count AS DOUBLE)
                             / (CAST(ua.c AS DOUBLE)
                                + CAST(ub.c AS DOUBLE))), 6) AS log_dice
    FROM pc p
    JOIN ucc ua ON ua.token = p.a
    JOIN ucc ub ON ub.token = p.b, tot
    WHERE p.pair_count >= 5
    """,
)
def q_collocations_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed collocation pairs (window=3, min pair count 5) scored
    with PMI + logDice, both rounded to 6 dp for engine stability. Pair
    generation is map-only slice/zip arrays — the oracle's positional
    cross-unnest replays it exactly; shuffles are the two count
    groupBys, marginals joined via broadcast vocabulary."""
    from polars_text_spark.operators.linguistics import collocations

    return collocations(_docs(spark, sf_dir), "text", window=3, min_pair_count=5)


@query(
    "token_dispersion",
    f"""
    WITH toks AS (
      SELECT source, {_SQL_WS_TOKS} AS t
      FROM documents WHERE text IS NOT NULL),
    tp AS (SELECT source AS part, unnest(t) AS token FROM toks),
    tpc AS (SELECT token, part, CAST(count(*) AS BIGINT) AS tp
            FROM tp GROUP BY token, part),
    pt AS (SELECT part, sum(tp) AS part_total FROM tpc GROUP BY part),
    nt AS (SELECT CAST(sum(part_total) AS DOUBLE) AS n FROM pt),
    ms AS (SELECT min(CAST(part_total AS DOUBLE) / n) AS min_s
           FROM pt, nt),
    enr AS (SELECT token, tp,
                   CAST(part_total AS DOUBLE) / n AS s_i
            FROM tpc JOIN pt USING (part), nt),
    per AS (SELECT token, CAST(sum(tp) AS BIGINT) AS freq,
                   CAST(count(*) AS BIGINT) AS range_parts,
                   sum(s_i) AS present_share
            FROM enr GROUP BY token),
    dev AS (SELECT e.token,
                   sum(abs(CAST(e.tp AS DOUBLE)
                           / CAST(p.freq AS DOUBLE) - e.s_i))
                     AS present_dev
            FROM enr e JOIN per p USING (token) GROUP BY e.token)
    SELECT p.token, p.freq, p.range_parts,
           round(0.5 * (d.present_dev + (1.0 - p.present_share)), 6) AS dp,
           round(0.5 * (d.present_dev + (1.0 - p.present_share))
                 / (1.0 - ms.min_s), 6) AS dp_norm
    FROM per p JOIN dev d USING (token), ms
    WHERE p.freq >= 5
    """,
)
def q_token_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gries' DP / DP_norm dispersion across `source` parts (freq>=5).
    The (token x part) matrix is never densified: absent-part mass is
    1 - sum(present shares), closed-form from the sparse counts."""
    from polars_text_spark.operators.linguistics import dispersion

    return dispersion(_docs(spark, sf_dir), "source", "text", min_count=5)


# ---------------------------------------------------------------------------
# Character-level quality stats, CMS heavy-hitters audit, near-dup
# provenance matrix (round-7 batch 2).
# ---------------------------------------------------------------------------


@query(
    "char_quality_stats",
    """
    WITH base AS (
      SELECT doc_id, text, length(text) AS n
      FROM documents WHERE text IS NOT NULL),
    ch AS (
      SELECT doc_id, n,
             unnest(list_transform(range(1, n + 1), i -> text[i])) AS c
      FROM base WHERE n > 0),
    cc AS (SELECT doc_id, n, c, count(*) AS cnt
           FROM ch GROUP BY doc_id, n, c),
    ent AS (SELECT doc_id,
                   0.0 - list_sum(list_transform(
                     list(cnt ORDER BY c),
                     x -> (CAST(x AS DOUBLE) / n)
                          * log2(CAST(x AS DOUBLE) / n))) AS e
            FROM cc GROUP BY doc_id, n)
    SELECT b.doc_id,
           CAST(b.n AS BIGINT) AS n_chars,
           round(COALESCE(ent.e, 0.0), 6) AS char_entropy,
           round(CASE WHEN b.n = 0 THEN 0.0 ELSE
             length(regexp_replace(b.text, '[^0-9]', '', 'g'))
               * 1.0 / b.n END, 6) AS digit_ratio,
           round(CASE WHEN b.n = 0 THEN 0.0 ELSE
             length(regexp_replace(b.text, '[^A-Z]', '', 'g'))
               * 1.0 / b.n END, 6) AS upper_ratio,
           round(CASE WHEN b.n = 0 THEN 0.0 ELSE
             length(regexp_replace(b.text, '[^\\s]', '', 'g'))
               * 1.0 / b.n END, 6) AS space_ratio
    FROM base b LEFT JOIN ent ON b.doc_id = ent.doc_id
    """,
)
def q_char_quality_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc character entropy + ASCII class ratios — the
    byte/char-level quality battery (base64 blobs, mash spam, shouting
    and whitespace-padding all separate from prose here). Entropy is a
    zero-shuffle Arrow-batched UDF with a canonical ascending-char
    accumulation so the oracle's ordered list_sum replays it bit for
    bit; ratios are pure-Catalyst divisions."""
    from polars_text_spark.functions.analysis import (
        char_class_ratios,
        char_entropy,
    )

    docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    r = char_class_ratios("text")
    return docs.select(
        "doc_id",
        r["n_chars"].alias("n_chars"),
        F.round(char_entropy("text"), 6).alias("char_entropy"),
        F.round(r["digit_ratio"], 6).alias("digit_ratio"),
        F.round(r["upper_ratio"], 6).alias("upper_ratio"),
        F.round(r["space_ratio"], 6).alias("space_ratio"),
    )


@query(
    "heavy_hitters",
    f"""
    WITH toks AS (
      SELECT unnest({_SQL_WS_TOKS}) AS token
      FROM documents WHERE text IS NOT NULL),
    cnt AS (SELECT token, CAST(count(*) AS BIGINT) AS exact_count
            FROM toks GROUP BY token),
    buck AS (
      SELECT j,
             ('0x' || substr(sha256(CAST(j AS VARCHAR) || ':' || token),
                             1, 15))::BIGINT % 256 AS b,
             sum(exact_count) AS bucket_sum
      FROM cnt, UNNEST(range(0, 4)) AS d(j)
      GROUP BY 1, 2),
    topk AS (
      SELECT token, exact_count,
             CAST(row_number() OVER (ORDER BY exact_count DESC, token)
                  AS INT) AS rank
      FROM cnt QUALIFY rank <= 20),
    probes AS (
      SELECT t.token, t.exact_count, t.rank, j,
             ('0x' || substr(sha256(CAST(j AS VARCHAR) || ':' || t.token),
                             1, 15))::BIGINT % 256 AS b
      FROM topk t, UNNEST(range(0, 4)) AS d(j))
    SELECT p.token, p.exact_count,
           CAST(min(bk.bucket_sum) AS BIGINT) AS cms_est, p.rank
    FROM probes p JOIN buck bk ON bk.j = p.j AND bk.b = p.b
    GROUP BY p.token, p.exact_count, p.rank
    """,
)
def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 tokens with a value-verified count-min-sketch audit
    (depth 4 x width 256, sha-prefix row hashes): the oracle re-derives
    every CMS counter AND estimate — the frequency-sketch companion to
    source_cardinality's HLL audit."""
    from polars_text_spark.operators.quality import heavy_hitters_audit

    return heavy_hitters_audit(
        _docs(spark, sf_dir), "text", k=20, depth=4, width=256
    )


@query(
    "near_dup_sources",
    f"""
    WITH sh AS ({_SQL_SH_CTE}),
    p AS ({_sql_jaccard_pairs(
        0.9, jaccard="raw",
        cols="coalesce(a.source, '<null>') AS sa, "
             "coalesce(b.source, '<null>') AS sb")})
    SELECT least(sa, sb) AS source_a, greatest(sa, sb) AS source_b,
           CAST(count(*) AS BIGINT) AS pair_count,
           round(min(j), 6) AS min_jaccard,
           round(max(j), 6) AS max_jaccard
    FROM p GROUP BY 1, 2
    """,
)
def q_near_dup_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAR-dup provenance matrix: per source-pair counts of
    MinHash+LSH near-dup pairs (j >= 0.9, where banded LSH recall is
    1-4e-8 so the full-pairwise oracle matches exactly) with
    summation-order-independent min/max jaccard extremes."""
    from polars_text_spark.operators.dedup import near_dup_source_matrix

    docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    return near_dup_source_matrix(
        docs, "text", "doc_id", "source", jaccard_threshold=0.9
    )


# ---------------------------------------------------------------------------
# Readability, KWIC dispersion plot, snapshot diff, prefix boilerplate
# (round-7 batch 3).
# ---------------------------------------------------------------------------


@query(
    "readability_scores",
    f"""
    WITH base AS (
      SELECT doc_id, text, {_SQL_WS_TOKS} AS t
      FROM documents WHERE text IS NOT NULL),
    agg AS (
      SELECT doc_id,
             len(t) AS n_words,
             {_SQL_SENTENCE_COUNT} AS n_sentences,
             COALESCE(list_sum(list_transform(t,
               w -> greatest(1,
                 len(regexp_split_to_array(w, '[aeiouy]+')) - 1))), 0)
               AS n_syllables
      FROM base)
    SELECT doc_id,
           CAST(n_words AS BIGINT) AS n_words,
           CAST(n_sentences AS BIGINT) AS n_sentences,
           CAST(n_syllables AS BIGINT) AS n_syllables,
           CASE WHEN n_words > 0 AND n_sentences > 0 THEN
             round(206.835
                   - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
                   - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words), 6)
           END AS flesch,
           CASE WHEN n_words > 0 AND n_sentences > 0 THEN
             round(0.39 * (CAST(n_words AS DOUBLE) / n_sentences)
                   + 11.8 * (CAST(n_syllables AS DOUBLE) / n_words)
                   - 15.59, 6)
           END AS fk_grade
    FROM agg
    """,
)
def q_readability_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch Reading Ease + FK grade per document — vowel-group
    syllable heuristic, pure-Catalyst map-only; the oracle replays the
    identical operation order so values match bit for bit."""
    from polars_text_spark.functions.analysis import readability

    docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    r = readability("text")
    return docs.select(
        "doc_id",
        r["n_words"].alias("n_words"),
        r["n_sentences"].alias("n_sentences"),
        r["n_syllables"].alias("n_syllables"),
        F.round(r["flesch"], 6).alias("flesch"),
        F.round(r["fk_grade"], 6).alias("fk_grade"),
    )


@query(
    "kwic_term_plot",
    f"""
    WITH toks AS (
      SELECT doc_id, {_SQL_WS_TOKS} AS t
      FROM documents WHERE text IS NOT NULL),
    pos AS (
      SELECT doc_id, i - 1 AS pos, len(t) AS n, t[i] AS tok
      FROM toks, UNNEST(range(1, len(t) + 1)) AS u(i))
    SELECT doc_id, CAST((pos * 10) // n AS INT) AS bin,
           CAST(count(*) AS BIGINT) AS hits
    FROM pos WHERE tok = 'the' GROUP BY doc_id, bin
    """,
)
def q_kwic_term_plot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dispersion-plot bins for the term 'the' (AntConc Plot tool):
    0-based token offsets normalized into 10 bins with pure integer
    arithmetic. posexplode + filter + one groupBy; no joins."""
    from polars_text_spark.operators.linguistics import term_dispersion_bins

    return term_dispersion_bins(
        _docs(spark, sf_dir), "the", "text", "doc_id", bins=10
    )


@query(
    "corpus_snapshot_diff",
    f"""
    WITH old AS (
      SELECT doc_id, sha256({_SQL_CLEAN}) AS fp
      FROM documents WHERE doc_id % 10 <> 7),
    new0 AS (
      SELECT doc_id,
             CASE WHEN doc_id % 5 = 0 THEN text || ' [rev2]'
                  ELSE text END AS text
      FROM documents WHERE doc_id % 10 <> 3),
    new AS (SELECT doc_id, sha256({_SQL_CLEAN}) AS fp FROM new0)
    SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
           CASE WHEN o.doc_id IS NULL THEN 'added'
                WHEN n.doc_id IS NULL THEN 'removed'
                WHEN o.fp IS NOT DISTINCT FROM n.fp THEN 'unchanged'
                ELSE 'modified' END AS status
    FROM old o FULL JOIN new n ON o.doc_id = n.doc_id
    """,
)
def q_corpus_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff over two deterministically-synthesized corpus
    versions (ids ≡7 mod 10 added, ≡3 removed, ≡0 mod 5 edited):
    added/removed/modified/unchanged per id via one fingerprint
    full-outer join — the incremental-ingest gate."""
    from polars_text_spark.operators.snapshots import snapshot_diff

    docs = _docs(spark, sf_dir)
    i = F.col("doc_id")
    old = docs.where(i % 10 != 7)
    new = docs.where(i % 10 != 3).withColumn(
        "text",
        F.when(i % 5 == 0, F.concat(F.col("text"), F.lit(" [rev2]"))).otherwise(
            F.col("text")
        ),
    )
    return snapshot_diff(old, new, "text", "doc_id")


@query(
    "source_prefix_boilerplate",
    f"""
    WITH t AS (
      SELECT source, {_SQL_WS_TOKS} AS toks
      FROM documents WHERE text IS NOT NULL),
    p AS (
      SELECT source,
             array_to_string(list_slice(toks, 1, 2), ' ') AS prefix
      FROM t WHERE len(toks) >= 2)
    SELECT source, prefix, CAST(count(*) AS BIGINT) AS n_docs
    FROM p GROUP BY source, prefix HAVING count(*) >= 2
    """,
)
def q_source_prefix_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Templated-opening screen: first-2-token prefixes shared by >= 2
    docs within a source — the cheap header/banner detector. Map-only
    prefix build, one count shuffle."""
    from polars_text_spark.operators.linguistics import prefix_boilerplate

    return prefix_boilerplate(
        _docs(spark, sf_dir), "source", "text", k_tokens=2, min_docs=2
    )


# ---------------------------------------------------------------------------
# Trending keys (streaming twin), n-gram novelty, length outliers,
# dup-graph degree histogram (round-7 batch 4).
# ---------------------------------------------------------------------------


@query(
    "trending_keys",
    """
    WITH c AS (
      SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS key,
             CAST(count(*) AS BIGINT) AS n_events
      FROM events WHERE props IS NOT NULL
      GROUP BY 1, 2),
    r AS (
      SELECT *, CAST(row_number() OVER (
               PARTITION BY window_start
               ORDER BY n_events DESC, key) AS INT) AS rank
      FROM c)
    SELECT window_start, key, n_events, rank FROM r WHERE rank <= 5
    """,
)
def q_trending_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending-items pipeline, batch twin: per-hour counts of the
    props.k key, top-5 per window. The count half
    (streaming.windowed_key_counts) is stream-safe with watermarked
    state; the rank half (topk_per_window) is the foreachBatch /
    serving side — stream==batch equivalence is pinned in
    tests/test_trending_stream.py."""
    from polars_text_spark.sources.catalog import load_events
    from polars_text_spark.streaming.events import (
        topk_per_window,
        windowed_key_counts,
    )

    events = load_events(spark, sf_dir).where(F.col("props").isNotNull())
    counts = windowed_key_counts(
        events, F.get_json_object("props", "$.k").cast("long"), window="1 hour"
    )
    return topk_per_window(counts, k=5)


@query(
    "doc_novelty",
    f"""
    WITH toks AS (
      SELECT doc_id, {_SQL_WS_TOKS} AS t
      FROM documents WHERE text IS NOT NULL),
    g AS (
      SELECT DISTINCT doc_id,
             array_to_string(list_slice(t, i, i + 2), ' ') AS gram
      FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)
      WHERE len(t) >= 3),
    dfq AS (SELECT gram, count(*) AS df FROM g GROUP BY gram)
    SELECT g.doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_novel,
           round(CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(count(*) AS DOUBLE), 6) AS novelty
    FROM g JOIN dfq USING (gram) GROUP BY g.doc_id
    """,
)
def q_doc_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc trigram novelty (fraction of distinct trigrams unique to
    the doc corpus-wide) — the memorization/contamination audit. Four
    Zipf-tolerant hash steps: per-doc distinct, gram df, df join-back,
    per-doc rollup."""
    from polars_text_spark.operators.quality import doc_ngram_novelty

    return doc_ngram_novelty(_docs(spark, sf_dir), "text", "doc_id", n=3)


@query(
    "length_outliers",
    """
    WITH f AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_docs,
             quantile_cont(CAST(n_chars AS DOUBLE), 0.25) AS q1,
             quantile_cont(CAST(n_chars AS DOUBLE), 0.75) AS q3
      FROM documents WHERE n_chars IS NOT NULL
      GROUP BY source),
    fe AS (
      SELECT source, n_docs, q1, q3,
             q1 - 1.5 * (q3 - q1) AS low_fence,
             q3 + 1.5 * (q3 - q1) AS high_fence
      FROM f)
    SELECT d.source, fe.n_docs,
           round(fe.q1, 6) AS q1, round(fe.q3, 6) AS q3,
           round(fe.low_fence, 6) AS low_fence,
           round(fe.high_fence, 6) AS high_fence,
           CAST(sum(CASE WHEN CAST(d.n_chars AS DOUBLE) < fe.low_fence
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
           CAST(sum(CASE WHEN CAST(d.n_chars AS DOUBLE) > fe.high_fence
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_high
    FROM documents d JOIN fe ON d.source = fe.source
    WHERE d.n_chars IS NOT NULL
    GROUP BY d.source, fe.n_docs, fe.q1, fe.q3, fe.low_fence, fe.high_fence
    """,
)
def q_length_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Tukey-fence length audit (exact quartiles, 1.5·IQR
    fences, out-of-fence counts) — the per-domain length screen."""
    from polars_text_spark.operators.quality import length_outlier_report

    docs = _docs(spark, sf_dir).where(F.col("n_chars").isNotNull())
    return length_outlier_report(docs, "source", "n_chars", iqr_factor=1.5)


@query(
    "dup_degree_hist",
    f"""
    WITH sh AS ({_SQL_SH_CTE}),
    p AS ({_sql_jaccard_pairs(0.9, jaccard=None)}),
    ends AS (SELECT id_a AS id FROM p UNION ALL SELECT id_b FROM p),
    deg AS (SELECT id, CAST(count(*) AS BIGINT) AS degree
            FROM ends GROUP BY id)
    SELECT degree, CAST(count(*) AS BIGINT) AS n_docs
    FROM deg GROUP BY degree
    """,
)
def q_dup_degree_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the j>=0.9 MinHash near-dup graph — the
    hub-vs-mirror shape audit run before choosing a dedup strategy.
    The histogram reads both id columns in one pass, so the banded
    pipeline runs once without a persisted pair frame."""
    from polars_text_spark.operators.dedup import (
        dup_degree_histogram,
        minhash_lsh_pairs,
    )

    docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    return dup_degree_histogram(
        minhash_lsh_pairs(docs, "text", "doc_id", jaccard_threshold=0.9)
    )


# ---------------------------------------------------------------------------
# Heaps'-law vocabulary growth + GK quantile sketch audit (round-7
# batch 5).
# ---------------------------------------------------------------------------


@query(
    "heaps_fit",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest({_SQL_WS_TOKS}) AS token
      FROM documents WHERE text IS NOT NULL),
    per_doc AS (SELECT doc_id, count(*) AS n_tok FROM toks GROUP BY doc_id),
    firsts AS (SELECT token, min(doc_id) AS doc_id FROM toks GROUP BY token),
    newt AS (SELECT doc_id, count(*) AS n_new FROM firsts GROUP BY doc_id),
    cum AS (
      SELECT d.doc_id,
             sum(d.n_tok) OVER (ORDER BY d.doc_id) AS cum_tokens,
             sum(COALESCE(nt.n_new, 0)) OVER (ORDER BY d.doc_id)
               AS cum_types
      FROM per_doc d LEFT JOIN newt nt USING (doc_id))
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           round(regr_slope(log2(cum_types), log2(cum_tokens)), 6) AS beta,
           round(regr_intercept(log2(cum_types), log2(cum_tokens)), 6)
             AS log2_k
    FROM cum WHERE cum_tokens > 0 AND cum_types > 0
    """,
)
def q_heaps_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary-growth fit (V(n) ~ k*n^beta) over docs in
    id order — the growth-curve companion to zipf_by_lang. Cumulative
    sums run as a TWO-PHASE bucketed cumsum (within-bucket windows +
    broadcast bucket offsets), never a global single-partition window."""
    from polars_text_spark.operators.quality import heaps_law_fit

    return heaps_law_fit(_docs(spark, sf_dir), "text", "doc_id")


@query(
    "quantile_audit",
    """
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_rows,
           round(quantile_cont(CAST(n_chars AS DOUBLE), 0.5), 6)
             AS p50_exact,
           round(quantile_cont(CAST(n_chars AS DOUBLE), 0.9), 6)
             AS p90_exact,
           TRUE AS gk_p50_ok,
           TRUE AS gk_p90_ok
    FROM documents WHERE n_chars IS NOT NULL
    GROUP BY source
    """,
)
def q_quantile_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source exact quantiles + Greenwald-Khanna percentile_approx
    rank-bound audit (the booleans are computed from real rank counts
    on the Spark side and pinned TRUE by the GK contract in the
    oracle) — the third panel of the sketch-calibration family after
    HLL (source_cardinality) and CMS (heavy_hitters)."""
    from polars_text_spark.operators.quality import quantile_sketch_audit

    docs = _docs(spark, sf_dir).where(F.col("n_chars").isNotNull())
    return quantile_sketch_audit(docs, "source", "n_chars", accuracy=1000)


# ---------------------------------------------------------------------------
# Vocabulary spelling variants (SymSpell blocking) + CUBE rollup
# (round-7 batch 6).
# ---------------------------------------------------------------------------


@query(
    "vocab_spelling",
    f"""
    WITH noisy AS (
      SELECT CASE WHEN doc_id % 13 = 0
                  THEN replace(text, 'value', 'vallue')
                  WHEN doc_id % 13 = 1
                  THEN replace(text, 'table', 'tabel')
                  ELSE text END AS text
      FROM documents WHERE text IS NOT NULL),
    v AS (
      SELECT token AS w, CAST(count(*) AS BIGINT) AS cnt
      FROM (SELECT unnest({_SQL_WS_TOKS}) AS token FROM noisy)
      GROUP BY token HAVING count(*) >= 5)
    SELECT a.w AS a, b.w AS b, a.cnt AS count_a, b.cnt AS count_b
    FROM v a JOIN v b ON a.w < b.w
    WHERE levenshtein(a.w, b.w) = 1
    """,
)
def q_vocab_spelling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance-1 spelling-variant pairs in the vocabulary
    (count >= 5) via SymSpell deletion-neighborhood blocking — one
    equi-join on the 1-delete variant key, levenshtein verification.
    OCR-style noise ('vallue' insert, 'tabel' transposition-as-2-ops is
    NOT matched — only true distance-1 pairs) is injected
    deterministically in BOTH engines; the oracle runs the naive
    all-pairs scan, so the gate doubles as an equivalence proof of the
    blocking."""
    from polars_text_spark.operators.linguistics import vocab_spelling_pairs

    docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    i = F.col("doc_id")
    noisy = docs.select(
        F.when(i % 13 == 0, F.replace(F.col("text"), F.lit("value"), F.lit("vallue")))
        .when(i % 13 == 1, F.replace(F.col("text"), F.lit("table"), F.lit("tabel")))
        .otherwise(F.col("text"))
        .alias("text")
    )
    return vocab_spelling_pairs(noisy, "text", min_count=5)


@query(
    "quality_cube",
    """
    SELECT lang, source,
           CAST(GROUPING(lang, source) AS BIGINT) AS gid,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(avg(CAST(n_chars AS DOUBLE)), 6) AS avg_chars
    FROM documents
    GROUP BY CUBE(lang, source)
    """,
)
def q_quality_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE rollup of doc counts + mean length over (lang, source) —
    the grouping-sets host-engine surface; grouping_id disambiguates
    subtotal rows (bit order verified identical across engines).
    avg over integer-valued doubles is summation-order-exact (every
    partial sum stays an integer below 2^53), so no rounding risk."""
    docs = _docs(spark, sf_dir, wide=False)
    return docs.cube("lang", "source").agg(
        F.grouping_id().cast("long").alias("gid"),
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg(F.col("n_chars").cast("double")), 6).alias("avg_chars"),
    ).select("lang", "source", "gid", "n_docs", "avg_chars")


# ---------------------------------------------------------------------------
# Language confusion matrix + embedding norm audit (round-7 batch 7).
# ---------------------------------------------------------------------------


@query(
    "language_confusion",
    f"""
    SELECT lang, {_SQL_DETECT_LANG} AS lang_detected,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM documents GROUP BY 1, 2
    """,
)
def q_language_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the labeled lang column vs the heuristic
    detector — the per-corpus calibration report for the language-ID
    quality gate (which labels the detector disagrees with, and how
    often). One map-only projection + one count shuffle."""
    from polars_text_spark.functions.analysis import detect_language

    return (
        _docs(spark, sf_dir)
        .groupBy("lang", detect_language("text").alias("lang_detected"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@query(
    "embedding_norms",
    f"""
    WITH {_sql_vecs()},
    n AS (
      SELECT sqrt(list_reduce(list_transform(v, x -> x * x),
                              (a, b) -> a + b)) AS nrm
      FROM e)
    SELECT CAST(floor(nrm * 10) AS INT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_vecs,
           round(min(nrm), 6) AS min_norm,
           round(max(nrm), 6) AS max_norm
    FROM n GROUP BY 1
    """,
)
def q_embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-norm distribution audit (0.1-wide buckets): the
    pre-flight check before any cosine/ANN stage — zero vectors,
    un-normalized mixtures and scale drift all show up here. Norms via
    the bit-identical left fold (same recipe as SemDeDup); min/max are
    summation-order-independent."""
    vecs = _tbl(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    a = F.col("embedding").cast("array<double>")
    norm = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))
    return (
        vecs.select(norm.alias("__nrm"))
        .groupBy(F.floor(F.col("__nrm") * 10).cast("int").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(F.min("__nrm"), 6).alias("min_norm"),
            F.round(F.max("__nrm"), 6).alias("max_norm"),
        )
    )


# ---------------------------------------------------------------------------
# Curation funnel (round-7 batch 7, query #100): cumulative stage
# counts through the standard gate sequence, one pass + one unpivot.
# ---------------------------------------------------------------------------


@query(
    "curation_funnel",
    f"""
    WITH t AS (
      SELECT doc_id, text,
             CASE WHEN text IS NULL THEN CAST([] AS VARCHAR[])
                  ELSE {_SQL_WS_TOKS}
             END AS tk
      FROM documents),
    m AS (
      SELECT doc_id, text, len(tk) AS n,
             CASE WHEN len(tk) > 0 THEN
               list_reduce(list_transform(tk,
                   t -> CAST(length(t) AS BIGINT)), (a, b) -> a + b)
               * 1.0 / len(tk) END AS mean_len,
             CASE WHEN len(tk) > 0 THEN
               len(list_filter(tk, t -> regexp_matches(t, '[a-z]')))
               * 1.0 / len(tk) END AS alpha_frac,
             len(list_filter(tk, t -> t IN ('the','a','of','and','to',
                                            'in','is','it','that','was')))
               AS stop_hits
      FROM t),
    g AS (
      SELECT doc_id, text,
             text IS NOT NULL AS p_nonnull,
             text IS NOT NULL AND length(text) >= 50 AS p_len,
             text IS NOT NULL AND length(text) >= 50
               AND coalesce(n >= 10 AND n <= 100000, FALSE)
               AND coalesce(mean_len >= 2.0 AND mean_len <= 12.0, FALSE)
               AND coalesce(alpha_frac >= 0.8, FALSE)
               AND coalesce(stop_hits >= 2, FALSE) AS p_gopher
      FROM m),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n_raw,
             CAST(sum(CASE WHEN p_nonnull THEN 1 ELSE 0 END) AS BIGINT)
               AS n_nonnull,
             CAST(sum(CASE WHEN p_len THEN 1 ELSE 0 END) AS BIGINT)
               AS n_len,
             CAST(sum(CASE WHEN p_gopher THEN 1 ELSE 0 END) AS BIGINT)
               AS n_gopher,
             CAST(count(DISTINCT CASE WHEN p_gopher
                        THEN sha256({_SQL_CLEAN}) END) AS BIGINT)
               AS n_unique
      FROM g)
    SELECT * FROM (
      SELECT 0 AS stage_idx, 'raw' AS stage, n_raw AS n_docs FROM agg
      UNION ALL SELECT 1, 'nonnull', n_nonnull FROM agg
      UNION ALL SELECT 2, 'min_length_50', n_len FROM agg
      UNION ALL SELECT 3, 'gopher_pass', n_gopher FROM agg
      UNION ALL SELECT 4, 'exact_dedup_unique', n_unique FROM agg)
    """,
)
def q_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The funnel report every curation run starts from: cumulative
    survivor counts through raw -> non-null -> length gate -> Gopher
    rule battery -> exact-dedup uniques. ONE corpus pass (conditional
    aggregation over the tag projection; distinct fingerprints only
    for gate survivors) + a 5-row unpivot — no per-stage rescans."""
    from polars_text_spark.functions.analysis import doc_fingerprint
    from polars_text_spark.operators.filters import with_gopher_tags

    docs = _docs(spark, sf_dir)
    tagged = with_gopher_tags(docs, "text")
    p_nonnull = F.col("text").isNotNull()
    p_len = p_nonnull & (F.length("text") >= 50)
    p_gopher = p_len & F.col("keep")
    agg = tagged.agg(
        F.count(F.lit(1)).alias("n_raw"),
        F.sum(p_nonnull.cast("long")).alias("n_nonnull"),
        F.sum(p_len.cast("long")).alias("n_len"),
        F.sum(p_gopher.cast("long")).alias("n_gopher"),
        F.countDistinct(
            F.when(p_gopher, doc_fingerprint("text"))
        ).alias("n_unique"),
    )
    stages = F.array(
        F.struct(F.lit(0).alias("stage_idx"), F.lit("raw").alias("stage"),
                 F.col("n_raw").alias("n_docs")),
        F.struct(F.lit(1).alias("stage_idx"), F.lit("nonnull").alias("stage"),
                 F.col("n_nonnull").alias("n_docs")),
        F.struct(F.lit(2).alias("stage_idx"),
                 F.lit("min_length_50").alias("stage"),
                 F.col("n_len").alias("n_docs")),
        F.struct(F.lit(3).alias("stage_idx"),
                 F.lit("gopher_pass").alias("stage"),
                 F.col("n_gopher").alias("n_docs")),
        F.struct(F.lit(4).alias("stage_idx"),
                 F.lit("exact_dedup_unique").alias("stage"),
                 F.col("n_unique").alias("n_docs")),
    )
    return agg.select(F.explode(stages).alias("s")).select(
        F.col("s.stage_idx").alias("stage_idx"),
        F.col("s.stage").alias("stage"),
        F.col("s.n_docs").alias("n_docs"),
    )


def _lsh_sha_bit_sql(j: int, alias: str) -> str:
    """One sha-hyperplane sign bit of ``{alias}.v`` as SQL (replays
    similarity._sha_sign + the left fold bit-identically)."""
    return f"""CASE WHEN list_reduce(list_transform(generate_series(1, 64),
      p -> CASE WHEN substr(sha256('{j}:' || CAST(p - 1 AS VARCHAR)), 1, 1)
                     < '8'
                THEN {alias}.v[p] ELSE -{alias}.v[p] END),
      (a, b) -> a + b) >= 0 THEN '1' ELSE '0' END"""


def _lsh_sha_keys_sql(alias: str) -> str:
    """The 4 band-key strings (4 bits each) of ``{alias}.v`` as a SQL
    list literal."""
    keys = []
    for b in range(4):
        bits = " || ".join(_lsh_sha_bit_sql(j, alias) for j in range(4 * b, 4 * b + 4))
        keys.append(f"'{b}:' || {bits}")
    return "[" + ", ".join(keys) + "]"


# CTE ``bk``: the sha-LSH band keys of every ``e`` vector, one row each.
_SQL_LSH_SHA_BK = f"""bk AS (
      SELECT e.vec_id, unnest({_lsh_sha_keys_sql('e')}) AS band_key
      FROM e)"""


def _sql_lsh_sha_cand(where: str) -> str:
    """CTEs ``bk`` and ``cand``: the distinct ``(query_id, neighbor_id)``
    pairs sharing a band key (the banding OR-construction) that pass
    ``where``, over the query side ``q`` and the neighbor side ``n``."""
    return f"""{_SQL_LSH_SHA_BK},
    cand AS (
      SELECT DISTINCT q.vec_id AS query_id, n.vec_id AS neighbor_id
      FROM bk q JOIN bk n ON q.band_key = n.band_key
      WHERE {where})"""


_LSH_SHA_ORACLE = f"""
    WITH {_sql_vecs()},
    {_SQL_UNIT_CTE},
    {_sql_lsh_sha_cand("q.vec_id < 5 AND n.vec_id <> q.vec_id")},
    {_SQL_SCORED_CTE}
    {_SQL_TOP10}
    """


@query("similarity_topk_lsh_sha", _LSH_SHA_ORACLE)
def q_similarity_topk_lsh_sha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH ANN with sha-derived ±1 hyperplanes — the oracle replays
    every signature bit (64-term left folds), the banding
    OR-construction candidates AND the exact-cosine top-k: the last
    approximate-search family member converted to the oracle column
    (production path similarity_topk_lsh keeps the Gaussian planes +
    recall tests)."""
    from polars_text_spark.operators.similarity import cosine_topk_lsh_sha

    vecs = _tbl(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    out = cosine_topk_lsh_sha(
        vecs, vecs.filter(F.col("vec_id") < 5), k=10, dim=64
    )
    return out.select(
        "query_id", "neighbor_id",
        F.round("cosine", 6).alias("cosine"), "rank",
    )


@query("similarity_topk_lsh_sha_arrow", _LSH_SHA_ORACLE)
def q_similarity_topk_lsh_sha_arrow(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The SAME sha-LSH query routed through the Arrow candidate
    re-rank (``rerank="arrow"``, VERDICT r11 #7): slim band join, one
    vectorized fold pass per candidate vector — checked against the
    IDENTICAL DuckDB oracle as `similarity_topk_lsh_sha`, so the gate
    proves the two physical routes are value-equal down to the hash
    (operators/similarity.py::_arrow_candidate_scores)."""
    from polars_text_spark.operators.similarity import cosine_topk_lsh_sha

    vecs = _tbl(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    out = cosine_topk_lsh_sha(
        vecs, vecs.filter(F.col("vec_id") < 5), k=10, dim=64,
        rerank="arrow",
    )
    return out.select(
        "query_id", "neighbor_id",
        F.round("cosine", 6).alias("cosine"), "rank",
    )


@query(
    "ann_store_incremental",
    f"""
    WITH {_sql_vecs("vec_id % 8 = 0")},
    {_SQL_UNIT_CTE},
    {_sql_lsh_sha_cand("q.vec_id < 80 AND n.vec_id <> q.vec_id")},
    {_SQL_SCORED_CTE}
    {_SQL_TOP10}
    """,
)
def q_ann_store_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ANN-store ingest under the driver hash: write the
    store on 3/4 of the corpus, ``append_ann_shard`` the remaining
    quarter, then answer top-k from the GROWN store — the result must
    hash-match the oracle's full sha-LSH replay over the complete
    corpus (bands, OR-construction candidates, exact-cosine re-rank).
    A broken append (missed bucket files, re-banded planes, clobbered
    standing rows) shifts candidates or cosines and fails the value
    hash, not just a pytest invariant.

    An EIGHTH of the corpus (VERDICT r15 #3, the minhash-lifecycle
    treatment): the query proves append SEMANTICS, not throughput —
    the lifecycle's cost is fixed table/catalog orchestration, so the
    slice mostly trims the oracle's quadratic replay while 10 queries
    x top-10 cosines keep the hash entropy."""
    import os

    from polars_text_spark.operators.ann_store import (
        append_ann_shard,
        topk_from_store,
        write_ann_store,
    )

    vecs = _tbl(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull() & (F.col("vec_id") % 8 == 0)
    )
    # pid-unique name: a concurrent bench/driver run must not overwrite
    # this invocation's store between the append and the collect.
    name = f"annincr_{os.getpid()}"
    _register_store_cleanup(spark, name)
    write_ann_store(
        vecs.filter(F.col("vec_id") % 32 != 0), name, dim=64, buckets=4
    )
    append_ann_shard(vecs.filter(F.col("vec_id") % 32 == 0), name)
    out = topk_from_store(
        spark, name, vecs.filter(F.col("vec_id") < 80), k=10, dim=64
    )
    return out.select(
        "query_id", "neighbor_id",
        F.round("cosine", 6).alias("cosine"), "rank",
    )


@query(
    "ann_store_delete",
    f"""
    WITH {_sql_vecs("vec_id % 8 = 1")},
    {_SQL_UNIT_CTE},
    {_sql_lsh_sha_cand(
        "q.vec_id < 80 AND n.vec_id <> q.vec_id AND (n.vec_id % 5) <> 0")},
    {_SQL_SCORED_CTE},
    topk AS ({_SQL_TOP10})
    SELECT s.stage, t.query_id, t.neighbor_id, t.cosine, t.rank
    FROM topk t CROSS JOIN (VALUES ('logical'), ('purged')) AS s(stage)
    """,
)
def q_ann_store_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Store deletion lifecycle under the driver hash: write the ANN
    store on the full corpus, ``delete_ids`` every fifth vector
    (tombstones only — no rewrite), answer top-k ('logical' stage:
    the read-time broadcast anti-join must hide the deleted rows),
    then ``purge_deleted`` (tombstones folded into the files by
    compaction) and answer again ('purged' stage). BOTH stages must
    hash-match the oracle's sha-LSH replay over the corpus with the
    deleted neighbors filtered out — a leaky anti-join, a purge that
    drops the wrong rows, or a compaction that breaks the band tables
    shifts candidates or cosines and fails the value hash.

    An EIGHTH of the corpus (VERDICT r15 #3), a DIFFERENT eighth
    (``vec_id % 8 = 1``) than `ann_store_incremental`'s so the two
    stores never share id spaces in a concurrent bench; 10 queries x
    2 stages keep the hash entropy, and every fifth slice member is
    tombstoned so the anti-join and the purge both stay
    load-bearing."""
    import os

    from polars_text_spark.operators.ann_store import (
        delete_ids,
        purge_deleted,
        topk_from_store,
        write_ann_store,
    )

    vecs = _tbl(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull() & (F.col("vec_id") % 8 == 1)
    )
    # pid-unique name + deferred cleanup: same lifecycle as
    # q_ann_store_incremental
    name = f"anndel_{os.getpid()}"
    _register_store_cleanup(spark, name)
    write_ann_store(vecs, name, dim=64, buckets=4)
    delete_ids(vecs.filter(F.col("vec_id") % 5 == 0), name)
    qs = vecs.filter(F.col("vec_id") < 80)

    def answer(stage: str) -> DataFrame:
        return topk_from_store(spark, name, qs, k=10, dim=64).select(
            F.lit(stage).alias("stage"),
            "query_id",
            "neighbor_id",
            F.round("cosine", 6).alias("cosine"),
            "rank",
        )

    # the logical stage must materialize BEFORE the purge mutates the
    # tables underneath the lazy plan
    logical = spark.createDataFrame(
        answer("logical").collect(), "stage string, query_id long, "
        "neighbor_id long, cosine double, rank int"
    )
    purge_deleted(spark, name)
    return logical.unionByName(answer("purged"))


@query(
    "ann_store_rebucket",
    f"""
    WITH {_sql_vecs("vec_id % 16 = 2")},
    {_SQL_UNIT_CTE},
    {_sql_lsh_sha_cand(
        "q.vec_id < 130 AND n.vec_id <> q.vec_id AND (n.vec_id % 5) <> 0")},
    {_SQL_SCORED_CTE}
    {_SQL_TOP10}
    """,
)
def q_ann_store_rebucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Store re-bucketing lifecycle under the driver hash (VERDICT r12
    #1): write the ANN store at 4 buckets on 3/4 of the corpus,
    ``append_ann_shard`` the rest, ``delete_ids`` every fifth vector,
    then ``rebucket_store`` to 8 buckets and answer top-k from the
    rewritten tables. The result must hash-match the oracle's full
    sha-LSH replay with the deleted neighbors filtered out — a rewrite
    that drops or duplicates rows, loses the pending tombstones, or
    breaks the band/vector tables shifts candidates or cosines and
    fails the value hash (the meta row's new bucket count and the
    co-location plan are pinned by tests/test_ann_store.py)."""
    import os

    from polars_text_spark.operators.ann_store import (
        append_ann_shard,
        delete_ids,
        rebucket_store,
        topk_from_store,
        write_ann_store,
    )

    # a SIXTEENTH of the corpus (VERDICT r13 #7, deepened r15 #3):
    # this query proves the rebucket lifecycle SEMANTICS — write/
    # append/delete/rebucket/answer — not throughput (the 10x probe
    # in SCALING.md owns that), so it doesn't need to pay a large
    # store write + quadratic oracle replay per bench run; 8 queries
    # x top-10 keep the hash entropy
    vecs = _tbl(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull() & (F.col("vec_id") % 16 == 2)
    )
    # pid-unique name + deferred cleanup: same lifecycle as
    # q_ann_store_incremental
    name = f"annrbk_{os.getpid()}"
    _register_store_cleanup(spark, name)
    write_ann_store(
        vecs.filter(F.col("vec_id") % 64 != 2), name, dim=64, buckets=4
    )
    append_ann_shard(vecs.filter(F.col("vec_id") % 64 == 2), name)
    delete_ids(vecs.filter(F.col("vec_id") % 5 == 0), name)
    rebucket_store(spark, name, 8)
    out = topk_from_store(
        spark, name, vecs.filter(F.col("vec_id") < 130), k=10, dim=64
    )
    return out.select(
        "query_id", "neighbor_id",
        F.round("cosine", 6).alias("cosine"), "rank",
    )


@query(
    "ann_band_audit",
    f"""
    WITH {_sql_vecs("vec_id % 5 <> 0")},
    {_SQL_LSH_SHA_BK},
    per AS (
      SELECT band_key, count(*) AS m FROM bk GROUP BY band_key),
    per_id AS (
      SELECT t.vec_id, count(*) AS nb,
             sum(CASE WHEN p.m > 40 THEN 1 ELSE 0 END) AS ns
      FROM bk t JOIN per p ON p.band_key = t.band_key
      GROUP BY t.vec_id),
    idagg AS (
      SELECT count(*) AS total_ids,
             sum(CASE WHEN ns = nb THEN 1 ELSE 0 END) AS no_escape_ids,
             sum(CASE WHEN ns > 0 THEN 1 ELSE 0 END)
               AS saturated_member_ids
      FROM per_id),
    agg AS (
      SELECT count(*) AS n_buckets,
             max(m) AS max_bucket_size,
             sum(CASE WHEN m > 40 THEN 1 ELSE 0 END)
               AS n_saturated_buckets,
             sum(m * (m - 1) // 2) AS unguarded_candidates,
             sum(CASE WHEN m > 40 THEN m - 1
                      ELSE m * (m - 1) // 2 END) AS guarded_candidates,
             sum(CASE WHEN m > 40 THEN m ELSE 0 END)
               AS saturated_member_rows,
             sum(m) AS total_rows
      FROM per)
    SELECT CAST(n_buckets AS BIGINT) AS n_buckets,
           CAST(max_bucket_size AS BIGINT) AS max_bucket_size,
           CAST(n_saturated_buckets AS BIGINT) AS n_saturated_buckets,
           CAST(unguarded_candidates AS BIGINT) AS unguarded_candidates,
           CAST(guarded_candidates AS BIGINT) AS guarded_candidates,
           CAST(saturated_member_rows AS BIGINT) AS saturated_member_rows,
           round(saturated_member_rows * 1.0 / total_rows, 6)
             AS saturated_row_fraction,
           CAST(saturated_member_ids AS BIGINT) AS saturated_member_ids,
           CAST(no_escape_ids AS BIGINT) AS no_escape_ids,
           round(no_escape_ids * 1.0 / total_ids, 6)
             AS no_escape_id_fraction
    FROM agg, idagg
    """,
)
def q_ann_band_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANN-store band audit under the driver hash: write the store,
    tombstone every fifth vector, then
    :func:`~polars_text_spark.operators.ann_store.
    band_stats_from_ann_store` — saturation counts + telemetry over
    the STANDING sha-LSH band table, tombstones respected. Unlike
    `band_audit` (arithmetic banding — the telemetry math in
    isolation), this replays the REAL banding: the oracle re-derives
    every 4-bit sha band key of every surviving vector, the per-bucket
    counts, and the stats row. The cross-signature columns are null by
    design for vector bands (no signature grouping) and are omitted
    here."""
    import os

    from polars_text_spark.operators.ann_store import (
        band_stats_from_ann_store,
        delete_ids,
        write_ann_store,
    )

    vecs = _tbl(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    name = f"annaud_{os.getpid()}"
    _register_store_cleanup(spark, name)
    write_ann_store(vecs, name, dim=64, buckets=4)
    delete_ids(vecs.filter(F.col("vec_id") % 5 == 0), name)
    out = band_stats_from_ann_store(spark, name, band_cap=40)
    return out.select(
        "n_buckets",
        "max_bucket_size",
        "n_saturated_buckets",
        "unguarded_candidates",
        "guarded_candidates",
        "saturated_member_rows",
        F.round("saturated_row_fraction", 6).alias("saturated_row_fraction"),
        "saturated_member_ids",
        "no_escape_ids",
        F.round("no_escape_id_fraction", 6).alias("no_escape_id_fraction"),
    )


@query(
    "node_collocates",
    f"""
    WITH toks AS (
      SELECT {_SQL_WS_TOKS} AS t
      FROM documents WHERE text IS NOT NULL),
    pairs AS (
      SELECT t[i] AS a, t[i + d] AS b
      FROM toks,
           UNNEST(range(1, len(t) + 1)) AS u(i),
           UNNEST(range(1, 4)) AS v(d)
      WHERE i + d <= len(t)),
    stream AS (
      SELECT b AS collocate FROM pairs WHERE a = 'the'
      UNION ALL
      SELECT a FROM pairs WHERE b = 'the'),
    obs AS (SELECT collocate, CAST(count(*) AS BIGINT) AS obs
            FROM stream GROUP BY collocate),
    uc AS (SELECT unnest(t) AS token FROM toks),
    ucc AS (SELECT token, CAST(count(*) AS BIGINT) AS corpus_count
            FROM uc GROUP BY token),
    tot AS (SELECT (SELECT CAST(sum(obs) AS DOUBLE) FROM obs) AS t,
                   (SELECT CAST(sum(corpus_count) AS DOUBLE) FROM ucc) AS n)
    SELECT o.collocate, o.obs, c.corpus_count,
           round(log2((CAST(o.obs AS DOUBLE) / t)
                      / (CAST(c.corpus_count AS DOUBLE) / n)), 6) AS mi
    FROM obs o JOIN ucc c ON c.token = o.collocate, tot
    WHERE o.obs >= 2
    """,
)
def q_node_collocates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocates of the node 'the' (AntConc Collocates tool, window
    3 both directions): observed window counts vs corpus expectation
    as MI, rounded 6dp. Same map-only pair construction as
    collocations; the oracle replays stream, marginals and MI."""
    from polars_text_spark.operators.linguistics import node_collocates

    return node_collocates(
        _docs(spark, sf_dir), "the", "text", window=3, min_count=2
    )


# ---------------------------------------------------------------------------
# Round 9 (cont.): HTML -> text extraction — the step upstream of every
# web-curation pass. The synthetic docs are plain text, so the query
# WRAPS each document in deterministic HTML (tags, script, comment,
# entities, two links) with the identical expression in the oracle, so
# the extractor is genuinely exercised end to end, not vacuously.
# ---------------------------------------------------------------------------

_HTML_W1 = (
    "<html><head><title>t</title><style>p{margin:0}</style></head>"
    "<body><h1>Doc "
)
_HTML_W2 = "</h1><!-- src:"
_HTML_W3 = " --><p>"
_HTML_W4 = (
    '</p><script>var u = "</p>";</script>'
    "<ul><li>a&amp;b</li><li>&lt;i&gt; &amp;lt;e</li></ul>"
    '<a href="https://ex.org/d/'
)
_HTML_W5 = '">x</a> <a href="/rel?q=1">y</a></body></html>'


def _html_oracle_sql() -> str:
    from polars_text_spark.functions.html import HREF_PATTERN, html_text_sql

    def q(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    html = (
        f"{q(_HTML_W1)} || CAST(doc_id AS VARCHAR) || {q(_HTML_W2)}"
        f" || source || {q(_HTML_W3)} || text || {q(_HTML_W4)}"
        f" || CAST(doc_id AS VARCHAR) || {q(_HTML_W5)}"
    )
    ext = html_text_sql("html")
    href = f"regexp_extract_all(html, {q(HREF_PATTERN)}, 1)"
    return f"""
    WITH enriched AS (
      SELECT doc_id, {html} AS html
      FROM documents WHERE text IS NOT NULL)
    SELECT doc_id, {ext} AS extracted_text,
           CAST(len({href}) AS INT) AS n_hrefs,
           {href}[1] AS href_first
    FROM enriched
    """


@query("html_extract", _html_oracle_sql())
def q_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML -> text extraction (functions/html.py): drop script/style/
    comments whole, block tags -> newline, inline tags -> space,
    single-pass entity decode (&amp; last), whitespace normalize —
    all regexp_replace/replace built-ins fused into the scan (map-only,
    zero Exchange above the spread). The oracle rebuilds the identical
    enriched HTML and replays the extraction chain from the SAME
    pattern constants, hash-matching the FULL extracted text plus the
    href accounting."""
    from polars_text_spark.functions.html import extract_html_text, html_hrefs

    docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    did = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit(_HTML_W1),
        did,
        F.lit(_HTML_W2),
        F.col("source"),
        F.lit(_HTML_W3),
        F.col("text"),
        F.lit(_HTML_W4),
        did,
        F.lit(_HTML_W5),
    )
    d = docs.select("doc_id", html.alias("html"))
    hrefs = html_hrefs("html")
    return d.select(
        "doc_id",
        extract_html_text("html"),
        F.size(hrefs).cast("int").alias("n_hrefs"),
        F.element_at(hrefs, 1).alias("href_first"),
    )


# ---------------------------------------------------------------------------
# Round 9 (cont.): code-vs-prose mixture signal. The synthetic docs are
# prose-only, so the query appends deterministic code snippets (fenced
# python for doc_id%3==0, braced JS for %3==1) with the identical
# expression in the oracle — the fence/keyword/indent machinery is
# genuinely exercised on both code-bearing and clean rows.
# ---------------------------------------------------------------------------

_CODE_SNIP_PY = "\n```\ndef func_util(x):\n    return x + 1\n```\n"
_CODE_SNIP_JS = "\nvar myVal = {a: 1};\n\tconsole.log(my_val);\n"


def _sql_text_lit(s: str) -> str:
    """DuckDB expression for a Python string, non-printables (newline,
    tab) emitted as chr() so the SQL source stays single-line-safe and
    editor-round-trip-proof (the mojibake-literal precedent)."""
    parts: list[str] = []
    buf = ""
    for ch in s:
        if ch in ("\n", "\t", "\r") or ord(ch) > 126:
            if buf:
                parts.append("'" + buf.replace("'", "''") + "'")
                buf = ""
            parts.append(f"chr({ord(ch)})")
        else:
            buf += ch
    if buf:
        parts.append("'" + buf.replace("'", "''") + "'")
    return " || ".join(parts) if parts else "''"


def _code_prose_oracle_sql() -> str:
    from polars_text_spark.functions.analysis import CODE_PATTERNS

    def q(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    def cnt(key: str) -> str:
        return f"len(regexp_extract_all(t, {q(CODE_PATTERNS[key])}))"

    sym = f"CAST({cnt('n_symbols')} AS DOUBLE) / length(t)"
    ind = (
        f"CAST({cnt('n_indented')} AS DOUBLE)"
        f" / (len(regexp_extract_all(t, chr(10))) + 1)"
    )
    dens = (
        f"CAST({cnt('n_keywords')} + {cnt('n_identifiers')} AS DOUBLE)"
        f" * 5.0 / length(t)"
    )
    fence = f"CASE WHEN {cnt('n_fences')} >= 2 THEN 0.25 ELSE 0.0 END"
    return f"""
    WITH enriched AS (
      SELECT doc_id,
             text || CASE
               WHEN doc_id % 3 = 0 THEN {_sql_text_lit(_CODE_SNIP_PY)}
               WHEN doc_id % 3 = 1 THEN {_sql_text_lit(_CODE_SNIP_JS)}
               ELSE '' END AS t
      FROM documents WHERE text IS NOT NULL)
    SELECT doc_id,
           CAST(length(t) AS BIGINT) AS n_chars,
           CAST(len(regexp_extract_all(t, chr(10))) + 1 AS BIGINT)
             AS n_lines,
           CAST({cnt('n_indented')} AS BIGINT) AS n_indented,
           CAST({cnt('n_fences')} AS BIGINT) AS n_fences,
           CAST({cnt('n_keywords')} AS BIGINT) AS n_keywords,
           CAST({cnt('n_symbols')} AS BIGINT) AS n_symbols,
           CAST({cnt('n_identifiers')} AS BIGINT) AS n_identifiers,
           round({sym}, 6) AS symbol_frac,
           round({ind}, 6) AS indent_frac,
           round(least(1.0, 0.35 * ({ind}) + 2.0 * ({sym})
                       + 0.5 * ({dens}) + {fence}), 6) AS score
    FROM enriched
    """


@query("code_prose_signals", _code_prose_oracle_sql())
def q_code_prose_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-vs-prose routing signal (functions/analysis.py
    code_signals): fences, reserved words, structural-symbol density,
    snake/camel identifiers, indented-line fraction, blended into a
    bounded score — all regexp_count built-ins fused into the scan
    (map-only). The oracle rebuilds the identical enriched text and
    replays every count and the score arithmetic from the SAME
    pattern constants."""
    from polars_text_spark.functions.analysis import code_signals

    docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    t = F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 3 == 0, F.lit(_CODE_SNIP_PY))
        .when(F.col("doc_id") % 3 == 1, F.lit(_CODE_SNIP_JS))
        .otherwise(F.lit("")),
    )
    s = code_signals(t)
    return docs.select(
        "doc_id",
        s["n_chars"].alias("n_chars"),
        s["n_lines"].alias("n_lines"),
        s["n_indented"].alias("n_indented"),
        s["n_fences"].alias("n_fences"),
        s["n_keywords"].alias("n_keywords"),
        s["n_symbols"].alias("n_symbols"),
        s["n_identifiers"].alias("n_identifiers"),
        F.round(s["symbol_frac"], 6).alias("symbol_frac"),
        F.round(s["indent_frac"], 6).alias("indent_frac"),
        F.round(s["score"], 6).alias("score"),
    )


# ---------------------------------------------------------------------------
# Round 9 (cont.): temperature-scaled mixture — the multilingual
# alpha-sampling knob (survivors' composition ∝ n_lang^alpha). The
# closed-form keep-rate sqrt(n_min/n_s) at alpha=0.5 is correctly
# rounded by IEEE in every engine, so the oracle recomputes the exact
# same rates from the data and must select the exact same rows.
# ---------------------------------------------------------------------------


@query(
    "mixture_temperature",
    """
    WITH cnts AS (SELECT lang, count(*) AS n FROM documents
                  WHERE lang IS NOT NULL GROUP BY lang),
    mn AS (SELECT min(n) AS n_min FROM cnts),
    rates AS (SELECT lang,
                     sqrt(CAST(n_min AS DOUBLE) / CAST(n AS DOUBLE)) AS rate
              FROM cnts CROSS JOIN mn)
    SELECT d.doc_id, d.lang
    FROM documents d JOIN rates r USING (lang)
    WHERE r.rate >= 1.0
       OR substr(sha256(CAST(d.doc_id AS VARCHAR)), 1, 8)
          < printf('%08x',
                   least(CAST(floor(r.rate * 4294967296.0) AS BIGINT),
                         4294967295))
    """,
)
def q_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature rebalance at alpha=0.5 (operators/sampling.py
    temperature_rebalance): the smallest language is kept whole,
    every larger one hash-downsampled by sqrt(n_min/n_s) — one tiny
    groupBy-count fixes the rates as literals, then a content-keyed
    filter fused into the scan. sqrt is IEEE-correctly-rounded, so
    Python (rate literals), Spark (hash predicate) and DuckDB (oracle
    replay) agree bit-for-bit — no sums, no pow, no fp-order hazard."""
    from polars_text_spark.operators.sampling import temperature_rebalance

    docs = _docs(spark, sf_dir)
    out = temperature_rebalance(docs, "lang", "doc_id", alpha=0.5)
    return out.select("doc_id", "lang")


# ---------------------------------------------------------------------------
# Round 9 (cont.): contrastive-triplet mining — (anchor, positive,
# hard_negative) training data for embedding models, both legs derived
# from ONE sha-banded LSH candidate pass so the oracle can replay
# every signature bit, candidate, cosine, and selection.
# ---------------------------------------------------------------------------


@query(
    "contrastive_triplets",
    f"""
    WITH {_sql_vecs()},
    {_SQL_UNIT_CTE},
    {_sql_lsh_sha_cand("n.vec_id <> q.vec_id")},
    {_SQL_SCORED_CTE},
    pos AS (
      SELECT query_id AS anchor_id, neighbor_id AS positive_id,
             cos AS pos_cosine
      FROM scored WHERE cos >= 0.35),
    neg AS (
      SELECT query_id AS anchor_id, neighbor_id AS negative_id,
             cos AS neg_cosine,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, neighbor_id ASC) AS rn
      FROM scored WHERE cos < 0.2)
    SELECT p.anchor_id, p.positive_id,
           round(p.pos_cosine, 6) AS pos_cosine,
           n.negative_id, round(n.neg_cosine, 6) AS neg_cosine
    FROM pos p JOIN (SELECT * FROM neg WHERE rn = 1) n
      ON n.anchor_id = p.anchor_id
    """,
)
def q_contrastive_triplets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive triplets (operators/contrastive.py): positives are
    banded-LSH candidates at cosine >= 0.35, each anchor's hard
    negative is its best candidate below 0.2 (the [0.2, 0.35) gap is
    the excluded ambiguity margin), selected via a map-side-combining
    max(struct) aggregate, not a window. The oracle replays the
    sha-hyperplane signatures, the band-key self-join, every cosine,
    and the argmax tie-break."""
    from polars_text_spark.operators.contrastive import contrastive_triplets

    vecs = _tbl(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    out = contrastive_triplets(
        vecs, dim=64, pos_threshold=0.35, neg_ceiling=0.2
    )
    return out.select(
        "anchor_id",
        "positive_id",
        F.round("pos_cosine", 6).alias("pos_cosine"),
        "negative_id",
        F.round("neg_cosine", 6).alias("neg_cosine"),
    )


# ---------------------------------------------------------------------------
# Round 9 (cont.): tokenizer fertility — the tokenizer-QA table that
# decides whether a tokenizer under-serves a language (fertility =
# subword tokens per whitespace word; high fertility burns sequence
# budget). Counts are exact longs, ratios divide exact sums — any SQL
# engine replays them bit-for-bit.
# ---------------------------------------------------------------------------


@query(
    "tokenizer_fertility",
    f"""
    WITH per AS (
      SELECT lang,
             len({_SQL_TOKENS}) AS toks,
             len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                 x -> x <> '')) AS words,
             length(text) AS chars,
             strlen(text) AS bytes
      FROM documents WHERE text IS NOT NULL)
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(words) AS BIGINT) AS n_words,
           CAST(sum(toks) AS BIGINT) AS n_tokens,
           CAST(sum(chars) AS BIGINT) AS n_chars,
           CAST(sum(bytes) AS BIGINT) AS n_bytes,
           round(CASE WHEN sum(words) > 0
             THEN CAST(sum(toks) AS DOUBLE) / sum(words) END, 6)
             AS fertility,
           round(CASE WHEN sum(toks) > 0
             THEN CAST(sum(chars) AS DOUBLE) / sum(toks) END, 6)
             AS chars_per_token,
           round(CASE WHEN sum(toks) > 0
             THEN CAST(sum(bytes) AS DOUBLE) / sum(toks) END, 6)
             AS bytes_per_token
    FROM per GROUP BY lang
    """,
)
def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language tokenizer fertility / chars-per-token /
    bytes-per-token through the full tokenize UDF (operators/
    token_frequencies.py tokenizer_fertility). NO explode — per-doc
    token counts are size(tokenize) in the scan projection, so the
    only movement is the map-side-combining groupBy on the language
    keys."""
    from polars_text_spark.operators.token_frequencies import (
        tokenizer_fertility,
    )

    out = tokenizer_fertility(
        _docs(spark, sf_dir), "text", "lang", model=NATIVE_MODEL
    )
    return out.select(
        F.col("group").alias("lang"),
        "n_docs",
        "n_words",
        "n_tokens",
        "n_chars",
        "n_bytes",
        F.round("fertility", 6).alias("fertility"),
        F.round("chars_per_token", 6).alias("chars_per_token"),
        F.round("bytes_per_token", 6).alias("bytes_per_token"),
    )


# ---------------------------------------------------------------------------
# Round 9 (cont.): anchor-text table — what OTHER pages' link text says
# a URL is about (the web-search-style relevance signal, and the
# natural companion of the domain link graph). Anchors are enriched
# with inline markup + an entity so the inner-HTML cleanup is
# genuinely exercised.
# ---------------------------------------------------------------------------

_ANC_W1 = "<p>"
_ANC_W2 = '</p><a href="https://ex.org/d/'
_ANC_W3 = '"><b>Doc &amp; '
_ANC_W4 = '</b></a> <a class="x" href="/rel/'
_ANC_W5 = '">plain '
_ANC_W6 = "</a>"


def _anchor_oracle_sql() -> str:
    from polars_text_spark.functions.html import (
        ANCHOR_PATTERN,
        html_text_sql,
    )

    def q(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    html = (
        f"{q(_ANC_W1)} || text || {q(_ANC_W2)}"
        " || CAST(doc_id AS VARCHAR)"
        f" || {q(_ANC_W3)} || CAST(doc_id AS VARCHAR) || {q(_ANC_W4)}"
        f" || CAST(doc_id AS VARCHAR) || {q(_ANC_W5)} || source"
        f" || {q(_ANC_W6)}"
    )
    pat = q(ANCHOR_PATTERN)
    return f"""
    WITH enriched AS (
      SELECT doc_id, {html} AS html
      FROM documents WHERE text IS NOT NULL),
    arrs AS (
      SELECT doc_id,
             regexp_extract_all(html, {pat}, 1) AS h,
             regexp_extract_all(html, {pat}, 2) AS t
      FROM enriched),
    ex AS (
      SELECT doc_id, h[i] AS href, t[i] AS ah
      FROM arrs, UNNEST(range(1, len(h) + 1)) AS u(i))
    SELECT doc_id, href, {html_text_sql('ah')} AS anchor_text
    FROM ex
    """


@query("anchor_text_table", _anchor_oracle_sql())
def q_anchor_text_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor-text edges (functions/html.py html_anchors): one row per
    <a> element — (doc_id, href, anchor_text), anchors captured by a
    single shared pattern on both legs so href/inner alignment is
    structural, inner HTML reduced to clean text by the same
    extraction chain the oracle replays. Map-only + one Generate
    (the explode); no shuffle."""
    from polars_text_spark.functions.html import (
        extract_html_text,
        html_anchors,
    )

    docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    did = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit(_ANC_W1),
        F.col("text"),
        F.lit(_ANC_W2),
        did,
        F.lit(_ANC_W3),
        did,
        F.lit(_ANC_W4),
        did,
        F.lit(_ANC_W5),
        F.col("source"),
        F.lit(_ANC_W6),
    )
    ex = docs.select("doc_id", html.alias("html")).select(
        "doc_id", F.explode(html_anchors("html")).alias("a")
    )
    return ex.select(
        "doc_id",
        F.col("a.href").alias("href"),
        extract_html_text(F.col("a.anchor_html")).alias("anchor_text"),
    )


# ---------------------------------------------------------------------------
# Round 9 (cont.): conversation (SFT/chat) lint + render. The corpus
# has no conversations, so the query builds JSON deterministically
# from doc fields — four shapes per doc_id%4: valid 3-turn with
# system, adjacent-role violation, empty assistant content, valid
# 4-turn — with the identical expression in the oracle, so every lint
# rule fires on real rows in both directions.
# ---------------------------------------------------------------------------


def _chat_oracle_sql() -> str:
    clean = "substr(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g'), 1, 40)"
    did = "CAST(doc_id AS VARCHAR)"
    j0 = (
        "'[{\"role\":\"system\",\"content\":\"be concise\"},"
        "{\"role\":\"user\",\"content\":\"' || " + clean + " || '\"},"
        "{\"role\":\"assistant\",\"content\":\"ok ' || " + did + " || '\"}]'"
    )
    j1 = (
        "'[{\"role\":\"user\",\"content\":\"' || " + clean + " || '\"},"
        "{\"role\":\"user\",\"content\":\"again\"},"
        "{\"role\":\"assistant\",\"content\":\"ok\"}]'"
    )
    j2 = (
        "'[{\"role\":\"user\",\"content\":\"' || " + clean + " || '\"},"
        "{\"role\":\"assistant\",\"content\":\"\"}]'"
    )
    j3 = (
        "'[{\"role\":\"user\",\"content\":\"a\"},"
        "{\"role\":\"assistant\",\"content\":\"b\"},"
        "{\"role\":\"user\",\"content\":\"' || " + clean + " || '\"},"
        "{\"role\":\"assistant\",\"content\":\"d ' || " + did + " || '\"}]'"
    )
    return f"""
    WITH enriched AS (
      SELECT doc_id, CASE doc_id % 4
               WHEN 0 THEN {j0} WHEN 1 THEN {j1}
               WHEN 2 THEN {j2} ELSE {j3} END AS convo
      FROM documents WHERE text IS NOT NULL),
    parsed AS (
      SELECT doc_id,
             CAST(json_transform(convo,
               '[{{"role":"VARCHAR","content":"VARCHAR"}}]')
               AS STRUCT(role VARCHAR, content VARCHAR)[]) AS a
      FROM enriched),
    r AS (
      SELECT doc_id, a,
             list_transform(a, x -> coalesce(x.role, '')) AS rs,
             len(a) AS n
      FROM parsed)
    SELECT doc_id,
           TRUE AS parsed_ok,
           CAST(n AS BIGINT) AS n_turns,
           CAST(len(list_filter(rs, x -> x = 'system')) AS BIGINT)
             AS n_system,
           CAST(len(list_filter(rs, x -> x = 'user')) AS BIGINT)
             AS n_user,
           CAST(len(list_filter(rs, x -> x = 'assistant')) AS BIGINT)
             AS n_assistant,
           CAST(len(list_filter(a,
                x -> x.content IS NULL OR x.content = '')) AS BIGINT)
             AS n_empty_content,
           CASE WHEN n = 0 THEN FALSE
                WHEN rs[1] = 'system' THEN n >= 2 AND rs[2] = 'user'
                ELSE rs[1] = 'user' END AS starts_ok,
           len(list_filter(range(2, n + 1), i -> rs[i] = rs[i - 1])) = 0
             AND n > 0 AS adjacent_ok,
           len(list_filter(range(2, n + 1), i -> rs[i] = 'system')) = 0
             AS system_at_head_only,
           n > 0 AND rs[n] = 'assistant' AS ends_with_assistant,
           (CASE WHEN n = 0 THEN FALSE
                 WHEN rs[1] = 'system' THEN n >= 2 AND rs[2] = 'user'
                 ELSE rs[1] = 'user' END)
             AND len(list_filter(range(2, n + 1),
                                 i -> rs[i] = rs[i - 1])) = 0 AND n > 0
             AND len(list_filter(range(2, n + 1),
                                 i -> rs[i] = 'system')) = 0
             AND n > 0 AND rs[n] = 'assistant'
             AND len(list_filter(a,
                  x -> x.content IS NULL OR x.content = '')) = 0
             AS valid,
           CASE WHEN n = 0 THEN '' ELSE
             list_reduce(list_transform(a,
               x -> '<|' || coalesce(x.role, '') || '|>'
                    || coalesce(x.content, '') || chr(10)),
               (x, y) -> x || y) END AS rendered
    FROM r
    """


@query("chat_lint", _chat_oracle_sql())
def q_chat_lint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SFT conversation lint + render (operators/chat.py): from_json
    parse, role-alternation/system-placement/empty-content checks as
    higher-order array expressions (no explode, no UDF), and the
    chat-template fold — all map-only, every field and the FULL
    rendered text hash-matched against the JSON-list oracle."""
    from polars_text_spark.operators.chat import (
        chat_stats,
        parse_chat,
        render_chat,
    )

    docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    clean = F.substring(
        F.regexp_replace(F.col("text"), "[^A-Za-z0-9 ]", ""), 1, 40
    )
    did = F.col("doc_id").cast("string")
    j0 = F.concat(
        F.lit('[{"role":"system","content":"be concise"},'
              '{"role":"user","content":"'),
        clean,
        F.lit('"},{"role":"assistant","content":"ok '),
        did,
        F.lit('"}]'),
    )
    j1 = F.concat(
        F.lit('[{"role":"user","content":"'),
        clean,
        F.lit('"},{"role":"user","content":"again"},'
              '{"role":"assistant","content":"ok"}]'),
    )
    j2 = F.concat(
        F.lit('[{"role":"user","content":"'),
        clean,
        F.lit('"},{"role":"assistant","content":""}]'),
    )
    j3 = F.concat(
        F.lit('[{"role":"user","content":"a"},'
              '{"role":"assistant","content":"b"},'
              '{"role":"user","content":"'),
        clean,
        F.lit('"},{"role":"assistant","content":"d '),
        did,
        F.lit('"}]'),
    )
    convo = (
        F.when(F.col("doc_id") % 4 == 0, j0)
        .when(F.col("doc_id") % 4 == 1, j1)
        .when(F.col("doc_id") % 4 == 2, j2)
        .otherwise(j3)
    )
    parsed = docs.select("doc_id", parse_chat(convo).alias("a"))
    s = chat_stats(F.col("a"))
    return parsed.select(
        "doc_id",
        s["parsed_ok"].alias("parsed_ok"),
        s["n_turns"].alias("n_turns"),
        s["n_system"].alias("n_system"),
        s["n_user"].alias("n_user"),
        s["n_assistant"].alias("n_assistant"),
        s["n_empty_content"].alias("n_empty_content"),
        s["starts_ok"].alias("starts_ok"),
        s["adjacent_ok"].alias("adjacent_ok"),
        s["system_at_head_only"].alias("system_at_head_only"),
        s["ends_with_assistant"].alias("ends_with_assistant"),
        s["valid"].alias("valid"),
        render_chat(F.col("a")).alias("rendered"),
    )


# ---------------------------------------------------------------------------
# Round 9 (cont.): margin-based bitext mining (LASER/CCMatrix shape) —
# mutual-best cross-corpus neighbors with the Artetxe-Schwenk ratio
# margin. The embeddings table's label parity stands in for the two
# corpora; sha signatures, ranks, canonical-order k-NN means, and the
# margin arithmetic are all replayed by the oracle.
# ---------------------------------------------------------------------------


@query(
    "bitext_pairs",
    f"""
    WITH {_sql_vecs()},
    {_SQL_UNIT_CTE},
    sides AS (SELECT vec_id, label % 2 AS side
              FROM embeddings WHERE embedding IS NOT NULL),
    {_sql_lsh_sha_cand(
        "q.vec_id IN (SELECT vec_id FROM sides WHERE side = 0)"
        " AND n.vec_id IN (SELECT vec_id FROM sides WHERE side = 1)")},
    {_SQL_SCORED_CTE},
    lr AS (
      SELECT query_id, neighbor_id, cos,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, neighbor_id ASC) AS rn
      FROM scored),
    rl AS (
      SELECT neighbor_id AS rq, query_id AS rn_id, cos,
             row_number() OVER (PARTITION BY neighbor_id
                                ORDER BY cos DESC, query_id ASC) AS rn
      FROM scored),
    avg_l AS (
      SELECT query_id,
             list_reduce(list_sort(list(cos)), (a, b) -> a + b)
               / count(*) AS avg_l
      FROM lr WHERE rn <= 4 GROUP BY query_id),
    avg_r AS (
      SELECT rq,
             list_reduce(list_sort(list(cos)), (a, b) -> a + b)
               / count(*) AS avg_r
      FROM rl WHERE rn <= 4 GROUP BY rq),
    best_lr AS (SELECT query_id AS left_id, neighbor_id AS right_id, cos
                FROM lr WHERE rn = 1),
    best_rl AS (SELECT rq AS right_id, rn_id AS left_id
                FROM rl WHERE rn = 1)
    SELECT b.left_id, b.right_id, round(b.cos, 6) AS cosine,
           round(b.cos / ((al.avg_l + ar.avg_r) / 2.0), 6) AS margin
    FROM best_lr b
    JOIN best_rl m ON m.left_id = b.left_id AND m.right_id = b.right_id
    JOIN avg_l al ON al.query_id = b.left_id
    JOIN avg_r ar ON ar.rq = b.right_id
    WHERE al.avg_l + ar.avg_r > 0
      AND b.cos / ((al.avg_l + ar.avg_r) / 2.0) >= 1.1
    """,
)
def q_bitext_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitext mining (operators/bitext.py): label parity splits the
    embedding corpus into two 'languages'; pairs must be mutual-best
    cross-corpus neighbors with ratio margin >= 1.1 over their top-4
    neighborhood averages (canonical ascending-order fold, so the
    nonassociative double sum hash-matches across engines)."""
    from polars_text_spark.operators.bitext import bitext_mine

    vecs = _tbl(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    out = bitext_mine(
        vecs.filter(F.col("label") % 2 == 0),
        vecs.filter(F.col("label") % 2 == 1),
        dim=64,
        k=4,
        margin_threshold=1.1,
    )
    return out.select(
        "left_id",
        "right_id",
        F.round("cosine", 6).alias("cosine"),
        F.round("margin", 6).alias("margin"),
    )


@query(
    "c4_filter",
    """
    WITH d AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
    arr AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM d),
    ln AS (SELECT doc_id, ls[i] AS ln
           FROM (SELECT doc_id, unnest(generate_series(1, len(ls))) AS i,
                        ls
                 FROM arr)),
    kept AS (
      SELECT doc_id, ln FROM ln
      WHERE right(trim(ln), 1) IN ('.', '!', '?', '"')
        AND len(list_filter(regexp_split_to_array(trim(ln), '\\s+'),
                            x -> x <> '')) >= 5
        AND NOT contains(lower(ln), 'javascript')
        AND NOT contains(lower(ln), 'terms of use')
        AND NOT contains(lower(ln), 'privacy policy')
        AND NOT contains(lower(ln), 'cookie policy')
        AND NOT contains(lower(ln), 'uses cookies')
        AND NOT contains(lower(ln), 'use of cookies')
        AND NOT contains(lower(ln), 'use cookies')),
    agg AS (
      SELECT doc_id,
             sum(length(ln)) + count(*) - 1 AS kept_chars,
             sum(len(regexp_extract_all(lower(ln), '[.!?]'))) AS sents,
             bool_or(contains(lower(ln), 'lorem ipsum')) AS lorem,
             bool_or(contains(lower(ln), '{')) AS curly
      FROM kept GROUP BY doc_id),
    bad AS (
      SELECT doc_id, bool_or(tok = 'the') AS has_bad
      FROM (SELECT doc_id,
                   unnest(list_filter(
                     regexp_split_to_array(lower(text), '\\s+'),
                     x -> x <> '')) AS tok
            FROM d)
      GROUP BY doc_id)
    SELECT d.doc_id,
           CAST(coalesce(a.kept_chars, 0) AS INT) AS kept_chars,
           coalesce(a.sents, 0) >= 3 AS rule_min_sentences,
           NOT coalesce(a.lorem, false) AS rule_no_lorem_ipsum,
           NOT coalesce(a.curly, false) AS rule_no_curly_brace,
           NOT coalesce(b.has_bad, false) AS rule_no_bad_words,
           (coalesce(a.sents, 0) >= 3)
             AND NOT coalesce(a.lorem, false)
             AND NOT coalesce(a.curly, false)
             AND NOT coalesce(b.has_bad, false) AS keep
    FROM d LEFT JOIN agg a USING (doc_id) LEFT JOIN bad b USING (doc_id)
    """,
)
def q_c4_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 cleanup battery (Raffel et al. 2020 §2.2): line-level
    cleaning (terminal punctuation, >= 5 words, javascript/policy
    boilerplate) then the page filters (>= 3 sentences, lorem ipsum,
    curly brace, bad-word token) — all one map-only projection, tags
    inspectable per the Gopher-battery pattern. The bad-words rule is
    exercised with the deliberately-common token 'the' so both
    verdict polarities appear in the hash (a real run ships a real
    blocklist)."""
    from polars_text_spark.operators.filters import with_c4_tags

    docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    out = with_c4_tags(docs, "text", bad_words=("the",))
    return out.select(
        "doc_id",
        F.length("c4_text").alias("kept_chars"),
        "rule_min_sentences",
        "rule_no_lorem_ipsum",
        "rule_no_curly_brace",
        "rule_no_bad_words",
        "keep",
    )


@query(
    "preference_pair_audit",
    """
    WITH d AS (
      SELECT doc_id,
             substring(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g'),
                       1, 8) AS prompt,
             'ans ' || CAST(doc_id % 50 AS VARCHAR) AS chosen,
             CASE WHEN doc_id % 17 = 0
                    THEN 'ans ' || CAST(doc_id % 50 AS VARCHAR)
                  WHEN doc_id % 23 = 0 THEN ''
                  WHEN doc_id % 11 = 0
                    THEN 'ans ' || CAST((doc_id + 3) % 50 AS VARCHAR)
                  ELSE 'rej answer ' || CAST(doc_id % 50 AS VARCHAR)
             END AS rejected
      FROM documents WHERE text IS NOT NULL),
    pc AS (SELECT prompt, count(*) AS cnt FROM d GROUP BY prompt),
    rh AS (SELECT DISTINCT rejected AS r FROM d
           WHERE rejected IS NOT NULL AND trim(rejected) <> ''),
    base AS (
      SELECT d.doc_id, d.prompt, d.chosen, d.rejected,
             (d.chosen = d.rejected) AS identical_pair,
             (d.chosen IS NULL OR d.rejected IS NULL
              OR trim(d.chosen) = '' OR trim(d.rejected) = '')
               AS empty_side,
             len(list_filter(regexp_split_to_array(trim(d.chosen),
                                                   '\\s+'),
                             x -> x <> '')) AS lc,
             len(list_filter(regexp_split_to_array(trim(d.rejected),
                                                   '\\s+'),
                             x -> x <> '')) AS lr
      FROM d)
    SELECT b.doc_id AS pair_id,
           b.identical_pair,
           b.empty_side,
           CAST(b.lc AS BIGINT) AS len_chosen,
           CAST(b.lr AS BIGINT) AS len_rejected,
           round(log2((b.lc + 1.0) / (b.lr + 1.0)), 6) AS len_log_ratio,
           CAST(pc.cnt AS BIGINT) AS prompt_pair_count,
           (rh.r IS NOT NULL AND NOT b.empty_side) AS chosen_contradicted,
           (NOT b.identical_pair AND NOT b.empty_side
            AND NOT (rh.r IS NOT NULL AND NOT b.empty_side)) AS valid
    FROM base b
    JOIN pc USING (prompt)
    LEFT JOIN rh ON rh.r = b.chosen
    """,
)
def q_preference_pair_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DPO preference-pair audit (operators/preference.py): identical
    pairs, empty sides, chosen-appears-as-rejected label noise,
    prompt duplication counts and the length-bias diagnostic — pairs
    synthesized deterministically from the documents table so every
    flag appears in BOTH polarities and the oracle replays the
    synthesis, the group counts, the hash-membership join and the
    log-ratio arithmetic."""
    from polars_text_spark.operators.preference import (
        preference_pair_audit,
    )

    docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    d = F.col("doc_id")
    clean = F.substring(
        F.regexp_replace(F.col("text"), "[^A-Za-z0-9 ]", ""), 1, 8
    )
    chosen = F.concat(F.lit("ans "), (d % 50).cast("string"))
    rejected = (
        F.when(d % 17 == 0, chosen)
        .when(d % 23 == 0, F.lit(""))
        .when(
            d % 11 == 0,
            F.concat(F.lit("ans "), ((d + 3) % 50).cast("string")),
        )
        .otherwise(
            F.concat(F.lit("rej answer "), (d % 50).cast("string"))
        )
    )
    pairs = docs.select(
        d.alias("pair_id"),
        clean.alias("prompt"),
        chosen.alias("chosen"),
        rejected.alias("rejected"),
    )
    out = preference_pair_audit(pairs)
    return out.select(
        "pair_id",
        "identical_pair",
        "empty_side",
        "len_chosen",
        "len_rejected",
        F.round("len_log_ratio", 6).alias("len_log_ratio"),
        "prompt_pair_count",
        "chosen_contradicted",
        "valid",
    )


@query(
    "trigram_surprisal",
    f"""
    WITH t AS (
      SELECT doc_id, {_SQL_WS_TOKS} AS tk
      FROM documents WHERE text IS NOT NULL),
    tg AS (
      SELECT doc_id, tk[i] AS w1, tk[i+1] AS w2, tk[i+2] AS w3
      FROM (SELECT doc_id, unnest(generate_series(1, len(tk) - 2)) AS i,
                   tk
            FROM t WHERE len(tk) >= 3)),
    c3 AS (SELECT w1, w2, w3, count(*) AS c3 FROM tg GROUP BY 1, 2, 3),
    c12 AS (SELECT w1, w2, sum(c3) AS c12 FROM c3 GROUP BY 1, 2),
    c23 AS (SELECT w2, w3, sum(c3) AS c23 FROM c3 GROUP BY 1, 2),
    c2 AS (SELECT w2, sum(c3) AS c2 FROM c3 GROUP BY 1),
    u3 AS (SELECT w3, sum(c3) AS c3u FROM c3 GROUP BY 1),
    n AS (SELECT CAST(sum(c3) AS DOUBLE) AS nn FROM c3)
    SELECT g.doc_id,
           CAST(count(*) AS BIGINT) AS n_trigrams,
           round(avg(-log2(0.6 * (c3 / c12)
                           + 0.3 * (c23 / c2)
                           + 0.1 * (c3u / nn))), 6) AS avg_surprisal
    FROM tg g JOIN c3 USING (w1, w2, w3) JOIN c12 USING (w1, w2)
         JOIN c23 USING (w2, w3) JOIN c2 USING (w2) JOIN u3 USING (w3)
         CROSS JOIN n
    GROUP BY g.doc_id
    """,
)
def q_trigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jelinek-Mercer interpolated trigram LM surprisal — the next
    Markov order above bigram_surprisal and the closest
    zero-dependency analog of CCNet's KenLM perplexity filter. All
    five count legs derive from ONE persisted trigram-type frame
    (C(w2,.) = counts grouped on the middle token); the oracle
    replays every leg and the interpolation arithmetic."""
    from polars_text_spark.operators.quality import (
        trigram_interpolated_surprisal,
    )

    docs = _docs(spark, sf_dir)
    out = trigram_interpolated_surprisal(
        docs, "text", "doc_id", lambdas=(0.6, 0.3, 0.1)
    )
    return out.select(
        "doc_id",
        "n_trigrams",
        F.round("avg_surprisal", 6).alias("avg_surprisal"),
    )


@query(
    "trigram_cross_score",
    f"""
    WITH t AS (
      SELECT doc_id, {_SQL_WS_TOKS} AS tk
      FROM documents WHERE text IS NOT NULL),
    tg AS (
      SELECT doc_id, tk[i] AS w1, tk[i+1] AS w2, tk[i+2] AS w3
      FROM (SELECT doc_id, unnest(generate_series(1, len(tk) - 2)) AS i,
                   tk
            FROM t WHERE len(tk) >= 3)),
    fit AS (SELECT * FROM tg WHERE (doc_id % 3) <> 0),
    c3 AS (SELECT w1, w2, w3, count(*) AS c3 FROM fit GROUP BY 1, 2, 3),
    c12 AS (SELECT w1, w2, sum(c3) AS c12 FROM c3 GROUP BY 1, 2),
    c23 AS (SELECT w2, w3, sum(c3) AS c23 FROM c3 GROUP BY 1, 2),
    c2 AS (SELECT w2, sum(c3) AS c2 FROM c3 GROUP BY 1),
    u3 AS (SELECT w3, sum(c3) AS c3u FROM c3 GROUP BY 1),
    n AS (SELECT CAST(sum(c3) AS DOUBLE) AS nn FROM c3),
    score AS (SELECT * FROM tg WHERE (doc_id % 3) = 0)
    SELECT g.doc_id,
           CAST(count(*) AS BIGINT) AS n_trigrams,
           CAST(sum(CASE WHEN c3.c3 IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_unknown,
           round(1.0 - sum(CASE WHEN c3.c3 IS NULL THEN 1 ELSE 0 END)
                       / CAST(count(*) AS DOUBLE), 6) AS coverage,
           round(avg(-log2(
                0.6 * coalesce(CAST(c3.c3 AS DOUBLE) / c12.c12, 0)
                + 0.3 * coalesce(CAST(c23.c23 AS DOUBLE) / c2.c2, 0)
                + 0.1 * coalesce(CAST(u3.c3u AS DOUBLE), 1) / nn)),
                6) AS avg_surprisal
    FROM score g
      LEFT JOIN c3 ON g.w1 = c3.w1 AND g.w2 = c3.w2 AND g.w3 = c3.w3
      LEFT JOIN c12 ON g.w1 = c12.w1 AND g.w2 = c12.w2
      LEFT JOIN c23 ON g.w2 = c23.w2 AND g.w3 = c23.w3
      LEFT JOIN c2 ON g.w2 = c2.w2
      LEFT JOIN u3 ON g.w3 = u3.w3
      CROSS JOIN n
    GROUP BY g.doc_id
    """,
)
def q_trigram_cross_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-corpus trigram-LM scoring with OOV backoff (ADVICE r12):
    fit the Jelinek-Mercer model on 2/3 of the corpus, score the held-
    out third with ``oov="backoff"`` — left joins, zero-mass unknown
    legs, and the l1/N unigram floor, plus the dropped-mass accounting
    (``n_unknown``, ``coverage``) that the default inner-join mode
    cannot see. The oracle replays the fit counts, every left join,
    the coalesce arithmetic and the floor — a silently-skipped OOV
    trigram or a mis-floored unseen word shifts both the coverage and
    the average and fails the value hash."""
    from polars_text_spark.operators.quality import (
        fit_trigram_lm,
        score_trigram_lm,
    )

    docs = _docs(spark, sf_dir)
    model = fit_trigram_lm(docs.filter(F.col("doc_id") % 3 != 0), "text")
    out = score_trigram_lm(
        docs.filter(F.col("doc_id") % 3 == 0),
        model,
        "text",
        "doc_id",
        lambdas=(0.6, 0.3, 0.1),
        oov="backoff",
    )
    return out.select(
        "doc_id",
        "n_trigrams",
        "n_unknown",
        F.round("coverage", 6).alias("coverage"),
        F.round("avg_surprisal", 6).alias("avg_surprisal"),
    )


# ---------------------------------------------------------------------------
# Driver correctness-window rotation.
#
# The driver records at most ~50 CORRECTNESS rows per round, taken in
# ``queries()`` iteration order. With 160+ queries, some never get a
# driver-signed row unless we rotate. Queries listed here are moved to
# the FRONT of the registry (preserving their relative order); the rest
# keep their original order behind them. Round 14 fills the WHOLE
# 50-row window explicitly: the five round-14 additions (never
# signed), the six no-oracle/voucher PAIRS (adjacency pinned by
# tests/test_registry_rotation.py), and ALL 33 queries whose latest
# signature is r10 — the oldest remaining after rounds 12/13 refreshed
# the r8/r9 tails. After this round every signature is r11+.


# ---------------------------------------------------------------------------
# Round-14 queries: the MinHash store's first driver-hashed lifecycles
# (generational atomic maintenance, v1->v2 migration) and the
# collapse_left="auto" route on both cross-dedup faces.
# ---------------------------------------------------------------------------

# identical-text families riding the store lifecycles (round 15): the
# resized corpus slices (VERDICT r14 #2) can carry zero natural
# near-dup pairs at small scale factors, which would leave the driver
# hash with no entropy — the families guarantee rows AND make
# tombstone preservation load-bearing in the hash (the tombstoned
# member's pairs must be absent after the cutover).
_MIG_FAM_TEXT = "mgstore alpha beta gamma delta epsilon zeta"
_MIG_FAM_START = 3_400_000_000
_RBK_FAM_TEXT = "rbstore alpha beta gamma delta epsilon zeta"
_RBK_FAM_START = 3_300_000_000


def _lifecycle_family(spark, start: int, text: str, n: int = 6):
    return spark.range(n).select(
        (F.lit(start) + F.col("id")).alias("doc_id"),
        F.lit(text).alias("text"),
    )


@query(
    "minhash_store_migrate",
    f"""
    WITH sh AS ({_sql_shingle_sets(
        "(doc_id % 8 = 0 AND doc_id % 40 <> 0) OR doc_id % 16 = 9")})
    {_sql_jaccard_pairs(0.9)}
    UNION ALL  -- the family clique minus the tombstoned member 3:
               -- members 0-3 rode the original store (3 deleted),
               -- 4-5 the post-migration shard
    SELECT {_MIG_FAM_START} + i AS id_a, {_MIG_FAM_START} + j AS id_b,
           1.0 AS jaccard
    FROM generate_series(0, 5) s(i) JOIN generate_series(0, 5) t(j)
      ON i < j
    WHERE i <> 3 AND j <> 3
    """,
)
def q_minhash_store_migrate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The v1->v2 store migration lifecycle under the driver hash
    (VERDICT r13 #4): write the standing store over a 1/8 slice,
    tombstone every 5th store doc, stamp the meta back to shingle hash
    family v1 (the simulated legacy store), PROVE the loud append
    refusal, ``rebuild_minhash_store`` from the authority corpus
    (atomic generational cutover, tombstones preserved), append a new
    disjoint 1/16 shard, and answer ``pairs_from_store`` at j >= 0.9
    over the grown store. The oracle is the full-pairwise
    exact-Jaccard SQL over (store ∪ shard) minus the tombstoned docs
    — recall 1 - 4e-8 at 16x4 banding, so a migration that loses
    rows, drops tombstones, re-shingles under the wrong parameters,
    or leaves mixed-family tables fails the value hash. Corpus
    fractions shrunk from 1/2 + 1/4 in round 15 (VERDICT r14 #2):
    the query proves lifecycle SEMANTICS, not throughput — the 10x
    probes own throughput — so it carries the smallest corpus that
    still exercises every step, plus a planted 6-member identical
    family (4 in the store with one TOMBSTONED, 2 in the shard) so
    the hash always carries rows and the migration's tombstone
    preservation is load-bearing: member 3's pairs must be absent."""
    import os

    from polars_text_spark.operators.dedup import SHINGLE_HASH_VERSION
    from polars_text_spark.operators.dedup_store import (
        _write_meta,
        append_minhash_shard,
        delete_ids,
        pairs_from_store,
        rebuild_minhash_store,
        write_minhash_store,
    )

    docs = _docs(spark, sf_dir, wide=False).filter(
        F.col("text").isNotNull()
    ).select("doc_id", "text")
    fam = _lifecycle_family(spark, _MIG_FAM_START, _MIG_FAM_TEXT)
    evens = docs.filter(F.col("doc_id") % 8 == 0).unionByName(
        fam.filter(F.col("doc_id") < _MIG_FAM_START + 4)
    )
    shard = docs.filter(F.col("doc_id") % 16 == 9).unionByName(
        fam.filter(F.col("doc_id") >= _MIG_FAM_START + 4)
    )
    name = f"mhmig_{os.getpid()}"
    _register_store_cleanup(spark, name)
    write_minhash_store(evens, name, buckets=4)
    delete_ids(
        evens.filter(
            ((F.col("doc_id") % 10 == 0) & (F.col("doc_id") < _MIG_FAM_START))
            | (F.col("doc_id") == _MIG_FAM_START + 3)
        ),
        name,
    )
    # simulate the legacy store: stamp the v1 family into a fresh
    # meta log (replacing the store's, not appending to it)
    _write_meta(
        spark, name, num_perm=64, bands=16, shingle_n=3, buckets=4, hashv=1,
    )
    try:
        append_minhash_shard(shard, name)
    except ValueError:
        pass  # the loud v1-family refusal — required
    else:
        raise RuntimeError(
            "v1-family store accepted a v2 append — the hash-family "
            "guard is broken"
        )
    rebuild_minhash_store(spark, name, evens)
    from polars_text_spark.sources.bucketing import read_meta

    assert int(read_meta(spark, name)["hashv"]) == SHINGLE_HASH_VERSION
    append_minhash_shard(shard, name)
    pairs = pairs_from_store(spark, name, jaccard_threshold=0.9)
    return pairs.select(
        "id_a", "id_b", F.round(F.col("jaccard"), 6).alias("jaccard")
    )


@query(
    "minhash_store_rebucket",
    f"""
    WITH sh AS ({_sql_shingle_sets("doc_id % 8 = 2 AND doc_id % 10 <> 0")})
    {_sql_jaccard_pairs(0.9)}
    UNION ALL  -- the family clique minus the tombstoned member 5:
               -- members 0-2 rode the write, 3-5 the append
    SELECT {_RBK_FAM_START} + i AS id_a, {_RBK_FAM_START} + j AS id_b,
           1.0 AS jaccard
    FROM generate_series(0, 4) s(i) JOIN generate_series(0, 4) t(j)
      ON i < j
    """,
)
def q_minhash_store_rebucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MinHash twin of ``ann_store_rebucket`` (round 14,
    generational atomic cutover): write at 4 buckets on half of a 1/8
    doc slice, append the other half, tombstone every 10th, rebucket
    to 8 (next generation + one meta flip + old generation dropped),
    and answer ``pairs_from_store`` from the rewritten tables. Oracle
    = full-pairwise exact Jaccard over the surviving docs; a rewrite
    that drops/duplicates rows, loses tombstones, or breaks either
    table fails the value hash (bucket count, generation pointer, and
    the co-located plan are pinned in tests/test_store_generations.py
    and test_dedup_store.py). Slice shrunk from 1/2 in round 15
    (VERDICT r14 #2 — semantics, not throughput), with a planted
    6-member identical family (3 written, 3 appended, 1 tombstoned)
    so the hash always carries rows at every scale factor."""
    import os

    from polars_text_spark.operators.dedup_store import (
        append_minhash_shard,
        delete_ids,
        pairs_from_store,
        rebucket_minhash_store,
        write_minhash_store,
    )

    docs = _docs(spark, sf_dir, wide=False).filter(
        F.col("text").isNotNull()
    ).select("doc_id", "text")
    fam = _lifecycle_family(spark, _RBK_FAM_START, _RBK_FAM_TEXT)
    evens = docs.filter(F.col("doc_id") % 8 == 2)
    name = f"mhrbk_{os.getpid()}"
    _register_store_cleanup(spark, name)
    write_minhash_store(
        evens.filter(F.col("doc_id") % 16 == 2).unionByName(
            fam.filter(F.col("doc_id") < _RBK_FAM_START + 3)
        ),
        name,
        buckets=4,
    )
    append_minhash_shard(
        evens.filter(F.col("doc_id") % 16 == 10).unionByName(
            fam.filter(F.col("doc_id") >= _RBK_FAM_START + 3)
        ),
        name,
    )
    delete_ids(
        evens.filter(F.col("doc_id") % 10 == 0).unionByName(
            fam.filter(F.col("doc_id") == _RBK_FAM_START + 5)
        ),
        name,
    )
    rebucket_minhash_store(spark, name, 8)
    pairs = pairs_from_store(spark, name, jaccard_threshold=0.9)
    return pairs.select(
        "id_a", "id_b", F.round(F.col("jaccard"), 6).alias("jaccard")
    )


@query(
    "minhash_store_generations",
    """
    WITH n AS (
      SELECT CAST(count(*) AS BIGINT) AS n FROM documents
      WHERE text IS NOT NULL AND (doc_id % 16 = 0 OR doc_id % 16 = 8)
        AND doc_id % 32 <> 0)
    SELECT CAST(64 AS INT) AS num_perm, CAST(16 AS INT) AS bands,
           CAST(3 AS INT) AS shingle_n, CAST(4 AS INT) AS buckets,
           CAST(2 AS INT) AS hashv, CAST(2 AS INT) AS gen,
           n * 16 AS bands_rows, n AS shingle_rows,
           FALSE AS has_tombstones
    FROM n
    """,
)
def q_minhash_store_generations(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The generation-pointer protocol end to end on a small corpus
    (round 14): write (gen 0) -> append -> tombstone -> purge (atomic
    cutover, gen 1) -> rebucket (gen 2), then report the meta row and
    the RESOLVED physical tables' row counts. The oracle re-derives
    every field arithmetically from ``documents`` — a purge that
    leaves tombstoned rows, a cutover that loses appends, a meta flip
    that misses a field, or a resolver reading a stale generation all
    change the row. Slices shrunk 2x in round 15 (VERDICT r14 #2 —
    semantics, not throughput)."""
    import os

    from polars_text_spark.operators.dedup_store import (
        _phys,
        append_minhash_shard,
        delete_ids,
        purge_deleted,
        rebucket_minhash_store,
        write_minhash_store,
    )

    docs = _docs(spark, sf_dir, wide=False).filter(
        F.col("text").isNotNull()
    ).select("doc_id", "text")
    name = f"mhgen_{os.getpid()}"
    _register_store_cleanup(spark, name)
    write_minhash_store(
        docs.filter(F.col("doc_id") % 16 == 0), name, buckets=2
    )
    append_minhash_shard(docs.filter(F.col("doc_id") % 16 == 8), name)
    delete_ids(docs.filter(F.col("doc_id") % 32 == 0), name)
    purge_deleted(spark, name)
    rebucket_minhash_store(spark, name, 4)
    from polars_text_spark.sources.bucketing import read_meta

    m = read_meta(spark, name)
    bands_rows = spark.table(_phys(spark, name, "bands")).count()
    shingle_rows = spark.table(_phys(spark, name, "shingles")).count()
    return spark.createDataFrame(
        [(
            int(m["num_perm"]), int(m["bands"]), int(m["shingle_n"]),
            int(m["buckets"]), int(m["hashv"]), int(m["gen"]),
            int(bands_rows), int(shingle_rows),
            bool(spark.catalog.tableExists(f"{name}_tombstones")),
        )],
        "num_perm int, bands int, shingle_n int, buckets int, hashv int, "
        "gen int, bands_rows long, shingle_rows long, has_tombstones boolean",
    )


# identical-text shard family for the collapse_left="auto" gates:
# nonsense vocabulary (zero shingle overlap with the corpus), one
# matching STANDING doc so every fanned-back member carries a verified
# jaccard-1 pair — the fan-back itself is what the oracle checks.
_COLLAPSE_FAM_TEXT = "mgalpha mgbeta mggamma mgdelta mgepsilon mgzeta"
_COLLAPSE_FAM_N = 12
_COLLAPSE_STAND_ID = 3_000_000_000
_COLLAPSE_FAM_START = 3_100_000_000


def _collapse_frames(spark, docs, standing_pred):
    standing = docs.filter(standing_pred).unionByName(
        spark.createDataFrame(
            [(_COLLAPSE_STAND_ID, _COLLAPSE_FAM_TEXT)],
            "doc_id long, text string",
        )
    )
    fam = spark.range(_COLLAPSE_FAM_N).select(
        (F.lit(_COLLAPSE_FAM_START) + F.col("id")).alias("doc_id"),
        F.lit(_COLLAPSE_FAM_TEXT).alias("text"),
    )
    shard = docs.filter(F.col("doc_id") % 4 == 3).unionByName(fam)
    return shard, standing


def _sql_collapse_cross(standing_pred: str) -> str:
    """Oracle of both collapse_left='auto' faces: the exact cross pairs
    of the ``doc_id % 4 = 3`` shard against the standing docs matching
    ``standing_pred``, plus the shard family's fan-back rows."""
    return f"""
    WITH sa AS ({_sql_shingle_sets("doc_id % 4 = 3")}),
    sb AS ({_sql_shingle_sets(standing_pred)})
    {_sql_jaccard_pairs(0.9, on="TRUE", left="sa", right="sb")}
    UNION ALL  -- the collapsed family fans back: every member pairs
               -- with the standing twin at jaccard 1
    SELECT {_COLLAPSE_FAM_START} + i AS id_a,
           {_COLLAPSE_STAND_ID} AS id_b, 1.0 AS jaccard
    FROM generate_series(0, {_COLLAPSE_FAM_N - 1}) t(i)
"""


@query(
    "cross_dedup_collapse_auto",
    _sql_collapse_cross("doc_id % 2 = 0"),
)
def q_cross_dedup_collapse_auto(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """collapse_left='auto' on the in-flight cross-dedup face (VERDICT
    r13 #5): the shard carries a 12-member identical-text family, so
    the probe ENGAGES the collapse — one representative rides the
    pipeline and the verified pair against the standing twin fans back
    to every member. The oracle is the full cross-pair SQL plus the
    12 fan-back rows; a collapse that drops members, mis-keys the
    fan-back, or double-fans real docs fails the value hash."""
    from polars_text_spark.operators.dedup import minhash_lsh_cross_pairs

    docs = _docs(spark, sf_dir, wide=False).filter(
        F.col("text").isNotNull()
    ).select("doc_id", "text")
    shard, standing = _collapse_frames(
        spark, docs, F.col("doc_id") % 2 == 0
    )
    pairs = minhash_lsh_cross_pairs(
        shard, standing, "text", "doc_id",
        jaccard_threshold=0.9, collapse_left="auto",
    )
    return pairs.select(
        "id_a", "id_b", F.round(F.col("jaccard"), 6).alias("jaccard")
    )


@query(
    "incremental_store_collapse_auto",
    _sql_collapse_cross("doc_id % 4 = 0"),
)
def q_incremental_store_collapse_auto(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """collapse_left='auto' on the STORE ingest face: same shard
    family, standing corpus persisted as the bucketed MinHash store
    (its side reads co-located buckets; only the — collapsed — shard
    shuffles). Oracle identical in shape to the in-flight twin."""
    import os

    from polars_text_spark.operators.dedup_store import (
        incremental_pairs_from_store,
        write_minhash_store,
    )

    docs = _docs(spark, sf_dir, wide=False).filter(
        F.col("text").isNotNull()
    ).select("doc_id", "text")
    shard, standing = _collapse_frames(
        spark, docs, F.col("doc_id") % 4 == 0
    )
    name = f"mhcol_{os.getpid()}"
    _register_store_cleanup(spark, name)
    write_minhash_store(standing, name, buckets=4)
    pairs = incremental_pairs_from_store(
        spark, name, shard, jaccard_threshold=0.9, collapse_left="auto"
    )
    return pairs.select(
        "id_a", "id_b", F.round(F.col("jaccard"), 6).alias("jaccard")
    )


# ---------------------------------------------------------------------------
# Round-15 queries: band_cap="auto" in the FAMILY regime (the raise
# the easy-regime hotband gates cannot exercise) and the Bloom store's
# generational rebuild lifecycle.
# ---------------------------------------------------------------------------

# near-identical family for the auto-cap gate: 60 shared nonsense
# tokens + one unique trailing token per member -> 58 shared 3-gram
# shingles of 59 per member, pairwise jaccard exactly 58/60 (>= 0.9),
# DISTINCT MinHash signatures (the hard regime: the family saturates
# every band at a small cap and every declined pair is real loss)
_CAPAUTO_FAM_BASE = " ".join(f"qqcap{t}" for t in range(60))
_CAPAUTO_FAM_N = 40
_CAPAUTO_FAM_START = 3_200_000_000


@query(
    "near_dedup_capauto",
    f"""
    WITH sh AS ({_sql_shingle_sets("doc_id % 8 = 3")})
    {_sql_jaccard_pairs(0.9)}
    UNION ALL  -- the near-identical family survives IN FULL: auto
               -- walked the cap past the family size, so the clique
               -- is emitted and every pair verifies at exactly 58/60
    SELECT {_CAPAUTO_FAM_START} + i AS id_a,
           {_CAPAUTO_FAM_START} + j AS id_b,
           round(58 * 1.0 / 60, 6) AS jaccard
    FROM generate_series(0, {_CAPAUTO_FAM_N - 1}) s(i)
    JOIN generate_series(0, {_CAPAUTO_FAM_N - 1}) t(j) ON i < j
    """,
)
def q_near_dedup_capauto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``band_cap=("auto", 4)`` in the FAMILY regime (VERDICT r14 #6
    — the raise the easy-regime hotband gates cannot show): a
    40-member NEAR-identical family (distinct signatures — every
    member carries a unique trailing token) floods every band at caps
    4 and 16, where the declined-pair bound share dominates (the
    corpus rides as a 1/8 slice so the family regime, not the natural
    tail, owns the denominator at every scale factor), so the
    resolver walks the ladder to 64; at 64 the family is unsaturated,
    the bound is 0, and the guard engages nowhere — the output is the
    exact full-pairwise answer, which the oracle replays as the
    slice's pairwise SQL plus the family clique at jaccard 58/60. A
    resolver that stays at the base cap loses most of the clique (the
    round-14 orphaning regime); one that over-raises changes nothing
    here but is pinned by the easy-regime hotband gates keeping their
    base caps."""
    from polars_text_spark.operators.dedup import minhash_lsh_pairs

    docs = _docs(spark, sf_dir).filter(
        F.col("text").isNotNull() & (F.col("doc_id") % 8 == 3)
    ).select("doc_id", "text")
    fam = spark.range(_CAPAUTO_FAM_N).select(
        (F.lit(_CAPAUTO_FAM_START) + F.col("id")).alias("doc_id"),
        F.concat(
            F.lit(_CAPAUTO_FAM_BASE + " qqcapm"), F.col("id").cast("string")
        ).alias("text"),
    )
    pairs = minhash_lsh_pairs(
        docs.unionByName(fam), "text", "doc_id",
        jaccard_threshold=0.9, band_cap=("auto", 4),
    )
    return pairs.select(
        "id_a", "id_b", F.round(F.col("jaccard"), 6).alias("jaccard")
    )


@query(
    "bloom_store_rebuild",
    """
    SELECT d.doc_id,
           d.text IN (SELECT text FROM documents
                      WHERE text IS NOT NULL
                        AND (doc_id % 16 = 9 OR doc_id % 8 = 5
                             OR doc_id % 8 = 7))
             AS in_reference
    FROM documents d WHERE d.text IS NOT NULL
    """,
)
def q_bloom_store_rebuild(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Bloom store's generational rebuild lifecycle (VERDICT r14
    #5): write the store over the %8==1 texts, append the %8==5
    shard, ``rebuild_bloom_store`` from an authority set that DROPS
    the %16==1 half of the original slice (the deletion verb — a
    Bloom cannot unset bits; the rebuild is the atomic-cutover
    replacement for the silent-loss plain overwrite), append a
    further %8==7 shard INTO THE NEW GENERATION, and gate every doc
    bloom-first with the exact confirm join. A rebuild that loses the
    kept keys, flips the meta pointer early, or strands the
    post-rebuild append in a dropped generation produces false
    negatives, which skip the confirm join and flip ``in_reference``
    — the oracle's plain IN-subquery replay catches it."""
    import os

    from polars_text_spark.operators.bloom import (
        append_bloom_shard,
        bloom_might_contain,
        bloom_params,
        read_bloom_store,
        rebuild_bloom_store,
        write_bloom_store,
    )
    from polars_text_spark.sources.bucketing import store_generation

    docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull()).select(
        "doc_id", "text"
    )
    name = f"bloomrb_{os.getpid()}"
    _register_store_cleanup(spark, name)
    ref_pred = (
        (F.col("doc_id") % 16 == 9)
        | (F.col("doc_id") % 8 == 5)
        | (F.col("doc_id") % 8 == 7)
    )
    m_bits, n_hashes = bloom_params(docs.filter(ref_pred).count(), 0.01)
    write_bloom_store(
        docs.filter(F.col("doc_id") % 8 == 1), "text", name,
        m_bits=m_bits, n_hashes=n_hashes,
    )
    append_bloom_shard(docs.filter(F.col("doc_id") % 8 == 5), "text", name)
    authority = docs.filter(
        (F.col("doc_id") % 16 == 9) | (F.col("doc_id") % 8 == 5)
    )
    rebuild_bloom_store(spark, authority, "text", name)
    assert store_generation(spark, name) == 1  # the cutover happened
    append_bloom_shard(docs.filter(F.col("doc_id") % 8 == 7), "text", name)
    bloom = read_bloom_store(spark, name)
    probed = bloom_might_contain(docs, "text", bloom, out_col="__maybe")
    ref_texts = (
        docs.filter(ref_pred).select(F.col("text").alias("__rt")).distinct()
    )
    hits = (
        probed.where(F.col("__maybe"))
        .join(
            F.broadcast(ref_texts),
            probed["text"] == F.col("__rt"),
            "left_semi",
        )
        .select("doc_id", F.lit(True).alias("__in"))
    )
    return docs.select("doc_id").join(hits, "doc_id", "left").select(
        "doc_id", F.coalesce(F.col("__in"), F.lit(False)).alias("in_reference")
    )


# ---------------------------------------------------------------------------

_DRIVER_PRIORITY = [
    # round-16 re-signs (outputs changed): the ANN store-lifecycle
    # trio resized per VERDICT r15 #3 — slice predicates changed, so
    # the driver must re-sign their rows this round
    "ann_store_incremental",
    "ann_store_delete",
    "ann_store_rebucket",
    # EVERY no-oracle/rows-only query sits ADJACENT to the
    # hash-replayed query that vouches for it (sha twins; the
    # oracle-checked assemble stage for the topic pipeline; the exact
    # top-k the recall report is built on), so a fast-path regression
    # can never be signed in a window that excludes its voucher
    # (pinned by tests/test_registry_rotation.py).
    "similarity_topk_lsh",
    "similarity_topk_lsh_sha",
    "similarity_topk_ivf",
    "similarity_topk_ivf_sha",
    "near_dedup_simhash",
    "near_dedup_simhash_sha",
    "embedding_docs",
    "embedding_docs_sha",
    "topic_modeling",
    "topic_assemble",
    "similarity_ann_recall",
    "similarity_topk",
    # THEN: the oldest driver signatures, oldest first (VERDICT r15
    # #2). The r11-signed stragglers — the tail of the old cohort the
    # r15 window could not fit:
    "scalar_text_stats",
    "sentence_segments",
    "similarity_topk_int8",
    "supplier_part_coverage",
    "token_frequencies",
    "token_frequency_stats",
    "tokenize_offsets",
    "top_customer_revenue",
    "vocab_spelling",
    # ... then the r12-signed cohort (alphabetical; the first 26 fill
    # this round's ~50-row window — 3 + 12 + 9 + 26; the last 9 rows
    # below land just outside it and lead the r17 window)
    "bigram_surprisal",
    "bloom_decontam",
    "bm25_search",
    "containment_dups",
    "corpus_pooling_union",
    "decontaminate_ngrams",
    "decontaminate_semantic",
    "dehyphenate_repair",
    "embedding_cached",
    "event_sessions",
    "events_asof_clicks",
    "events_first_hour",
    "events_gapfill",
    "events_props_json",
    "fim_psm",
    "gopher_line_stats",
    "lang_consistency",
    "length_quantiles",
    "link_stats",
    "mojibake_scan",
    "normalize_and_stopwords",
    "pack_sequences",
    "pii_redact",
    "quality_weighted_sample",
    "repetition_signals",
    "sequence_manifest",
    "similarity_topk_lsh_sha_arrow",
    "source_divergence",
    "stratified_sample",
    "surprisal_buckets",
    "topic_ctfidf",
    "topic_projector",
    "topic_rollup",
    "unigram_surprisal",
    "vocab_oov",
]


def _rotate_registry() -> None:
    global QUERIES, ORACLES
    front = [n for n in _DRIVER_PRIORITY if n in QUERIES]
    rest = [n for n in QUERIES if n not in set(front)]
    QUERIES = {n: QUERIES[n] for n in front + rest}
    ORACLES = {n: ORACLES[n] for n in front + rest if n in ORACLES}


_rotate_registry()
