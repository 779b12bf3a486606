"""Round-6 additions: sha-portable embedding variant, deterministic
topic-stage oracles, foot-gun guards, and ADVICE fixes."""

from __future__ import annotations

import hashlib
import math
import re

import numpy as np
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# native:feature-hash-sha — the oracle-portable embedder variant
# ---------------------------------------------------------------------------


def test_feature_hash_sha_matches_manual_recompute():
    from polars_text_spark.functions.embedding import load_embedder
    from polars_text_spark.functions.tokenize import plain_word_records

    emb = load_embedder("native:feature-hash-sha:64")
    text = "The quick brown fox jumps over the lazy dog. The dog sleeps!"
    vec = emb.embed_batch([text])[0]
    assert vec.dtype == np.float32 and vec.shape == (64,)

    acc = np.zeros(64, dtype=np.float64)
    for tok, _, _ in plain_word_records(text.lower(), True):
        h = int(hashlib.sha256(tok.encode()).hexdigest()[:15], 16)
        acc[h % 64] += 1.0 if (h >> 59) & 1 else -1.0
    norm = math.sqrt(float(np.dot(acc, acc)))
    expected = (acc / norm).astype(np.float32)
    assert np.array_equal(vec, expected)
    assert abs(float(np.linalg.norm(vec)) - 1.0) < 1e-6


def test_feature_hash_model_id_parsing():
    from polars_text_spark.functions.embedding import _build_embedder

    assert _build_embedder("native:feature-hash").token_hash == "md5"
    assert _build_embedder("native:feature-hash:32").dim == 32
    sha = _build_embedder("native:feature-hash-sha")
    assert sha.token_hash == "sha" and sha.dim == 64
    sha16 = _build_embedder("native:feature-hash-sha:16")
    assert sha16.token_hash == "sha" and sha16.dim == 16
    with pytest.raises(ValueError, match="feature-hash"):
        _build_embedder("native:feature-hashXX")


def test_feature_hash_sha_differs_from_md5_but_same_shape():
    from polars_text_spark.functions.embedding import load_embedder

    a = load_embedder("native:feature-hash:64").embed_batch(["hello world"])
    b = load_embedder("native:feature-hash-sha:64").embed_batch(["hello world"])
    assert a.shape == b.shape
    assert not np.array_equal(a[0], b[0])


# ---------------------------------------------------------------------------
# ADVICE r5: internal staging-column collisions raise instead of
# silently dropping user columns
# ---------------------------------------------------------------------------


def test_staging_column_collisions_raise(spark):
    from polars_text_spark.operators.interval import interval_join
    from polars_text_spark.operators.similarity import (
        with_l2_normalized,
        with_quantized,
    )
    from polars_text_spark.operators.skew import salted_join
    from polars_text_spark.operators.winnow import with_winnow_fingerprints

    vec = spark.createDataFrame(
        [(1, [1.0, 2.0], "keep-me")], "id long, v array<double>, __ptx_norm string"
    )
    with pytest.raises(ValueError, match="__ptx_norm"):
        with_l2_normalized(vec, "v", "u")
    vec2 = vec.withColumnRenamed("__ptx_norm", "__ptx_mx")
    with pytest.raises(ValueError, match="__ptx_mx"):
        with_quantized(vec2, "v", "z")

    txt = spark.createDataFrame(
        [(1, "a b c", 7)], "doc_id long, text string, __wn_toks long"
    )
    with pytest.raises(ValueError, match="__wn_toks"):
        with_winnow_fingerprints(txt, "text")

    big = spark.createDataFrame([(1, 0)], "k long, __salt int")
    small = spark.createDataFrame([(1, "x")], "k long, name string")
    with pytest.raises(ValueError, match="__salt"):
        salted_join(big, small, ["k"])

    pts = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", 5)], "pid long, ts string, __bucket long"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    ivs = spark.createDataFrame(
        [("2024-01-01 00:00:00", "2024-01-01 01:00:00")],
        "start_ts string, end_ts string",
    ).select(
        F.col("start_ts").cast("timestamp").alias("start_ts"),
        F.col("end_ts").cast("timestamp").alias("end_ts"),
    )
    with pytest.raises(ValueError, match="__bucket"):
        interval_join(pts, ivs)


# ---------------------------------------------------------------------------
# ADVICE r5: interval_join span guard + inverted-interval drop
# ---------------------------------------------------------------------------


def _ts_df(spark, rows, schema):
    df = spark.createDataFrame(rows, schema)
    for c, t in df.dtypes:
        if c.endswith("ts"):
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def test_interval_join_rejects_sentinel_span(spark):
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import SparkRuntimeException

    from polars_text_spark.operators.interval import interval_join

    pts = _ts_df(spark, [(1, "2024-01-01 00:30:00")], "pid long, ts string")
    dirty = _ts_df(
        spark,
        [("2024-01-01 00:00:00", "9999-12-31 00:00:00")],
        "start_ts string, end_ts string",
    )
    out = interval_join(pts, dirty, bucket_seconds=3600)
    with pytest.raises((SparkRuntimeException, Py4JJavaError)) as exc:
        out.collect()
    assert "max_span_buckets" in str(exc.value)
    # same data passes with a bucket size that keeps the span bounded
    wide = interval_join(
        pts, dirty, bucket_seconds=3600 * 24 * 365 * 100, max_span_buckets=100
    )
    assert wide.count() == 1


def test_interval_join_drops_inverted_intervals(spark):
    from polars_text_spark.operators.interval import interval_join

    pts = _ts_df(spark, [(1, "2024-01-01 00:30:00")], "pid long, ts string")
    ivs = _ts_df(
        spark,
        [
            ("2024-01-01 01:00:00", "2024-01-01 00:00:00", "inverted"),
            ("2024-01-01 00:00:00", "2024-01-01 01:00:00", "ok"),
        ],
        "start_ts string, end_ts string, tag string",
    )
    rows = interval_join(pts, ivs, bucket_seconds=3600).collect()
    assert [r["tag"] for r in rows] == ["ok"]
    # left join still keeps the point even when only inverted intervals exist
    left = interval_join(
        pts,
        ivs.filter(F.col("tag") == "inverted"),
        bucket_seconds=3600,
        how="left",
        point_id_col="pid",
    ).collect()
    assert len(left) == 1 and left[0]["tag"] is None


# ---------------------------------------------------------------------------
# VERDICT r5 #5: single-Column forms are let-bound — no O(d^2) re-inlining
# ---------------------------------------------------------------------------


def test_let_binding_evaluates_once():
    """let() must produce body(var) semantics: transform(array(x),f)[0]."""
    from polars_text_spark.plans.exprs import let

    c = let(F.lit(21), lambda v: v + v)
    # structural check: the bound value appears ONCE in the expression
    # (as a whole token: the lambda variable's name carries a
    # process-wide counter, e.g. ``x_2821``, that may contain "21")
    assert len(re.findall(r"\b21\b", str(c))) == 1


def test_winnow_column_form_bounded_on_long_doc(spark):
    """A 10k-token doc through the PUBLIC Column API completes fast —
    the O(G^2) re-inlining of the r5 form made this time out."""
    import random
    import time

    from polars_text_spark.operators.winnow import (
        winnow_fingerprints,
        with_winnow_fingerprints,
    )

    random.seed(6)
    docs = [
        (i, " ".join(f"t{random.randrange(500)}" for _ in range(10_000)))
        for i in range(8)
    ] + [(100, "a b"), (101, ""), (102, None), (103, "one two three four five six")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    t0 = time.time()
    col_form = {
        r["doc_id"]: r["fp"]
        for r in df.select(
            "doc_id", winnow_fingerprints("text").alias("fp")
        ).collect()
    }
    assert time.time() - t0 < 30.0
    staged = {
        r["doc_id"]: r["fp"]
        for r in with_winnow_fingerprints(df, "text", "fp")
        .select("doc_id", "fp")
        .collect()
    }
    assert col_form == staged
    assert col_form[102] is None and col_form[101] == []


def test_l2_and_quantize_column_forms_match_staged(spark):
    from polars_text_spark.operators.similarity import (
        l2_normalize,
        quantize_vec,
        with_l2_normalized,
        with_quantized,
    )

    df = spark.createDataFrame(
        [(1, [3.0, 4.0]), (2, [0.0, 0.0]), (3, None)],
        "id long, v array<double>",
    )
    a = {
        r["id"]: (r["u"], r["z"])
        for r in df.select(
            "id",
            l2_normalize(F.col("v")).alias("u"),
            quantize_vec(F.col("v")).alias("z"),
        ).collect()
    }
    staged = with_quantized(with_l2_normalized(df, "v", "u"), "v", "z")
    b = {r["id"]: (r["u"], r["z"]) for r in staged.select("id", "u", "z").collect()}
    assert a == b
    assert a[1][0] == [0.6, 0.8] and a[2][0] == [0.0, 0.0] and a[3][0] is None


# ---------------------------------------------------------------------------
# VERDICT r5 #3: unblocked pairwise crossJoin requires explicit opt-in
# ---------------------------------------------------------------------------


def test_unblocked_pairwise_requires_opt_in(spark):
    from polars_text_spark.operators.dedup import ngram_jaccard_pairs

    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c e")], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="set_similarity_jaccard_pairs"):
        ngram_jaccard_pairs(df, threshold=0.5, strategy="pairwise")
    # explicit opt-in still works, and blocked pairwise never needed it
    assert (
        ngram_jaccard_pairs(
            df,
            threshold=0.1,
            strategy="pairwise",
            allow_unblocked_pairwise=True,
        ).count()
        == 1
    )


# ---------------------------------------------------------------------------
# Bottom-k (KMV) sketch dedup — estimator semantics
# ---------------------------------------------------------------------------


def test_bottomk_estimate_tracks_true_jaccard(spark):
    from polars_text_spark.operators.dedup import (
        bottomk_sketch_pairs,
        ngram_jaccard_pairs,
    )

    base = ("w%d " % i for i in range(60))
    words = list(base)
    docs = [
        (1, "".join(words)),                      # 58 shingles
        (2, "".join(words[:50]) + "x y z "),      # high overlap with 1
        (3, "totally different content here"),
        (4, "totally different content here"),    # exact dup of 3
        (5, "a b"),                               # short doc (single shingle)
        (6, "a b"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    est = {
        (r.id_a, r.id_b): r.est_jaccard
        for r in bottomk_sketch_pairs(df, k=32, threshold=0.1).collect()
    }
    true = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(
            df, threshold=0.1, strategy="setjoin"
        ).collect()
    }
    # exact dups and sub-k sets estimate EXACTLY
    assert est[(3, 4)] == 1.0 and est[(5, 6)] == 1.0
    # the high-overlap pair is detected and the estimate tracks truth
    assert abs(est[(1, 2)] - true[(1, 2)]) < 0.2
    # no pair invented that truth says is < 0.05
    for pair in est:
        assert true.get(pair, 0.0) > 0.05


def test_bottomk_sketch_is_bounded_and_sorted(spark):
    from polars_text_spark.operators.dedup import bottomk_sketch

    df = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(500))), (2, None), (3, "")],
        "doc_id long, text string",
    )
    rows = {
        r.doc_id: r.sk
        for r in df.select(
            "doc_id", bottomk_sketch("text", k=16).alias("sk")
        ).collect()
    }
    assert len(rows[1]) == 16 and rows[1] == sorted(rows[1])
    assert rows[2] is None
    assert len(rows[3]) == 1  # whole-run shingle of the empty token


# ---------------------------------------------------------------------------
# VERDICT r5 #6: ANN recall report — driver-visible quality floor
# ---------------------------------------------------------------------------


def test_ann_recall_report_floor(spark):
    """Both approximate methods recover >= 0.8 of the exact top-10 on
    the real embeddings table at the query's operating point."""
    from polars_text_spark.queries import QUERIES

    rows = {
        r["method"]: r
        for r in QUERIES["similarity_ann_recall"](
            spark, "/root/testdata/sf0.01"
        ).collect()
    }
    assert set(rows) == {"lsh", "ivf"}
    for method, r in rows.items():
        assert r["recall_at_k"] >= 0.8, (method, r)
        assert r["n_exact"] == 50 and r["k"] == 10


# ---------------------------------------------------------------------------
# ADVICE r5: load_events no longer leaks nanosAsLong into the session
# ---------------------------------------------------------------------------


def test_load_events_restores_nanos_conf(spark, tmp_path):
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from polars_text_spark.sources.catalog import load_events

    ts = pa.array(
        np.array(
            [1_700_000_000_000_000_000, 1_700_000_001_500_000_000], dtype="int64"
        ),
        type=pa.timestamp("ns"),
    )
    pq.write_table(
        pa.table({"ts": ts, "event_id": pa.array([1, 2], type=pa.int64())}),
        str(tmp_path / "events.parquet"),
    )
    conf_key = "spark.sql.legacy.parquet.nanosAsLong"

    def conf_value():
        try:
            return spark.conf.get(conf_key)
        except Exception:
            return None

    before = conf_value()
    df = load_events(spark, str(tmp_path))
    assert conf_value() == before, "session conf leaked"
    rows = {r["event_id"]: r["ts"] for r in df.collect()}
    assert rows[1].isoformat() == "2023-11-14T22:13:20"
    assert rows[2].microsecond == 500000
