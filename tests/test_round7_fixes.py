"""Round-7 changes: k-means broadcast-join assignment, SemDeDup
cluster-size guard, bottom-k count-prune x max_df soundness, tiny-scan
widening opt-out, chunk_rows invariants, filter collision reporting,
deterministic IVF parity."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# k-means: literal vs broadcast-join assignment equivalence (VERDICT r6 #4)
# ---------------------------------------------------------------------------


def test_kmeans_join_strategy_matches_literal(spark, sf_dir):
    from polars_text_spark.operators.semdedup import kmeans_fit

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    lit_df, lit_c = kmeans_fit(
        emb, "embedding", "vec_id", k=8, iterations=2,
        assign_strategy="literal",
    )
    join_df, join_c = kmeans_fit(
        emb, "embedding", "vec_id", k=8, iterations=2,
        assign_strategy="join",
    )
    assert lit_c == join_c
    a = {r["vec_id"]: r["cluster"] for r in lit_df.collect()}
    b = {r["vec_id"]: r["cluster"] for r in join_df.collect()}
    assert a == b and len(a) > 0


def test_kmeans_join_strategy_plan_broadcasts(spark, sf_dir):
    from polars_text_spark.operators.semdedup import kmeans_fit

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    join_df, _ = kmeans_fit(
        emb, "embedding", "vec_id", k=4, iterations=1,
        assign_strategy="join",
    )
    plan = join_df._jdf.queryExecution().executedPlan().toString()
    # the k-row centroid table is the broadcast build side (NLJ is the
    # hash-join-equivalent physical form for an every-row-matches join)
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_kmeans_auto_picks_join_above_threshold(spark):
    from polars_text_spark.operators import semdedup as sd

    df = spark.createDataFrame(
        [(i, [float(i), float(i % 3)]) for i in range(20)],
        "vec_id int, embedding array<double>",
    )
    old = sd.JOIN_ASSIGN_THRESHOLD
    try:
        sd.JOIN_ASSIGN_THRESHOLD = 3  # k*dim = 2*2 = 4 > 3
        out, _ = sd.kmeans_fit(
            df, "embedding", "vec_id", k=2, iterations=1,
            assign_strategy="auto",
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastNestedLoopJoin" in plan
    finally:
        sd.JOIN_ASSIGN_THRESHOLD = old


def test_kmeans_ragged_vectors_dropped(spark):
    from polars_text_spark.operators.semdedup import kmeans_fit

    df = spark.createDataFrame(
        [
            (0, [0.0, 0.0]),
            (1, [1.0, 1.0]),
            (2, [5.0]),  # ragged: shorter than seed dim
            (3, [9.0, 9.0, 9.0]),  # ragged: longer
            (4, [8.0, 8.0]),
        ],
        "vec_id int, embedding array<double>",
    )
    out, _ = kmeans_fit(df, "embedding", "vec_id", k=2, iterations=2)
    rows = {r["vec_id"]: r["cluster"] for r in out.collect()}
    assert set(rows) == {0, 1, 4}  # ragged rows dropped, no KeyError
    assert rows[0] == rows[1] or rows[0] == 0  # sane assignment


# ---------------------------------------------------------------------------
# SemDeDup max_cluster_size guard (VERDICT r6 #3)
# ---------------------------------------------------------------------------


def _vec_frame(spark, n=40):
    # two well-separated blobs so k=2 clusters them evenly
    rows = [
        (i, [float(i % 2) * 100.0 + (i % 7) * 0.1, (i % 5) * 0.1])
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "vec_id int, embedding array<double>")


def test_semdedup_oversize_raises_with_sizes(spark):
    from polars_text_spark.operators.semdedup import semantic_dup_pairs

    df = _vec_frame(spark)
    with pytest.raises(ValueError, match="max_cluster_size=5"):
        semantic_dup_pairs(
            df, "embedding", "vec_id", k=2, iterations=1, tau=0.0,
            max_cluster_size=5,
        ).collect()


def test_semdedup_split_respects_cap_and_stays_blocked(spark):
    from polars_text_spark.operators.semdedup import (
        _enforce_cluster_cap,
        kmeans_assign,
        semantic_dup_pairs,
    )

    df = _vec_frame(spark)
    assign = kmeans_assign(df, "embedding", "vec_id", k=2, iterations=1)
    refined = _enforce_cluster_cap(
        df, assign, "embedding", "vec_id",
        max_cluster_size=8, on_oversize="split", iterations=1, decimals=6,
    )
    sizes = [
        r["n"]
        for r in refined.groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    ]
    assert max(sizes) <= 8
    # full id coverage preserved by the split
    assert refined.select("vec_id").distinct().count() == 40

    pairs = semantic_dup_pairs(
        df, "embedding", "vec_id", k=2, iterations=1, tau=0.0,
        max_cluster_size=8, on_oversize="split",
    )
    got = pairs.collect()
    assert len(got) > 0
    # pairs only within refined clusters: no pair may straddle the two
    # blobs (distance ~100 apart -> different top-level clusters)
    for r in got:
        assert (r["id_a"] % 2) == (r["id_b"] % 2)


def test_semdedup_unsplittable_mass_raises(spark):
    from polars_text_spark.operators.semdedup import semantic_dup_pairs

    # 12 coincident vectors: k-means can never separate them
    df = spark.createDataFrame(
        [(i, [1.0, 2.0]) for i in range(12)],
        "vec_id int, embedding array<double>",
    )
    with pytest.raises(ValueError, match="8 levels|max_cluster_size"):
        semantic_dup_pairs(
            df, "embedding", "vec_id", k=2, iterations=1, tau=0.0,
            max_cluster_size=4, on_oversize="split",
        ).collect()


def test_semdedup_oracle_query_unchanged_without_cap(spark, sf_dir):
    # the driver query passes no max_cluster_size: plan must not change
    from polars_text_spark.operators.semdedup import semantic_dup_pairs

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = semantic_dup_pairs(
        emb, "embedding", "vec_id", k=8, iterations=2, tau=0.4
    )
    assert out.count() >= 0  # runs; parity is covered by the oracle gate


# ---------------------------------------------------------------------------
# bottom-k count-prune x max_df soundness (ADVICE r6, medium)
# ---------------------------------------------------------------------------


def test_bottomk_max_df_does_not_drop_hot_overlap_pairs(spark):
    from polars_text_spark.operators.dedup import bottomk_sketch_pairs

    # Docs 0 and 1 share 5 HOT shingles (boilerplate repeated in 9
    # other docs, df=11 > max_df=5) plus 2 COLD shingles (df=2). Their
    # true estimate clears threshold=0.5 (7 shared of 9 union), but
    # only the 2 cold shared elements survive the prune — below the
    # old bound t*max(sz)=4, so the pair was silently dropped. The
    # fixed bound subtracts min(dropped_a, dropped_b)=5.
    common = "alpha beta gamma delta epsilon zeta eta"
    rows = [(0, common + " omega psi chi"), (1, common + " omega psi phi")]
    rows += [(i, common) for i in range(2, 11)]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = bottomk_sketch_pairs(
        df, "text", "doc_id", k=16, shingle_n=3, threshold=0.5, max_df=5
    )
    pairs = {(r["id_a"], r["id_b"]) for r in out.collect()}
    # pairs whose ONLY shared elements are hot (the identical docs
    # 2..10, and each of them vs 0/1) stay excluded — that exclusion
    # is the documented max_df dial itself, not the count-prune
    assert pairs == {(0, 1)}


def test_bottomk_no_max_df_unchanged(spark):
    from polars_text_spark.operators.dedup import bottomk_sketch_pairs

    rows = [
        (0, "the quick brown fox jumps over the lazy dog today"),
        (1, "the quick brown fox jumps over the lazy dog tonight"),
        (2, "completely different text with no overlap whatsoever here"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = bottomk_sketch_pairs(df, "text", "doc_id", k=16, threshold=0.3)
    pairs = {(r["id_a"], r["id_b"]) for r in out.collect()}
    assert (0, 1) in pairs and (0, 2) not in pairs


# ---------------------------------------------------------------------------
# apply_filter_rules collision reporting (ADVICE r6, low)
# ---------------------------------------------------------------------------


def test_filter_rules_reports_all_collisions_at_once(spark):
    from polars_text_spark.operators.filters import (
        FilterRule,
        apply_filter_rules,
    )

    df = spark.createDataFrame(
        [(1, "x", True)], "id int, rule_a string, keep boolean"
    )
    rules = [
        FilterRule("a", F.lit(True)),   # collides with existing rule_a
        FilterRule("b", F.lit(True)),
        FilterRule("b", F.lit(False)),  # duplicate rule name
    ]
    with pytest.raises(ValueError) as exc:
        apply_filter_rules(df, rules)
    msg = str(exc.value)
    # BOTH failure classes in one message
    assert "rule_a" in msg and "rule_b" in msg and "keep" in msg


# ---------------------------------------------------------------------------
# chunk_rows invariants (VERDICT r6 #7)
# ---------------------------------------------------------------------------


def test_chunk_rows_invariants(spark, sf_dir):
    from polars_text_spark.operators.topic_modeling.chunking import chunk_rows

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ch = chunk_rows(docs, "text", "doc_id", max_tokens=32, overlap=0)
    rows = ch.collect()
    assert rows
    by_doc: dict[int, list] = {}
    for r in rows:
        assert 1 <= r["n_tokens"] <= 32
        by_doc.setdefault(r["doc_id"], []).append(r)
    texts = {
        r["doc_id"]: r["text"]
        for r in docs.select("doc_id", "text").collect()
    }
    for doc_id, chunks in by_doc.items():
        chunks.sort(key=lambda r: r["chunk_index"])
        assert [c["chunk_index"] for c in chunks] == list(range(len(chunks)))
        rebuilt = " ".join(c["chunk"] for c in chunks).split()
        assert rebuilt == texts[doc_id].split()
        assert sum(c["n_tokens"] for c in chunks) == len(rebuilt)
    # empty/whitespace/null docs contribute no rows
    empty_ids = {
        r["doc_id"]
        for r in docs.collect()
        if r["text"] is None or not r["text"].strip()
    }
    assert not (set(by_doc) & empty_ids)


def test_chunk_rows_overlap_carries_suffix(spark):
    from polars_text_spark.operators.topic_modeling.chunking import chunk_rows

    # overlap carries whole UNITS (sentences here); with 2-token
    # sentences and overlap=2 every chunk seam repeats one sentence
    text = " ".join(f"a{i} b{i}." for i in range(8))
    df = spark.createDataFrame([(0, text)], "doc_id int, text string")
    ch = chunk_rows(df, "text", "doc_id", max_tokens=6, overlap=2).collect()
    ch.sort(key=lambda r: r["chunk_index"])
    assert len(ch) >= 2
    for prev, nxt in zip(ch, ch[1:]):
        prev_toks = prev["chunk"].split()
        nxt_toks = nxt["chunk"].split()
        # the next chunk STARTS with the previous chunk's last sentence
        assert nxt_toks[:2] == prev_toks[-2:]


# ---------------------------------------------------------------------------
# deterministic IVF parity (VERDICT r6 #2)
# ---------------------------------------------------------------------------


def test_ivf_kmeans_subset_of_brute_force_top1(spark, sf_dir):
    from polars_text_spark.operators.similarity import (
        cosine_topk,
        cosine_topk_ivf_kmeans,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 3)
    exact = cosine_topk(emb, q, k=10)
    approx = cosine_topk_ivf_kmeans(emb, q, k=10, n_lists=4, nprobe=4)
    # nprobe == n_lists probes EVERY list -> candidates = whole corpus
    # -> results must equal brute force exactly
    e = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in exact.collect()}
    a = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in approx.collect()}
    assert e == a
