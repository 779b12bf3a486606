"""Connected components over dedup pair graphs: correctness on known
topologies, convergence behavior, and the corpus keep-list contract."""

from __future__ import annotations

from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from polars_text_spark.operators.components import (
    connected_components,
    duplicate_clusters,
)
from tests.test_streaming_ingest import _job_count


def _pairs(spark, rows):
    return spark.createDataFrame(rows, "id_a long, id_b long")


def _comp_map(df):
    return {r.vertex: r.component for r in df.collect()}


def test_basic_components(spark):
    # {1,2,3} via chain, {5,6}, self-loop 9 isolated.
    pairs = _pairs(spark, [(1, 2), (2, 3), (5, 6), (9, 9)])
    got = _comp_map(connected_components(pairs))
    assert got == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5, 9: 9}


def test_chain_longer_than_one_round(spark):
    # A 12-node path needs several propagation rounds even with path
    # halving: exercises the loop + checkpointed label carry, not just
    # a single propagation step.
    pairs = _pairs(spark, [(i, i + 1) for i in range(1, 12)])
    got = _comp_map(connected_components(pairs))
    assert got == {i: 1 for i in range(1, 13)}


def test_chain_reversed_ids_still_min_root(spark):
    # Min must flow AGAINST edge orientation too (symmetrized).
    pairs = _pairs(spark, [(i + 1, i) for i in range(1, 8)])
    got = _comp_map(connected_components(pairs))
    assert set(got.values()) == {1}


def test_max_iterations_guard(spark):
    # Path halving reaches ~3^k hops in k rounds; a 60-edge chain is
    # well beyond 2 rounds.
    pairs = _pairs(spark, [(i, i + 1) for i in range(1, 61)])
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, max_iterations=2)


def test_two_meshed_cliques(spark):
    # Dense families (the realistic near-dup shape) converge fast.
    clique1 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    clique2 = [(a, b) for a in range(10, 14) for b in range(a + 1, 14)]
    got = _comp_map(connected_components(_pairs(spark, clique1 + clique2)))
    assert all(v == 1 for k, v in got.items() if k < 5)
    assert all(v == 10 for k, v in got.items() if k >= 10)


def test_duplicate_clusters_keep_list(spark):
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(1, 8)], "doc_id long, text string"
    )
    pairs = _pairs(spark, [(1, 2), (2, 3), (5, 6)])
    out = duplicate_clusters(docs, pairs)
    rows = {r.doc_id: r for r in out.collect()}
    assert len(rows) == 7  # 1:1 with input
    assert [rows[i].component for i in range(1, 8)] == [1, 1, 1, 4, 5, 5, 7]
    assert [rows[i].cluster_size for i in range(1, 8)] == [3, 3, 3, 1, 2, 2, 1]
    keepers = sorted(i for i in rows if rows[i].is_canonical)
    assert keepers == [1, 4, 5, 7]
    # filter(is_canonical) is the deduped corpus: one row per family.
    kept = out.filter("is_canonical")
    assert kept.count() == 4
    assert kept.select(F.countDistinct("component")).first()[0] == 4


def test_duplicate_clusters_prefer_col_keeps_best(spark):
    docs = spark.createDataFrame(
        [(1, 10.0), (2, 99.0), (3, 50.0), (4, 7.0)],
        "doc_id long, quality double",
    )
    pairs = _pairs(spark, [(1, 2), (2, 3)])
    out = {r.doc_id: r for r in duplicate_clusters(
        docs, pairs, prefer_col="quality"
    ).collect()}
    # family {1,2,3}: keeper is the highest-quality member (2), not
    # the min id; singleton 4 keeps itself.
    assert [out[i].is_canonical for i in (1, 2, 3, 4)] == [
        False, True, False, True,
    ]
    assert out[2].component == 1  # component id stays the min id


def test_empty_pairs(spark):
    pairs = _pairs(spark, []).filter("id_a is not null")
    assert connected_components(pairs).count() == 0
    docs = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    out = duplicate_clusters(docs, pairs).collect()
    assert out[0].component == 1 and out[0].cluster_size == 1
    assert out[0].is_canonical


def test_huge_ids_sum_convergence_exact(spark):
    """2^62-magnitude vertex ids (sha-derived id spaces) converge
    exactly: the changed-count probe compares each label with its
    previous value, so no sum can overflow into a false 'converged'
    (or never-converged) verdict."""
    big = 1 << 62
    pairs = _pairs(
        spark,
        [(big, big + 1), (big + 1, big + 2), (7, big + 3), (big + 3, 9)],
    )
    got = _comp_map(connected_components(pairs))
    assert got == {
        big: big,
        big + 1: big,
        big + 2: big,
        7: 7,
        big + 3: 7,
        9: 7,
    }


def test_string_ids_changed_count_probe(spark):
    """String vertex ids converge under the changed-count probe. A
    4-chain needs >1 hash-min round, so a premature exit (a probe that
    read string labels as null, or as equal) would mislabel 'd'."""
    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d")], "id_a string, id_b string"
    )
    got = _comp_map(connected_components(pairs))
    assert got == {"a": "a", "b": "a", "c": "a", "d": "a"}


def test_numeric_string_ids_lexicographic_min(spark):
    """Numeric STRINGS order lexicographically ('10' < '9'); the
    changed-count probe must converge to the lexicographic min, not
    the numeric one."""
    pairs = spark.createDataFrame(
        [("9", "10"), ("10", "111")], "id_a string, id_b string"
    )
    got = _comp_map(connected_components(pairs))
    assert got == {"9": "10", "10": "10", "111": "10"}


@pytest.mark.parametrize(
    "id_type, as_id",
    [("decimal(3,1)", Decimal), ("double", float)],
    ids=["decimal", "double"],
)
def test_fractional_decimal_ids_changed_count_probe(spark, id_type, as_id):
    """Fractional ids converge exactly: every id of the chain
    1.4-1.3-1.2-1.1-1.0 rounds to 1, so a probe that summed rounded
    labels would miss the first round's decreases (1.4 -> 1.2 after
    path halving) and exit half-merged. The changed-count probe
    compares each label with its previous value instead."""
    ids = [as_id(f"1.{d}") for d in range(5)]
    pairs = spark.createDataFrame(
        list(zip(ids[1:], ids[:-1])), f"id_a {id_type}, id_b {id_type}"
    )
    got = _comp_map(connected_components(pairs))
    assert got == {i: as_id("1.0") for i in ids}


def test_null_vertex_id_refused(spark):
    """A null id among other edges is refused in round 1, not returned
    as a silent (vertex=NULL, component=NULL) row."""
    pairs = _pairs(spark, [(1, 2), (2, None), (3, 4)])
    with pytest.raises(ValueError, match="null vertex ids in the pair input"):
        connected_components(pairs).collect()


# Spark jobs of one call on the test_basic_components graph, collect()
# included. The graph converges in two rounds; each round's one action
# is its probe aggregate, which also materializes its checkpoint.
_BASIC_GRAPH_JOB_BUDGET = 16


def test_basic_components_job_budget(spark):
    """connected_components stays on its job budget: the convergence
    probe is read off each round's checkpointing aggregate, with no
    pre-loop probe job and no per-round self-join."""
    pairs = _pairs(spark, [(1, 2), (2, 3), (5, 6), (9, 9)])
    got = {}
    jobs = _job_count(
        spark,
        lambda: got.update(_comp_map(connected_components(pairs))),
        "components-job-budget",
    )
    assert got == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5, 9: 9}
    assert jobs <= _BASIC_GRAPH_JOB_BUDGET, f"ran {jobs} jobs"
