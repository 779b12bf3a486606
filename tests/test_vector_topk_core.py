"""The vector top-k family shares one scoring core
(operators/similarity.py): one band-key builder behind both LSH plane
families, one candidate stage behind LSH and IVF, one rank tail. These
fast checks pin that core on a 40-vector in-memory frame: the key
builders against a numpy replay of the engine's left fold, the
expression and Arrow re-rank routes against each other, and the
null-vector contract of every candidate-generation operator."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from polars_text_spark.operators.similarity import (
    _hyperplanes,
    _sha_sign,
    cosine_topk_ivf,
    cosine_topk_ivf_kmeans,
    cosine_topk_lsh,
    cosine_topk_lsh_sha,
    lsh_band_keys,
    sha_band_keys,
)

DIM = 16


@pytest.fixture(scope="module")
def vecs():
    return np.random.default_rng(7).standard_normal((40, DIM))


@pytest.fixture(scope="module")
def frame(spark, vecs):
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


@pytest.fixture(scope="module")
def with_null(spark, frame):
    """The frame plus one null-vector row, id 99."""
    return frame.unionByName(
        spark.createDataFrame([(99, None)], frame.schema)
    )


def _ref_keys(vecs, planes, bands):
    """Band keys replayed in numpy: per plane the left fold
    ``acc = acc + v[i] * plane[i]`` (the engine's zip_with/aggregate
    order), sign bit ``acc >= 0``, ``len(planes) // bands`` bits per
    band keyed ``"<band>:<bits>"``."""
    planes = np.asarray(planes, dtype=np.float64)
    acc = np.zeros((len(vecs), len(planes)))
    for i in range(vecs.shape[1]):
        acc = acc + vecs[:, i : i + 1] * planes[:, i][None, :]
    bits = np.where(acc >= 0, "1", "0")
    r = len(planes) // bands
    return [
        [f"{b}:" + "".join(row[b * r : (b + 1) * r]) for b in range(bands)]
        for row in bits
    ]


@pytest.mark.parametrize("family", ["gaussian", "sha"])
def test_band_keys_match_numpy_left_fold(frame, vecs, family):
    if family == "gaussian":
        planes = _hyperplanes(DIM, 12, 5)
        keys = lsh_band_keys(
            F.col("embedding"), dim=DIM, num_planes=12, bands=3, seed=5
        )
    else:
        planes = [[_sha_sign(j, p) for p in range(DIM)] for j in range(12)]
        keys = sha_band_keys(F.col("embedding"), dim=DIM, num_planes=12, bands=3)
    got = {
        r.vec_id: r.k
        for r in frame.select("vec_id", keys.alias("k")).collect()
    }
    ref = _ref_keys(vecs, planes, 3)
    assert got == {i: ref[i] for i in range(len(vecs))}
    # non-vacuous: the keys spread over more than one bucket per band
    assert all(len({k[b] for k in ref}) > 1 for b in range(3))


def _rows(df):
    return {
        (r.query_id, r.neighbor_id, r.cosine, r.rank) for r in df.collect()
    }


_CANDIDATE_OPS = {
    "lsh": lambda v, q, **kw: cosine_topk_lsh(
        v, q, k=4, dim=DIM, num_planes=8, bands=4, **kw
    ),
    "lsh_sha": lambda v, q, **kw: cosine_topk_lsh_sha(
        v, q, k=4, dim=DIM, num_planes=8, bands=4, **kw
    ),
    "ivf": lambda v, q, **kw: cosine_topk_ivf(
        v, q, k=4, n_lists=4, nprobe=2, **kw
    ),
}


@pytest.mark.parametrize("op", sorted(_CANDIDATE_OPS))
def test_expr_and_arrow_reranks_return_identical_rows(frame, op):
    queries = frame.filter(F.col("vec_id") < 5)
    run = _CANDIDATE_OPS[op]
    expr = _rows(run(frame, queries))
    assert expr and len(expr) == 20
    assert _rows(run(frame, queries, rerank="arrow")) == expr


@pytest.mark.parametrize(
    "op,rerank",
    [("lsh", "expr"), ("lsh_sha", "expr"), ("ivf", "expr"), ("ivf", "arrow"),
     ("ivf_kmeans", "expr")],
)
def test_candidate_operators_drop_null_vectors(frame, with_null, op, rerank):
    """A null vector has no keys and no cosine: the candidate stage
    (and IVF's codebook sample) drop it on both sides, so a corpus
    and query set holding one answer exactly like the null-free
    ones."""
    if op == "ivf_kmeans":
        def run(v, q):
            return cosine_topk_ivf_kmeans(v, q, k=4, n_lists=4, nprobe=2)
    else:
        def run(v, q):
            return _CANDIDATE_OPS[op](v, q, rerank=rerank)
    picked = (F.col("vec_id") < 3) | (F.col("vec_id") == 99)
    got = _rows(run(with_null, with_null.filter(picked)))
    assert got == _rows(run(frame, frame.filter(picked)))
    assert got
    assert not any(99 in (q, n) or c is None for q, n, c, _ in got)
