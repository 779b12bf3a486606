"""Property tests for the Arrow scorer cores (no SparkSession):
`_fold_dot_batch` / `_norm_rows_exact` / `_quantized_dot_batch` must
be BIT-IDENTICAL to a pure-Python left fold of the same IEEE ops over
adversarial floats (denormals, huge exponents, mixed signs), and the
validity mask must implement the documented null / ragged /
non-finite policy. The Spark-side tests pin equality against the
expression twin on sampled data; these pin the numpy kernels against
the arithmetic DEFINITION over a much wider input space."""

from __future__ import annotations

import math

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from polars_text_spark.operators.similarity import (
    _fold_dot_batch,
    _norm_rows_exact,
    _normalize_vec_py,
    _quantize_vec_py,
    _quantized_dot_batch,
)

finite = st.floats(
    allow_nan=False,
    allow_infinity=False,
    width=64,
    min_value=-1e100,
    max_value=1e100,
)
anyfloat = st.floats(allow_nan=True, allow_infinity=True, width=64)


def _py_fold_dot(v, q):
    acc = 0.0
    for x, y in zip(v, q):
        acc = acc + x * y
    return acc


def _py_norm(v):
    acc = 0.0
    for x in v:
        acc = acc + x * x
    n = math.sqrt(acc)
    return [x / n for x in v] if n > 0 else list(v)


@settings(max_examples=200, deadline=None)
@given(
    st.lists(st.lists(finite, min_size=3, max_size=3), min_size=1, max_size=8),
    st.lists(st.lists(finite, min_size=3, max_size=3), min_size=1, max_size=4),
)
def test_fold_dot_bit_identical_to_python_fold(rows, queries):
    vals = np.empty(len(rows), dtype=object)
    for i, r in enumerate(rows):
        vals[i] = r
    acc, valid = _fold_dot_batch(vals, queries)
    for i, r in enumerate(rows):
        for j, q in enumerate(queries):
            want = _py_fold_dot(r, q)
            if math.isfinite(want):
                assert valid[i, j]
                got = acc[i, j]
                assert got == want or (math.isnan(got) and math.isnan(want))
            else:
                # overflow to inf/nan -> documented invalid
                assert not valid[i, j]


@settings(max_examples=200, deadline=None)
@given(
    st.lists(st.lists(finite, min_size=4, max_size=4), min_size=1, max_size=6),
    st.lists(st.lists(finite, min_size=4, max_size=4), min_size=1, max_size=3),
)
def test_normalized_fold_bit_identical(rows, queries):
    vals = np.empty(len(rows), dtype=object)
    for i, r in enumerate(rows):
        vals[i] = r
    qn = [_normalize_vec_py(q) for q in queries]
    acc, valid = _fold_dot_batch(vals, qn, normalize=True)
    for i, r in enumerate(rows):
        rn = _py_norm(r)
        for j, q in enumerate(qn):
            want = _py_fold_dot(rn, q)
            if math.isfinite(want) and all(math.isfinite(x) for x in rn):
                assert valid[i, j]
                assert acc[i, j] == want
            else:
                assert not valid[i, j]


@settings(max_examples=150, deadline=None)
@given(st.lists(finite, min_size=1, max_size=8))
def test_norm_rows_exact_matches_scalar_normalization(v):
    mat = np.asarray([v], dtype=np.float64)
    got = _norm_rows_exact(mat)[0].tolist()
    want = _py_norm(v)
    for g, w in zip(got, want):
        assert g == w or (math.isnan(g) and math.isnan(w))


@settings(max_examples=150, deadline=None)
@given(
    st.lists(
        st.floats(
            allow_nan=False,
            allow_infinity=False,
            min_value=-1e6,
            max_value=1e6,
        ),
        min_size=1,
        max_size=8,
    )
)
def test_quantized_batch_matches_scalar_quantizer(v):
    """_quantized_dot_batch's in-pass normalize+quantize must agree
    with the driver-side scalar quantizer on scale AND every q
    component (self-dot of the quantized vector checked as exact
    integer)."""
    s_ref, q_ref = _quantize_vec_py(_normalize_vec_py(v), 127)
    vals = np.empty(1, dtype=object)
    vals[0] = v
    scales, acc, valid = _quantized_dot_batch(vals, [q_ref], 127)
    if any(x != 0.0 for x in v):
        assert scales[0] == s_ref
    else:
        assert scales[0] == 0.0
    assert valid[0, 0]
    want_dot = sum(a * b for a, b in zip(q_ref, q_ref))
    assert int(acc[0, 0]) == want_dot


def test_fold_dot_ragged_null_and_nonfinite_mask():
    vals = np.empty(4, dtype=object)
    vals[0] = [1.0, 2.0]
    vals[1] = None
    vals[2] = [1.0, 2.0, 3.0]
    vals[3] = [float("nan"), 1.0]
    queries = [[3.0, 4.0], None, [1.0, 1.0, 1.0]]
    acc, valid = _fold_dot_batch(vals, queries)
    assert valid[0, 0] and acc[0, 0] == 11.0
    assert not valid[0, 1] and not valid[0, 2]  # null q / dim mismatch
    assert not valid[1].any()                   # null row
    assert valid[2, 2] and acc[2, 2] == 6.0
    assert not valid[3, 0]                      # NaN row -> invalid
