"""Similarity search over embedding columns (beyond-reference,
BASELINE.json north star).

Two paths, both 100% JVM built-ins (no Python UDF in the hot loop):

- :func:`cosine_topk` — exact brute force. The query side is
  broadcast; similarity is ``zip_with`` product + ``aggregate`` sum,
  which Catalyst evaluates inside the join projection. Right at small
  query counts; O(Q·N) at scale — the calibration baseline.
- :func:`cosine_topk_lsh` — random-hyperplane (SimHash) LSH: H seeded
  hyperplanes -> H sign bits -> ``bands`` bucket keys; candidates are
  bucket collisions only, then exact cosine re-rank. Sub-linear
  candidate generation; recall tunable via (H, bands). The 100 TB
  path: bucket join shuffles on band keys instead of cross-joining.

Hyperplanes are generated driver-side from a seed and embedded as
array literals — every executor evaluates the same projection with
zero side channels.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from polars_text_spark.operators._cols import require_free_columns
from polars_text_spark.persist import track_persist

__all__ = [
    "ann_recall_report",
    "banded_scored_candidates",
    "cosine",
    "cosine_topk",
    "cosine_topk_ivf",
    "cosine_topk_ivf_kmeans",
    "cosine_topk_lsh",
    "cosine_topk_lsh_sha",
    "sha_band_keys",
    "cosine_topk_quantized",
    "dot",
    "l2_normalize",
    "quantize_vec",
    "with_l2_normalized",
    "with_quantized",
]


def dot(a, b):
    """Dot product of two array<double> columns (zip_with + aggregate).

    zip_with/aggregate are CodegenFallback — interpreted per row with
    an intermediate array allocation (~7 us/pair at dim 64, measured)
    — so this form belongs on CANDIDATES-ONLY paths (LSH/IVF
    re-ranks), where the per-pair cost is bounded by the banding.
    Dense O(rows x vectors) scoring loops use the Arrow-batched
    fold-exact numpy scorer (:func:`_fold_dot_batch`) instead. An
    unrolled 64-term scalar-sum expression was tried and REJECTED:
    it does enter whole-stage codegen, but the generated method blows
    HotSpot's huge-method JIT limit and runs in the bytecode
    interpreter — 2.3x SLOWER than this interpreted HOF (254 s vs
    109 s over 15.4M pairs; 16/32-term unrolls JIT fine at ~5 s, the
    cliff sits between 32 and 64 terms). See SCALING.md."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def l2_normalize(a):
    """L2-normalize an array column (zero vectors stay zero). Applying
    this per ROW before a pairwise join turns cosine into a plain dot —
    norms are computed n times instead of n^2 times.

    The vector and its norm are bound through
    :func:`~polars_text_spark.plans.exprs.let`, so the O(d) norm
    aggregate evaluates ONCE per row even inside the per-element
    division lambda (unbound, the norm subtree inlines per element —
    O(d^2) per row, the r3 int8-path scale-killer).
    :func:`with_l2_normalized` remains the projection-staged equivalent
    for pipelines that want a named intermediate column."""
    from polars_text_spark.plans.exprs import let

    return let(
        a.cast("array<double>"),
        lambda v: let(
            F.sqrt(F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x)),
            lambda norm: F.when(
                norm > 0, F.transform(v, lambda x: x / norm)
            ).otherwise(v),
        ),
    )


def with_l2_normalized(df: DataFrame, vec_col: str, out_col: str) -> DataFrame:
    """Append ``out_col`` = L2-normalized ``vec_col``, factored so the
    norm is evaluated ONCE per row.

    The chained projections keep ``__ptx_norm`` a plain attribute
    reference inside the per-element lambda; because the non-cheap
    alias is referenced more than once, Catalyst's CollapseProject
    leaves the projection boundary in place instead of re-inlining the
    O(d) aggregate per element."""
    require_free_columns(df, ("__ptx_a", "__ptx_norm"), "with_l2_normalized")
    d = df.withColumn("__ptx_a", F.col(vec_col).cast("array<double>"))
    d = d.withColumn(
        "__ptx_norm",
        F.sqrt(F.aggregate("__ptx_a", F.lit(0.0), lambda acc, v: acc + v * v)),
    )
    d = d.withColumn(
        out_col,
        F.when(
            F.col("__ptx_norm") > 0,
            F.transform("__ptx_a", lambda v: v / F.col("__ptx_norm")),
        ).otherwise(F.col("__ptx_a")),
    )
    return d.drop("__ptx_a", "__ptx_norm")


def with_quantized(
    df: DataFrame, vec_col: str, out_col: str, *, levels: int = 127
) -> DataFrame:
    """Append ``out_col`` = ``struct(scale, q)`` int8 quantization of
    ``vec_col`` (same contract as :func:`quantize_vec`), factored so
    ``mx`` is evaluated once per row — the single-expression form
    re-evaluates the O(d) ``array_max`` per element (O(d^2)+ per row,
    the round-3 scale-killer: 41 s vs 1.4 s at sf0.1)."""
    require_free_columns(df, ("__ptx_u", "__ptx_mx"), "with_quantized")
    d = df.withColumn("__ptx_u", F.col(vec_col).cast("array<double>"))
    d = d.withColumn("__ptx_mx", F.array_max(F.transform("__ptx_u", F.abs)))
    scale = F.col("__ptx_mx") / F.lit(float(levels))
    # branch on the SCALE, not mx: a denormal mx is > 0 but its scale
    # underflows to 0.0 — x/0.0 is Infinity and the int cast would
    # throw under ANSI; such vectors quantize to zeros like true zeros
    q = F.when(
        scale > 0,
        F.transform(
            "__ptx_u", lambda v: F.floor(v / scale + F.lit(0.5)).cast("int")
        ),
    ).otherwise(F.transform("__ptx_u", lambda v: F.lit(0)))
    d = d.withColumn(out_col, F.struct(scale.alias("scale"), q.alias("q")))
    return d.drop("__ptx_u", "__ptx_mx")


def _norm_rows_exact(V):
    """Fold-exact L2 normalization of an (n x d) float64 matrix —
    per row the exact ``((0 + x0^2) + x1^2)...`` square fold, sqrt and
    elementwise division the :func:`with_l2_normalized` expression
    runs (bit-identical, so oracle hashes cannot move); zero rows stay
    zero. Vectorized across rows, loop over dims."""
    n, d = V.shape
    acc = np.zeros(n, dtype=np.float64)
    for i in range(d):
        acc = acc + V[:, i] * V[:, i]
    norms = np.sqrt(acc)
    out = V.copy()
    nz = norms > 0
    if nz.any():
        out[nz] = V[nz] / norms[nz, None]
    return out


def _normalize_vec_py(v):
    """Driver-side fold-exact L2 normalization of one collected
    vector (Python floats are IEEE binary64 — identical ops to
    :func:`_norm_rows_exact` and the JVM expression)."""
    import math

    acc = 0.0
    for x in v:
        acc = acc + x * x
    norm = math.sqrt(acc)
    if norm > 0:
        return [x / norm for x in v]
    return [float(x) for x in v]


def _quantize_vec_py(u, levels: int):
    """Driver-side quantization of one L2-normalized vector —
    replicates :func:`with_quantized` exactly: ``scale = max|u| /
    levels``, ``q_i = floor(u_i / scale + 0.5)`` (max is
    order-independent; floor/divide are single IEEE ops). A 0-dim
    vector returns ``(None, [])`` — the expression twin's
    ``array_max([])`` is null and the vector side in
    :func:`_quantized_dot_batch` yields a null scale, so the query
    side must agree (null scale -> null score, ranks last)."""
    import math

    if len(u) == 0:
        return None, []
    mx = max(abs(x) for x in u)
    s = mx / float(levels)
    # branch on the SCALE, not mx: a denormal mx (5e-324) is > 0 but
    # its scale underflows to 0.0 — dividing by it would raise here
    # and overflow the int cast in the expression twin
    if s > 0:
        return s, [int(math.floor(x / s + 0.5)) for x in u]
    return 0.0, [0] * len(u)


def _fold_dot_batch(vals, qlist, *, normalize: bool = False):
    """Dot products of a batch of vectors against a fixed query list,
    vectorized across rows: returns ``(acc, valid)`` — an (n x Q)
    float64 matrix and its validity mask.

    The dots replay the engine's LEFT FOLD bit-for-bit: the dim loop
    runs ``acc = acc + V[:, i] * q[i]`` — per element the exact same
    IEEE multiply-then-add sequence as
    ``aggregate(zip_with(a, b, *), 0.0, +)`` and as the DuckDB
    oracles' ``list_reduce`` replay, just vectorized across the PAIR
    axis instead of the dim axis — so downstream hashes cannot move by
    an ulp.

    Entries are invalid (null) where either side is null or the dims
    differ — matching zip_with's null padding, whose null product
    nullifies the whole fold. Rows/queries are grouped by length so
    ragged inputs stay correct without per-row Python.

    ``normalize=True`` L2-normalizes each ROW fold-exactly
    (:func:`_norm_rows_exact`) before dotting — the caller then feeds
    RAW vectors (half the Arrow bytes when stored as float32, and no
    per-row interpreted normalization HOF JVM-side); the query side
    must arrive pre-normalized (:func:`_normalize_vec_py`).

    NON-FINITE policy (deliberate divergence from the expression twin,
    pinned by tests): a NaN/inf dot — i.e. a corrupt vector — is
    marked INVALID, so it surfaces as a NULL score that ranks LAST and
    never trips a threshold. The old zip_with fold produced NaN, which
    Spark's NaN-sorts-greatest ordering put at rank 1 — a corrupt
    vector outranking every clean neighbor. One poisoned pair also
    stops nulling a row's max over its remaining FINITE pairs."""
    n = len(vals)
    lens = np.fromiter(
        ((-1 if v is None else len(v)) for v in vals), dtype=np.int64, count=n
    )
    qlens = [(-1 if q is None else len(q)) for q in qlist]
    acc = np.zeros((n, len(qlist)), dtype=np.float64)
    valid = np.zeros((n, len(qlist)), dtype=bool)
    for dj in np.unique(lens):
        if dj < 0:
            continue
        cols = [j for j, ql in enumerate(qlens) if ql == dj]
        if not cols:
            continue
        ridx = np.flatnonzero(lens == dj)
        V = np.stack([np.asarray(vals[i], dtype=np.float64) for i in ridx])
        if normalize and dj > 0:
            V = _norm_rows_exact(V)
        QT = np.stack([np.asarray(qlist[j], dtype=np.float64) for j in cols])
        a = np.zeros((len(ridx), len(cols)), dtype=np.float64)
        for i in range(dj):
            a = a + V[:, i : i + 1] * QT[:, i][None, :]
        acc[np.ix_(ridx, cols)] = a
        valid[np.ix_(ridx, cols)] = True
    valid &= np.isfinite(acc)
    return acc, valid


def _quantized_dot_batch(vals, qvecs_int, levels: int):
    """Normalize + quantize + integer-dot one batch of RAW vectors
    against a pre-quantized query list: returns ``(scales, acc,
    valid)`` — per-row quantization scales (NaN = null), the (n x Q)
    integer-valued float64 dot matrix, and its validity mask.

    Normalization is the exact fold (:func:`_norm_rows_exact`);
    quantization replicates :func:`with_quantized` op-for-op (max is
    order-independent, floor/divide single IEEE ops); the dots are one
    float64 BLAS matmul per dim group — exact because int8 products
    (<= levels^2) and dim-bounded sums sit far below 2^53 and integer
    addition is associative. A NaN-component vector keeps the
    expression twin's semantics structurally: its max|u| is NaN, so
    its scale is NaN (-> null score downstream) and its q collapses to
    zeros. 0-dim vectors keep the twin's null scale (array_max([]) is
    null)."""
    n = len(vals)
    q_count = len(qvecs_int)
    lens = np.fromiter(
        ((-1 if v is None else len(v)) for v in vals), dtype=np.int64, count=n
    )
    qlens = [(-1 if qv is None else len(qv)) for qv in qvecs_int]
    scales = np.full(n, np.nan)
    acc = np.zeros((n, q_count), dtype=np.float64)
    valid = np.zeros((n, q_count), dtype=bool)
    for dj in np.unique(lens):
        if dj < 0:
            continue
        ridx = np.flatnonzero(lens == dj)
        V = np.stack([np.asarray(vals[i], dtype=np.float64) for i in ridx])
        if dj > 0:
            U = _norm_rows_exact(V)
            mx = np.abs(U).max(axis=1)
            scale = mx / float(levels)
            Q = np.zeros_like(U)
            # branch on the SCALE (a denormal mx underflows to scale
            # 0, which must quantize to zeros, not divide); NaN scales
            # pass through -> null score downstream
            nzr = scale > 0
            if nzr.any():
                Q[nzr] = np.floor(U[nzr] / scale[nzr, None] + 0.5)
            scales[ridx] = scale
        else:
            Q = V
        cols = [j for j, ql in enumerate(qlens) if ql == dj]
        if not cols:
            continue
        QT = np.stack(
            [np.asarray(qvecs_int[j], dtype=np.float64) for j in cols]
        )
        acc[np.ix_(ridx, cols)] = Q @ QT.T
        valid[np.ix_(ridx, cols)] = True
    valid &= np.isfinite(acc)
    return scales, acc, valid


_SCORE_CHUNK_CELLS = 4_000_000  # peak (rows x queries) f64 cells per slice


def _masked_lists(acc, valid, *, as_long: bool):
    """Per-row lists with invalid cells as None (fast path when all
    valid)."""
    if as_long:
        acc = acc.astype(np.int64)
    if valid.all():
        return acc.tolist()
    return [
        [((int(a) if as_long else float(a)) if ok else None)
         for a, ok in zip(arow, vrow)]
        for arow, vrow in zip(acc, valid)
    ]


def _dots_map_fn(qvecs_bc, n_queries: int, out_dots_col: str):
    """mapInPandas function for the exact float path: ``(__id, __vec)``
    batches -> ``(neighbor_id, <out_dots_col>: array of per-query
    dots)`` — raw vectors in, fold-exact normalize + dot inside.
    Row-chunked so the (rows x Q) score matrix stays bounded no matter
    how wide the query side is. ``qvecs_bc`` is a ``sc.broadcast``
    handle: the query payload ships once per executor over the
    torrent channel (with block-level memory accounting), not pickled
    into every task's function closure.

    Broadcast lifetime: each call creates one broadcast whose Python
    handle lives inside the returned DataFrame's map function; the
    blocks are reclaimed by Spark's ContextCleaner once that DataFrame
    (and any plans derived from it) is GC'd — the same lifetime as the
    result itself. Callers looping over MANY query sets should drop
    their references between iterations (or checkpoint the result) so
    the cleaner can run; per the byte budget each live handle is
    <= 256 MiB."""
    import pandas as pd

    chunk = max(1, _SCORE_CHUNK_CELLS // max(1, n_queries))

    def fn(batches):
        qvecs = qvecs_bc.value
        for pdf in batches:
            for lo in range(0, len(pdf), chunk):
                part = pdf.iloc[lo : lo + chunk]
                acc, valid = _fold_dot_batch(
                    part["__vec"].to_numpy(),
                    qvecs,
                    normalize=True,
                )
                yield pd.DataFrame(
                    {
                        "neighbor_id": part["__id"],
                        out_dots_col: _masked_lists(
                            acc, valid, as_long=False
                        ),
                    }
                )

    return fn


def _quantized_dots_map_fn(qvecs_bc, n_queries: int, levels: int):
    """mapInPandas function for the int8 path: ``(__id, __vec)``
    batches -> ``(neighbor_id, __vscale, idots)`` — raw vectors in,
    fold-exact normalize + quantize + BLAS integer dot inside
    (:func:`_quantized_dot_batch`). Non-finite scales surface as null
    (-> null score, ranks last). ``qvecs_bc`` is a ``sc.broadcast``
    handle (see :func:`_dots_map_fn`)."""
    import pandas as pd

    chunk = max(1, _SCORE_CHUNK_CELLS // max(1, n_queries))

    def fn(batches):
        qvecs_int = qvecs_bc.value
        for pdf in batches:
            for lo in range(0, len(pdf), chunk):
                part = pdf.iloc[lo : lo + chunk]
                scales, acc, valid = _quantized_dot_batch(
                    part["__vec"].to_numpy(), qvecs_int, levels
                )
                yield pd.DataFrame(
                    {
                        "neighbor_id": part["__id"],
                        "__vscale": [
                            (float(s) if np.isfinite(s) else None)
                            for s in scales
                        ],
                        "idots": _masked_lists(acc, valid, as_long=True),
                    }
                )

    return fn


_QUERY_SIDE_MAX_BYTES = 256 << 20  # 256 MiB of raw vector payload


def _collect_query_side(
    df: DataFrame,
    max_rows: int,
    what: str,
    *,
    vec_field: str | None = None,
    max_bytes: int = _QUERY_SIDE_MAX_BYTES,
):
    """Bounded driver collect of the (small-by-contract) query/eval
    side — the same budget that let the pre-Arrow plans broadcast it,
    made explicit. One job: collect limit(max+1) and raise on
    overflow instead of counting first.

    The row cap alone bounds ROWS, not BYTES: 65,536 rows at dim 1024
    is half a GB of float64 payload. When ``vec_field`` is given the
    collected vector payload is ALSO bounded by ``max_bytes``
    (rows x dim x 8), so a wide-embedding query set fails loudly at
    the driver instead of OOMing executors when the vectors ship."""
    rows = df.limit(max_rows + 1).collect()
    if len(rows) > max_rows:
        raise ValueError(
            f"{what} side exceeds {max_rows} rows; it must be small "
            "enough to ship to every task (benchmark/query-set sized). "
            "Raise the cap explicitly if that is genuinely intended."
        )
    if vec_field is not None:
        nbytes = sum(
            8 * len(r[vec_field]) for r in rows if r[vec_field] is not None
        )
        if nbytes > max_bytes:
            raise ValueError(
                f"{what} side carries {nbytes >> 20} MiB of vector "
                f"payload (> {max_bytes >> 20} MiB); it ships to every "
                "executor, so cap the row count or the dimensionality, "
                "or raise max_bytes explicitly if that is intended."
            )
    return rows


_NP_DTYPE_FOR = {
    "LongType": "int64",
    "IntegerType": "int32",
    "ShortType": "int16",
    "DoubleType": "float64",
    "FloatType": "float32",
}


def _array_lit(values, elem_type):
    """ONE array Literal node for a driver-side list (the bloom
    lesson: a literal, never a join-carried payload — and a single
    Literal, never an N-child CreateArray, which bloats the Catalyst
    tree and every task's serialized plan).

    On classic PySpark, ``F.lit(list)`` expands to
    ``array(lit(x)...)`` — the N-child tree this function exists to
    avoid — while ``F.lit(numpy_array)`` builds a true single
    ``Literal`` (verified on 4.1.2: the analyzed plan shows
    ``[1,2,3]``, not ``array(1, 2, 3)``), so numeric element types
    take the numpy route. Non-numeric element types (string ids) and
    null-bearing lists fall back to CreateArray + cast, which
    ConstantFolding collapses to one Literal before execution anyway —
    the fallback costs analysis-time tree size, not run time."""
    import numpy as np
    from pyspark.sql import types as T

    dtype = _NP_DTYPE_FOR.get(type(elem_type).__name__)
    if dtype is not None and all(v is not None for v in values):
        return F.lit(np.array(values, dtype=dtype)).cast(
            T.ArrayType(elem_type)
        )
    return F.array(*[F.lit(v) for v in values]).cast(
        T.ArrayType(elem_type)
    )


def cosine(a, b):
    """Cosine similarity of two array<float/double> columns, as a
    built-in expression (zip_with + aggregate)."""
    a = a.cast("array<double>")
    b = b.cast("array<double>")
    d = dot(a, b)
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, v: acc + v * v))
    return F.when((na > 0) & (nb > 0), d / (na * nb)).otherwise(F.lit(0.0))


def cosine_topk(
    vectors: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
    max_query_rows: int = 65536,
) -> DataFrame:
    """Exact top-k neighbors for every query row.

    Returns ``(query_id, neighbor_id, cosine, rank)``. Deterministic
    tie-break: higher cosine first, then smaller neighbor id.

    EAGER on the query side: ``queries`` is collected (bounded, see
    below) at CALL time, so its content is frozen when this function
    returns — not re-evaluated per action like a fully lazy plan.
    Build the query frame last if it derives from mutable state.

    Scale shape: the query side — small by contract, row- AND
    byte-bounded (:func:`_collect_query_side`) — is collected RAW,
    fold-exact-normalized driver-side and shipped once per executor
    via a ``sc.broadcast`` handle (torrent channel, never pickled into
    per-task closures — pinned by
    test_cosine_topk_query_payload_not_in_closure); the scan side
    enters the scorer RAW too (half
    the Arrow bytes for float32 storage, zero JVM normalization HOFs)
    and normalization + the O(N x Q) dense dots run as ONE
    Arrow-batched numpy pass per scan partition (vectorized across
    pairs, exact left-fold order per pair, so results are
    bit-identical to the with_l2_normalized + zip_with/aggregate
    expression pipeline and to the DuckDB oracle replay — measured
    ~17x over the interpreted HOF expression at 15M pairs; the
    unrolled-expression alternative loses to HotSpot's huge-method JIT
    limit, see SCALING.md). Each scan row emits its Q dots as one
    array, exploded JVM-side in the SAME stage — nothing dim- or
    Q-sized ever crosses the shuffle; the per-query Exchange ships
    3-scalar rows already capped at k by the partial
    WindowGroupLimit."""
    from pyspark.sql import types as T

    spark = vectors.sparkSession
    qid_type = queries.schema[id_col].dataType
    vid_type = vectors.schema[id_col].dataType
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qvec")
    )
    qrows = _collect_query_side(
        q, max_query_rows, "cosine_topk query", vec_field="__qvec"
    )
    out_fields = [
        T.StructField("query_id", qid_type),
        T.StructField("neighbor_id", vid_type),
        T.StructField("cosine", T.DoubleType()),
        T.StructField("rank", T.IntegerType(), nullable=False),
    ]
    if not qrows:
        return spark.createDataFrame([], T.StructType(out_fields))
    qvecs = [
        None if r["__qvec"] is None else _normalize_vec_py(list(r["__qvec"]))
        for r in qrows
    ]
    qvecs_bc = spark.sparkContext.broadcast(qvecs)
    v = vectors.select(
        F.col(id_col).alias("__id"), F.col(vec_col).alias("__vec")
    )
    dotted = v.mapInPandas(
        _dots_map_fn(qvecs_bc, len(qvecs), "dots"),
        schema=T.StructType(
            [
                T.StructField("neighbor_id", vid_type),
                T.StructField("dots", T.ArrayType(T.DoubleType())),
            ]
        ),
    )
    # pos -> query_id through a constant-folded SINGLE array Literal
    # (the bloom lesson: a literal, never a join-carried payload; one
    # Literal node, never a Q-child CreateArray), cast so int-fitting
    # ids don't narrow to array<int>
    qid_arr = _array_lit([r["query_id"] for r in qrows], qid_type)
    scored = dotted.select(
        "neighbor_id", F.posexplode("dots").alias("pos", "cosine")
    ).select(
        F.element_at(qid_arr, F.col("pos") + 1).alias("query_id"),
        "neighbor_id",
        "cosine",
    )
    if exclude_self:
        scored = scored.filter(F.col("neighbor_id") != F.col("query_id"))
    return rank_topk(scored, k)


def quantize_vec(a, *, levels: int = 127):
    """Symmetric per-vector integer quantization of an array<float/
    double> column: ``struct(scale, q: array<int>)`` with
    ``q_i = floor(v_i / scale + 0.5)``, ``scale = max|v| / levels``.

    ``floor(x + 0.5)`` (round-half-up) is used instead of ``round``
    because its semantics are pinned and identical across engines —
    the quantized integers must be bit-reproducible for the exact
    integer-dot scoring downstream. Zero vectors quantize to zeros
    with scale 0.

    ``let``-bound like :func:`l2_normalize`: the O(d) ``array_max``
    evaluates once per row, not once per element.
    """
    from polars_text_spark.plans.exprs import let

    def with_mx(v, mx):
        scale = mx / F.lit(float(levels))
        # scale (not mx) > 0: denormal-max vectors underflow the scale
        # to 0.0 and must quantize to zeros (with_quantized twin)
        q = F.when(
            scale > 0,
            F.transform(
                v, lambda x: F.floor(x / scale + F.lit(0.5)).cast("int")
            ),
        ).otherwise(F.transform(v, lambda x: F.lit(0)))
        return F.struct(scale.alias("scale"), q.alias("q"))

    return let(
        a.cast("array<double>"),
        lambda v: let(
            F.array_max(F.transform(v, lambda x: F.abs(x))),
            lambda mx: with_mx(v, mx),
        ),
    )


def cosine_topk_quantized(
    vectors: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
    levels: int = 127,
    max_query_rows: int = 65536,
) -> DataFrame:
    """Brute-force top-k over int8-QUANTIZED vectors — the
    memory-bound scale path: at 100 TB the ANN working set is the
    vector payload, and int8 cuts scan + shuffle + cache bytes 4x
    versus float32 (16x vs float64) while the hot loop becomes an
    integer dot (exact, no float accumulation order issues); only the
    final score multiplies two per-vector float scales. Top-k quality
    loss is bounded by the quantization step (~0.8% of max component
    at 127 levels); re-rank survivors with :func:`cosine_topk` when
    exactness matters.

    Returns ``(query_id, neighbor_id, score, rank)`` where score
    approximates cosine. Deterministic: integer dots are exact, ties
    break on smaller neighbor id.

    EAGER on the query side (like :func:`cosine_topk`): ``queries``
    is collected at call time and frozen into the scorer.

    The whole vector-side pipeline — L2 normalization, quantization,
    integer dots — runs inside ONE Arrow-batched numpy pass over the
    RAW vectors (half the Arrow bytes for float32 storage, zero
    per-row JVM HOFs): normalization is the exact fold
    (:func:`_norm_rows_exact`), quantization replicates
    :func:`with_quantized` op-for-op (max is order-independent,
    floor/divide single IEEE ops), and the integer dots are one
    float64 BLAS matmul — EXACT because int8 products (<= levels^2)
    and dim-bounded sums sit far below 2^53, and integer addition is
    associative, so BLAS's reordered accumulation is bit-identical to
    the SQL oracle's fold. Same stage shape as :func:`cosine_topk`:
    query side shipped once per executor via ``sc.broadcast``, per-row
    dot array exploded before anything reaches a shuffle, scale
    multiplies
    `(idot * qscale) * vscale` kept in the oracle's association
    order."""
    from pyspark.sql import types as T

    spark = vectors.sparkSession
    qid_type = queries.schema[id_col].dataType
    vid_type = vectors.schema[id_col].dataType
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qvec")
    )
    qrows = _collect_query_side(
        q, max_query_rows, "cosine_topk_quantized query", vec_field="__qvec"
    )
    out_fields = [
        T.StructField("query_id", qid_type),
        T.StructField("neighbor_id", vid_type),
        T.StructField("score", T.DoubleType()),
        T.StructField("rank", T.IntegerType(), nullable=False),
    ]
    if not qrows:
        return spark.createDataFrame([], T.StructType(out_fields))
    qscales: list = []
    qvecs: list = []
    for r in qrows:
        if r["__qvec"] is None:
            qscales.append(None)
            qvecs.append(None)
        else:
            s, qq = _quantize_vec_py(
                _normalize_vec_py(list(r["__qvec"])), levels
            )
            qscales.append(s)
            qvecs.append(qq)

    vs = vectors.select(
        F.col(id_col).alias("__id"), F.col(vec_col).alias("__vec")
    )
    qvecs_bc = spark.sparkContext.broadcast(qvecs)
    dotted = vs.mapInPandas(
        _quantized_dots_map_fn(qvecs_bc, len(qvecs), levels),
        schema=T.StructType(
            [
                T.StructField("neighbor_id", vid_type),
                T.StructField("__vscale", T.DoubleType()),
                T.StructField("idots", T.ArrayType(T.LongType())),
            ]
        ),
    )
    qid_arr = _array_lit([r["query_id"] for r in qrows], qid_type)
    qscale_arr = _array_lit(qscales, T.DoubleType())
    scored = dotted.select(
        "neighbor_id",
        "__vscale",
        F.posexplode("idots").alias("pos", "idot"),
    ).select(
        F.element_at(qid_arr, F.col("pos") + 1).alias("query_id"),
        "neighbor_id",
        (
            F.col("idot").cast("double")
            * F.element_at(qscale_arr, F.col("pos") + 1)
            * F.col("__vscale")
        ).alias("score"),
    )
    if exclude_self:
        scored = scored.filter(F.col("neighbor_id") != F.col("query_id"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def _kmeans_fit(sample: np.ndarray, k: int, seed: int, iters: int = 10) -> np.ndarray:
    """Seeded Lloyd's k-means on a driver-side sample (the IVF
    codebook). Deterministic; empty clusters re-seeded from the
    farthest points."""
    rng = np.random.default_rng(seed)
    centroids = sample[rng.choice(len(sample), k, replace=False)].astype(np.float64)
    for _ in range(iters):
        d2 = ((sample[:, None, :] - centroids[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for c in range(k):
            members = sample[assign == c]
            if len(members):
                centroids[c] = members.mean(axis=0)
            else:
                centroids[c] = sample[d2.min(axis=1).argmax()]
    return centroids.astype(np.float32)


def _nearest_centroids_udf(centroids: np.ndarray, nprobe: int):
    """pandas UDF: vector -> its nprobe nearest centroid ids (one
    batched numpy matmul per Arrow batch — no per-row Python)."""
    import pandas as pd
    from pyspark.sql import types as T

    cts = centroids  # captured; shipped once per task in the closure

    def fn(batch_iter):
        for series in batch_iter:
            mat = np.array([np.asarray(v, dtype=np.float32) for v in series])
            if len(mat) == 0:
                yield pd.Series([], dtype=object)
                continue
            d2 = (
                (mat**2).sum(axis=1, keepdims=True)
                - 2.0 * (mat @ cts.T)
                + (cts**2).sum(axis=1)[None, :]
            )
            idx = np.argsort(d2, axis=1)[:, :nprobe]
            yield pd.Series([row.astype(int).tolist() for row in idx])

    from typing import Iterator

    fn.__annotations__ = {
        "batch_iter": Iterator[pd.Series],
        "return": Iterator[pd.Series],
    }
    return F.pandas_udf(fn, T.ArrayType(T.IntegerType(), containsNull=False))


def _train_vectors(
    vectors: DataFrame, vec_col: str, train_sample: int, seed: int
) -> np.ndarray:
    """Seeded Bernoulli sample ACROSS partitions for codebook training.
    A plain ``limit(n)`` pulls from the first partition(s) only; at
    scale that trains the codebook on one shard and wrecks IVF recall.
    ``count()`` is metadata-cheap on parquet; the 1.5x fraction gives
    headroom so the seeded trim below usually still fills
    ``train_sample`` — the Bernoulli draw is approximate and may
    return slightly fewer rows (fine for codebook training)."""
    n_total = vectors.count()
    if n_total == 0:
        return np.empty((0, 0), dtype=np.float32)
    frac = min(1.0, (1.5 * train_sample) / n_total)
    rows = vectors.select(vec_col).sample(fraction=frac, seed=seed).collect()
    mat = np.array([np.asarray(r[0], dtype=np.float32) for r in rows])
    if len(mat) > train_sample:
        # a limit() here would re-bias toward early partitions; trim
        # with a seeded driver-side draw instead
        keep = np.random.default_rng(seed).choice(
            len(mat), train_sample, replace=False
        )
        mat = mat[np.sort(keep)]
    return mat


def cosine_topk_ivf(
    vectors: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int | None = None,
    nprobe: int = 3,
    train_sample: int = 10_000,
    seed: int = 42,
    exclude_self: bool = True,
    rerank: str = "expr",
) -> DataFrame:
    """IVF-bucketed ANN: a driver-trained k-means codebook partitions
    vectors into inverted lists; each query probes its ``nprobe``
    nearest lists and exact-cosine re-ranks only those candidates.

    The scan side shuffles once on list id; candidates per query are
    ~``nprobe/n_lists`` of the corpus — the standard
    recall/throughput dial. Codebook training collects only
    ``train_sample`` vectors to the driver. ``rerank="arrow"`` scores
    candidates in the Arrow fold scorer over a SLIM list join (no
    vector payload crosses the candidate shuffle) — bit-identical
    output, the high-fan-out/low-``n_lists`` shape (A/B in SCALING.md
    round-12). ``rerank="auto"`` picks the route from the expected
    fan-out ``n_v * n_q * nprobe / n_lists`` (exact in expectation for
    balanced lists) against the measured crossover
    :data:`ARROW_RERANK_MIN_EST_PAIRS` — the under-provisioned
    ``n_lists`` regime a grown corpus hits by accident routes to
    arrow automatically; two extra count jobs, nothing else.
    """
    if rerank not in ("expr", "arrow", "auto"):
        raise ValueError(
            f"rerank must be 'expr', 'arrow' or 'auto', got {rerank!r}"
        )
    sample = _train_vectors(vectors, vec_col, train_sample, seed)
    if len(sample) == 0:
        # Empty vectors table: degenerate to an empty result with the
        # correct schema directly — no codebook to train, and no
        # detour through cosine_topk, whose bounded query-side collect
        # would raise on a large query frame that this path never
        # needs to ship anywhere.
        from pyspark.sql import types as T

        return vectors.sparkSession.createDataFrame(
            [],
            T.StructType(
                [
                    T.StructField(
                        "query_id", queries.schema[id_col].dataType
                    ),
                    T.StructField(
                        "neighbor_id", vectors.schema[id_col].dataType
                    ),
                    T.StructField("cosine", T.DoubleType()),
                    T.StructField("rank", T.IntegerType(), nullable=False),
                ]
            ),
        )
    if n_lists is None:
        n_lists = max(1, int(np.sqrt(len(sample))))
    n_lists = min(n_lists, len(sample))
    nprobe = min(nprobe, n_lists)
    if rerank == "auto":
        n_v = vectors.where(F.col(vec_col).isNotNull()).count()
        n_q = queries.where(F.col(vec_col).isNotNull()).count()
        rerank = _auto_rerank(
            n_v * n_q * nprobe / n_lists, n_q, 65536
        )
    centroids = _kmeans_fit(sample, n_lists, seed)

    assign_one = _nearest_centroids_udf(centroids, 1)
    probe_many = _nearest_centroids_udf(centroids, nprobe)

    if rerank == "arrow":
        vnn = vectors.where(F.col(vec_col).isNotNull())
        qnn = queries.where(F.col(vec_col).isNotNull())
        v_keys = vnn.select(
            F.col(id_col).alias("neighbor_id"),
            F.explode(assign_one(F.col(vec_col))).alias("list_id"),
        )
        q_keys = qnn.select(
            F.col(id_col).alias("query_id"),
            F.explode(probe_many(F.col(vec_col))).alias("list_id"),
        )
        # each vector lives in exactly ONE list and a query's probed
        # lists are distinct, so (query_id, neighbor_id) is already
        # unique — no dedup exchange
        cands = v_keys.join(q_keys, "list_id").select(
            "query_id", "neighbor_id"
        )
        if exclude_self:
            cands = cands.filter(F.col("neighbor_id") != F.col("query_id"))
        scored = _arrow_candidate_scores(
            vnn, qnn, cands, id_col=id_col, vec_col=vec_col
        )
        return rank_topk(scored, k)

    v = with_l2_normalized(
        vectors.select(F.col(id_col).alias("neighbor_id"), vec_col), vec_col, "__vvec"
    ).select(
        "neighbor_id",
        "__vvec",
        F.explode(assign_one(F.col(vec_col))).alias("list_id"),
    )
    q = with_l2_normalized(
        queries.select(F.col(id_col).alias("query_id"), vec_col), vec_col, "__qvec"
    ).select(
        "query_id",
        "__qvec",
        F.explode(probe_many(F.col(vec_col))).alias("list_id"),
    )
    # each vector lives in exactly ONE list (assign_one) and a query's
    # probed lists are distinct, so (query_id, neighbor_id) is already
    # unique — the dedup this used to do was a pure Exchange of
    # vector-carrying rows (2 x dim doubles per candidate) for nothing
    cands = v.join(q, "list_id")
    if exclude_self:
        cands = cands.filter(F.col("neighbor_id") != F.col("query_id"))
    scored = cands.select(
        "query_id",
        "neighbor_id",
        dot(F.col("__qvec"), F.col("__vvec")).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def cosine_topk_ivf_kmeans(
    vectors: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int = 8,
    nprobe: int = 3,
    iterations: int = 2,
    decimals: int = 6,
    exclude_self: bool = True,
) -> DataFrame:
    """IVF ANN with a fully DETERMINISTIC codebook: the inverted lists
    are the clusters of :func:`polars_text_spark.operators.semdedup.
    kmeans_fit` (smallest-id seeding, left-fold distances, rounded
    mean updates — the construction that hash-matches in DuckDB), so
    every candidate list AND the exact-cosine re-ranked top-k are
    oracle-checkable end to end — unlike :func:`cosine_topk_ivf`,
    whose numpy-seeded codebook is reproducible but not
    SQL-re-derivable.

    Same distributed shape as the production IVF: the scan side
    shuffles once on its single list id; each query expands to its
    ``nprobe`` nearest lists (distance ties to the smaller list id)
    and the candidate join is an equi-join on ``list_id`` touching
    ~``nprobe/n_lists`` of the corpus. Returns
    ``(query_id, neighbor_id, cosine, rank)``.
    """
    from polars_text_spark.operators.semdedup import _sq_dist, kmeans_fit

    assign, centroids = kmeans_fit(
        vectors, vec_col, id_col,
        k=n_lists, iterations=iterations, decimals=decimals,
    )
    nprobe = min(nprobe, len(centroids))

    v = (
        with_l2_normalized(
            vectors.select(F.col(id_col).alias("neighbor_id"), vec_col),
            vec_col,
            "__vvec",
        )
        .select("neighbor_id", "__vvec")
        .join(
            assign.select(
                F.col(id_col).alias("neighbor_id"),
                F.col("cluster").alias("list_id"),
            ),
            "neighbor_id",
        )
    )
    # nprobe nearest lists per query: sort (dist, cid) structs — array
    # sort is lexicographic, so ties resolve to the smaller list id,
    # matching the oracle's ORDER BY d, cid
    vcast = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    dc = F.array(
        *[
            F.struct(
                _sq_dist(vcast, c).alias("d"),
                F.lit(i).cast("int").alias("cid"),
            )
            for i, c in enumerate(centroids)
        ]
    )
    probes = F.transform(
        F.slice(F.array_sort(dc), 1, nprobe), lambda s: s.getField("cid")
    )
    q = with_l2_normalized(
        queries.select(F.col(id_col).alias("query_id"), vec_col),
        vec_col,
        "__qvec",
    ).select(
        "query_id", "__qvec", F.explode(probes).alias("list_id")
    )
    # each vector lives in exactly ONE list and probes are distinct,
    # so (query_id, neighbor_id) is already unique — no dedup needed
    cands = v.join(q, "list_id")
    if exclude_self:
        cands = cands.filter(F.col("neighbor_id") != F.col("query_id"))
    scored = cands.select(
        "query_id",
        "neighbor_id",
        dot(F.col("__qvec"), F.col("__vvec")).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def ann_recall_report(
    vectors: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = 16,
    bands: int = 8,
    nprobe: int = 12,
    seed: int = 42,
) -> DataFrame:
    """Recall@k of each approximate ANN method against the exact
    brute-force top-k, computed in ONE job:
    ``(method, recall_at_k, n_hit, n_exact, k)``.

    The quality floor the approximate paths can't express as a SQL
    oracle (seeded hashing) but CAN prove operationally: every run
    reports how much of the exact answer the LSH banding and the IVF
    probe actually recovered. At 100 TB this is the always-on
    monitoring query you run on a sampled query set — the exact
    brute-force side stays cheap because the query set is small while
    the ANN side is the production path being audited.
    """
    ids = (F.col("query_id"), F.col("neighbor_id"))
    exact = (
        cosine_topk(vectors, queries, k=k, id_col=id_col, vec_col=vec_col)
        .select(*ids)
    )
    # consumed once per method + once for the total: persist the tiny
    # (|Q| x k) id-pair frame rather than re-running brute force
    exact = track_persist(exact.persist())
    totals = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    approx = {
        "lsh": cosine_topk_lsh(
            vectors, queries, k=k, dim=dim, id_col=id_col, vec_col=vec_col,
            num_planes=num_planes, bands=bands, seed=seed,
        ),
        "ivf": cosine_topk_ivf(
            vectors, queries, k=k, id_col=id_col, vec_col=vec_col,
            nprobe=nprobe, seed=seed,
        ),
    }
    reports = []
    for method, df in approx.items():
        hits = (
            exact.join(df.select(*ids), ["query_id", "neighbor_id"], "inner")
            .agg(F.count(F.lit(1)).alias("n_hit"))
        )
        reports.append(
            hits.crossJoin(F.broadcast(totals)).select(
                F.lit(method).alias("method"),
                F.round(F.col("n_hit") / F.col("n_exact"), 6).alias(
                    "recall_at_k"
                ),
                F.col("n_hit").cast("long").alias("n_hit"),
                F.col("n_exact").cast("long").alias("n_exact"),
                F.lit(k).cast("int").alias("k"),
            )
        )
    out = reports[0]
    for r in reports[1:]:
        out = out.unionByName(r)
    return out


def _hyperplanes(dim: int, num_planes: int, seed: int) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((num_planes, dim))


def _signature_bits(vec_col, planes: np.ndarray):
    """One sign bit per hyperplane, as built-in expressions."""
    v = vec_col.cast("array<double>")
    bits = []
    for plane in planes:
        lits = F.array(*[F.lit(float(x)) for x in plane])
        dot = F.aggregate(
            F.zip_with(v, lits, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bits.append(F.when(dot >= 0, F.lit(1)).otherwise(F.lit(0)))
    return bits


def lsh_band_keys(
    vec_col,
    *,
    dim: int,
    num_planes: int = 16,
    bands: int = 4,
    seed: int = 42,
):
    """``array<string>`` of band bucket keys for a vector column.

    Sizing at scale: a band of ``r = num_planes/bands`` bits has at
    most ``2^r`` buckets, so expected bucket occupancy is ``>= n/2^r``
    — the default 4-bit bands put ~n/16 of the corpus in every bucket
    and the candidate join degrades toward brute force as n grows.
    ``num_planes`` must grow with ``log2(n)`` (e.g. 64 planes / 8
    bands -> 8-bit bands for 10^8 vectors) to keep per-bucket
    candidates bounded; the re-rank A/B in SCALING.md round-12
    measures what under-provisioned bands cost and `rerank="arrow"`
    is the mitigation when re-provisioning isn't possible."""
    planes = _hyperplanes(dim, num_planes, seed)
    bits = _signature_bits(vec_col, planes)
    rows_per_band = num_planes // bands
    keys = []
    for b in range(bands):
        chunk = bits[b * rows_per_band : (b + 1) * rows_per_band]
        key = F.concat_ws(
            "", F.lit(str(b)), F.lit(":"), *[c.cast("string") for c in chunk]
        )
        keys.append(key)
    return F.array(*keys)


# Measured crossover for the re-rank route (SCALING.md round-12 re-rank
# A/B: expression dot vs Arrow route; 100k x dim-64 corpus, 64 queries): at
# ~600k estimated candidate pairs the two routes are at parity
# (IVF n_lists=32: 2.12 s expr / 1.90 s arrow); at >= ~4.8M the Arrow
# route wins outright (IVF n_lists=4: 17.9 s -> 2.1 s = 8.5x; 1-bit
# LSH bands ~6M est: 2.3x), while at 1.6M the expression route still
# edges it (LSH 16/4: 1.98 s vs 2.31 s — the arrow fixed costs:
# query-side collect + Python-worker exchange). 4M sits between the
# last expr win and the first big arrow win — conservative toward
# expr, which degrades gently (interpreted dots), where under-routing
# the degenerate regimes is the 8.5x mistake.
ARROW_RERANK_MIN_EST_PAIRS = 4_000_000


def _auto_rerank(
    est_pairs: float, n_queries: int, max_query_rows: int
) -> str:
    """Resolve ``rerank="auto"``: the Arrow route when the estimated
    candidate fan-out crosses :data:`ARROW_RERANK_MIN_EST_PAIRS` and
    the query side is collectable, else the expression route. When the
    estimate says arrow but the query side is NOT collectable, warn
    loudly instead of silently eating the interpreted-dot cost — the
    caller can split the query batch."""
    if est_pairs < ARROW_RERANK_MIN_EST_PAIRS:
        return "expr"
    if n_queries > max_query_rows:
        import warnings

        warnings.warn(
            f"rerank='auto': estimated candidate fan-out "
            f"({est_pairs:.2g} pairs) is past the Arrow crossover "
            f"({ARROW_RERANK_MIN_EST_PAIRS}), but the query side "
            f"({n_queries} rows) exceeds max_query_rows "
            f"({max_query_rows}); falling back to the expression "
            "re-rank — split the query batch (or raise the budget) to "
            "take the measured 2-8x Arrow win (SCALING.md round-12)",
            stacklevel=3,
        )
        return "expr"
    return "arrow"


def _auto_banded_rerank(
    vectors: DataFrame,
    queries: DataFrame,
    vec_col: str,
    *,
    num_planes: int,
    bands: int,
    max_query_rows: int = 65536,
) -> str:
    """Counts-only route estimate for the banded (LSH) paths:
    ``est = n_v * n_q * (1 - (1 - 2^-r)^bands)`` with ``r`` bits per
    band — per-pair collision probability under UNIFORM bucket
    occupancy, which is a LOWER bound (clustering only concentrates
    buckets and raises collisions), so auto errs toward the
    expression route. The structural degenerate regime — bands too
    narrow for the corpus (the accident a grown corpus hits, see
    :func:`lsh_band_keys` sizing note) — is captured by the
    parameters alone; DATA-driven skew on top of adequate bands is
    not, which is what :func:`lsh_band_stats` audits (pass
    ``rerank="arrow"`` explicitly when it reports hot buckets). Two
    count jobs, nothing else touches the corpus."""
    r = num_planes // bands
    n_v = vectors.where(F.col(vec_col).isNotNull()).count()
    n_q = queries.where(F.col(vec_col).isNotNull()).count()
    collide = 1.0 - (1.0 - 2.0 ** -r) ** bands
    return _auto_rerank(n_v * n_q * collide, n_q, max_query_rows)


def rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """The shared re-rank tail of every candidate-generation strategy:
    ``row_number`` per query over ``(cosine desc, neighbor_id asc)``
    (the deterministic tie-break), keep ``rank <= k``. One definition
    so the rank contract cannot drift between operators."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def _arrow_candidate_scores(
    vectors: DataFrame,
    queries: DataFrame,
    cands: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    max_query_rows: int = 65536,
) -> DataFrame:
    """Score a SLIM candidate-pair frame ``cands(query_id,
    neighbor_id)`` with the Arrow fold scorer: ``(query_id,
    neighbor_id, cosine)`` for exactly the candidate pairs, cosines
    bit-identical to the expression path (``_fold_dot_batch`` replays
    the normalize + left-fold dot order, the property the sha-twin
    oracles pin).

    The high-fan-out re-rank shape (see SCALING.md round-12 A/B): the
    candidate join carries NO vector payload — band/list keys join
    3-scalar rows — and each candidate-bearing scan vector crosses into
    the Arrow pass ONCE (left-semi join on the candidate neighbor set)
    where it scores against ALL queries vectorized; the final inner
    join keeps candidate pairs. Per scored row the waste is the
    non-candidate queries' dots — numpy throughput makes that cheaper
    than one interpreted HOF dot per pair as soon as fan-out is
    non-trivial; at toy candidate counts the fixed query collect +
    Python-worker exchange dominates instead, which is why the
    expression path stays the default."""
    from pyspark.sql import types as T

    from polars_text_spark.persist import track_persist

    spark = vectors.sparkSession
    qid_type = queries.schema[id_col].dataType
    vid_type = vectors.schema[id_col].dataType
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qvec")
    )
    qrows = _collect_query_side(
        q, max_query_rows, "arrow re-rank query", vec_field="__qvec"
    )
    out_fields = [
        T.StructField("query_id", qid_type),
        T.StructField("neighbor_id", vid_type),
        T.StructField("cosine", T.DoubleType()),
    ]
    if not qrows:
        return spark.createDataFrame([], T.StructType(out_fields))
    qvecs = [
        None if r["__qvec"] is None else _normalize_vec_py(list(r["__qvec"]))
        for r in qrows
    ]
    qvecs_bc = spark.sparkContext.broadcast(qvecs)
    # consumed twice: the neighbor semi-join and the final pair join
    cands = track_persist(cands.persist())
    v = vectors.select(
        F.col(id_col).alias("__id"), F.col(vec_col).alias("__vec")
    ).join(
        cands.select(F.col("neighbor_id").alias("__id")),
        "__id",
        "left_semi",
    )
    dotted = v.mapInPandas(
        _dots_map_fn(qvecs_bc, len(qvecs), "dots"),
        schema=T.StructType(
            [
                T.StructField("neighbor_id", vid_type),
                T.StructField("dots", T.ArrayType(T.DoubleType())),
            ]
        ),
    )
    qid_arr = _array_lit([r["query_id"] for r in qrows], qid_type)
    scored = dotted.select(
        "neighbor_id", F.posexplode("dots").alias("pos", "cosine")
    ).select(
        F.element_at(qid_arr, F.col("pos") + 1).alias("query_id"),
        "neighbor_id",
        "cosine",
    )
    return scored.join(cands, ["query_id", "neighbor_id"])


def banded_scored_candidates(
    vectors: DataFrame,
    queries: DataFrame,
    keys_fn,
    *,
    id_col: str,
    vec_col: str,
    exclude_self: bool,
    rerank: str = "expr",
    max_query_rows: int = 65536,
) -> DataFrame:
    """Shared banding-OR-construction candidate stage: explode band
    keys on both sides (``keys_fn(vec Column) -> array<string>``),
    equi-join on the key, dedup, exact cosine per surviving pair —
    ``(query_id, neighbor_id, cosine)``. Null vectors are dropped on
    BOTH sides (a null vector has no meaningful signature and its
    cosine is null). Consumed by the ANN top-k tail
    (:func:`rank_topk`) and by the contrastive-triplet miner, which
    derives positives AND hard negatives from ONE candidate shuffle.

    ``rerank="arrow"`` routes the per-candidate scoring through the
    Arrow fold scorer (:func:`_arrow_candidate_scores`): the band join
    then carries NO vector payload and each candidate vector scores
    once, vectorized — the high-fan-out shape (collapsed bands, large
    query sets; A/B in SCALING.md round-12). It requires a
    collectable query side (``max_query_rows`` + the byte budget);
    outputs are bit-identical to the default expression path."""
    if rerank not in ("expr", "arrow"):
        raise ValueError(f"rerank must be 'expr' or 'arrow', got {rerank!r}")
    if rerank == "arrow":
        vnn = vectors.where(F.col(vec_col).isNotNull())
        qnn = queries.where(F.col(vec_col).isNotNull())
        v_keys = vnn.select(
            F.col(id_col).alias("neighbor_id"),
            F.explode(keys_fn(F.col(vec_col))).alias("band_key"),
        )
        q_keys = qnn.select(
            F.col(id_col).alias("query_id"),
            F.explode(keys_fn(F.col(vec_col))).alias("band_key"),
        )
        cands = (
            v_keys.join(q_keys, "band_key")
            .select("query_id", "neighbor_id")
            .dropDuplicates(["query_id", "neighbor_id"])
        )
        if exclude_self:
            cands = cands.filter(F.col("neighbor_id") != F.col("query_id"))
        return _arrow_candidate_scores(
            vnn, qnn, cands,
            id_col=id_col, vec_col=vec_col, max_query_rows=max_query_rows,
        )
    v = with_l2_normalized(
        vectors.where(F.col(vec_col).isNotNull()).select(
            F.col(id_col).alias("neighbor_id"), vec_col
        ),
        vec_col,
        "__vvec",
    ).select("neighbor_id", "__vvec", F.explode(keys_fn(F.col(vec_col))).alias("band_key"))
    q = with_l2_normalized(
        queries.where(F.col(vec_col).isNotNull()).select(
            F.col(id_col).alias("query_id"), vec_col
        ),
        vec_col,
        "__qvec",
    ).select("query_id", "__qvec", F.explode(keys_fn(F.col(vec_col))).alias("band_key"))
    # Score in the JOIN PROJECTION, dedup the slim frame after: a pair
    # colliding in several bands recomputes its (cheap, codegen'd) dot
    # per collision, but the dropDuplicates exchange then moves 3
    # scalars per row instead of two dim-sized vectors — at corpus
    # scale the vector-carrying dedup shuffle is ~dim*16/24 x heavier
    # and was the OOM in the sf0.1 full-corpus self-joins (contrastive
    # / bitext). Duplicate rows agree exactly (the dot is a
    # deterministic expression of the pair), so keeping any one is
    # sound.
    cands = v.join(q, "band_key")
    if exclude_self:
        cands = cands.filter(F.col("neighbor_id") != F.col("query_id"))
    scored = cands.select(
        "query_id",
        "neighbor_id",
        dot(F.col("__qvec"), F.col("__vvec")).alias("cosine"),
    )
    return scored.dropDuplicates(["query_id", "neighbor_id"])


def _banded_topk(
    vectors: DataFrame,
    queries: DataFrame,
    keys_fn,
    *,
    k: int,
    id_col: str,
    vec_col: str,
    exclude_self: bool,
    rerank: str = "expr",
) -> DataFrame:
    """Banding-OR-construction ANN: the shared candidate stage plus
    the exact-cosine re-rank tail."""
    scored = banded_scored_candidates(
        vectors,
        queries,
        keys_fn,
        id_col=id_col,
        vec_col=vec_col,
        exclude_self=exclude_self,
        rerank=rerank,
    )
    return rank_topk(scored, k)


def cosine_topk_lsh(
    vectors: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = 16,
    bands: int = 4,
    seed: int = 42,
    exclude_self: bool = True,
    rerank: str = "expr",
) -> DataFrame:
    """Approximate top-k: candidates from LSH band-bucket collisions,
    exact cosine re-rank. A vector colliding with a query in ANY band
    is a candidate (standard banding OR-construction).
    ``rerank="arrow"`` scores candidates in the Arrow fold scorer —
    bit-identical output, the high-fan-out shape (see
    :func:`banded_scored_candidates`); ``"auto"`` resolves the route
    from the counts-only fan-out estimate
    (:func:`_auto_banded_rerank`)."""
    if rerank == "auto":
        rerank = _auto_banded_rerank(
            vectors, queries, vec_col, num_planes=num_planes, bands=bands
        )
    return _banded_topk(
        vectors,
        queries,
        lambda c: lsh_band_keys(
            c, dim=dim, num_planes=num_planes, bands=bands, seed=seed
        ),
        k=k,
        id_col=id_col,
        vec_col=vec_col,
        exclude_self=exclude_self,
        rerank=rerank,
    )


def _sha_sign(j: int, p: int) -> float:
    """Engine-portable ±1 hyperplane component: sign of (plane j,
    dim p) from the first hex digit of sha256("j:p") — '0'-'7' -> +1,
    '8'-'f' -> -1. DuckDB re-derives it as
    ``substr(sha256(j || ':' || p), 1, 1) < '8'``."""
    import hashlib

    return 1.0 if hashlib.sha256(f"{j}:{p}".encode()).hexdigest()[0] < "8" else -1.0


def sha_band_keys(vec_col, *, dim: int, num_planes: int = 16, bands: int = 4):
    """``array<string>`` of band bucket keys from sha-derived ±1
    hyperplanes — the SQL-re-derivable twin of :func:`lsh_band_keys`
    (whose Gaussian planes come from numpy's PRNG, reproducible but
    not replayable by another engine). ±1 planes are the standard
    cheap variant of random-hyperplane LSH; each sign bit is a single
    left fold of ±v[p], bit-identical across engines."""
    if num_planes % bands != 0:
        raise ValueError("num_planes must be divisible by bands")
    v = vec_col.cast("array<double>")
    # In-plan dimensionality guard (round 16): a short vector
    # null-pads through zip_with, every plane dot goes null, and ALL
    # its band keys collapse to the degenerate all-zero-bits keys —
    # silent recall 0. Guarding HERE costs one size comparison fused
    # into the banding projection, where the former pre-flight
    # _assert_vec_dim scan was a full extra pass over every appended
    # shard (and one extra driver job per store read). Null vectors
    # pass through unchanged — callers filter them by contract.
    dim_ok = v.isNull() | (F.size(v) == F.lit(int(dim)))
    dim_err = F.raise_error(
        F.concat(
            F.lit("sha_band_keys: vector has "),
            F.size(v).cast("string"),
            F.lit(
                f" components but the signature is dim={dim}; a "
                "mismatched vector bands to degenerate keys and "
                "silently destroys recall"
            ),
        )
    )
    bits = []
    for j in range(num_planes):
        # one parsed DOUBLE array literal per plane, not dim F.lit
        # calls: those were dim x num_planes Py4J round-trips per build
        signs = F.expr(
            "array("
            + ", ".join("1.0D" if _sha_sign(j, p) > 0 else "-1.0D" for p in range(dim))
            + ")"
        )
        dotv = F.aggregate(
            F.zip_with(v, signs, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bits.append(F.when(dotv >= 0, F.lit(1)).otherwise(F.lit(0)))
    rows_per_band = num_planes // bands
    keys = []
    for b in range(bands):
        chunk = bits[b * rows_per_band : (b + 1) * rows_per_band]
        keys.append(
            F.concat_ws(
                "", F.lit(str(b)), F.lit(":"), *[c.cast("string") for c in chunk]
            )
        )
    return F.when(dim_ok, F.array(*keys)).otherwise(
        dim_err.cast("array<string>")
    )


def cosine_topk_lsh_sha(
    vectors: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = 16,
    bands: int = 4,
    exclude_self: bool = True,
    rerank: str = "expr",
) -> DataFrame:
    """LSH ANN with fully DETERMINISTIC, SQL-re-derivable hashing:
    :func:`sha_band_keys` buckets + exact-cosine re-rank, so an
    external engine replays every signature bit, every candidate AND
    the final top-k — the same recipe that converted SimHash and IVF
    to the oracle column. Identical distributed shape to
    :func:`cosine_topk_lsh`: band-key equi-join candidates (banding
    OR-construction), never all-pairs. Null vectors are dropped on
    both sides (matching :func:`polars_text_spark.operators.ann_store.
    topk_from_store`, which is value-identical over the same corpus).
    ``rerank="auto"`` resolves the route from the counts-only fan-out
    estimate (:func:`_auto_banded_rerank`)."""
    if rerank == "auto":
        rerank = _auto_banded_rerank(
            vectors, queries, vec_col, num_planes=num_planes, bands=bands
        )
    return _banded_topk(
        vectors,
        queries,
        lambda c: sha_band_keys(c, dim=dim, num_planes=num_planes, bands=bands),
        k=k,
        id_col=id_col,
        vec_col=vec_col,
        exclude_self=exclude_self,
        rerank=rerank,
    )
