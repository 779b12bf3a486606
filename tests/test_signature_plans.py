"""The MinHash and sha-hyperplane signature plans are built from SQL
strings (one parse instead of thousands of Py4J Column calls). Stored
signatures and band keys are a store contract, so every string-built
column must equal the Column-API formula it replaced, row for row and
with the same schema. The reference formulas below ARE those former
Column-API bodies."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from polars_text_spark.operators.dedup import (
    _banded_signatures,
    minhash_signatures,
    token_shingles,
)
from polars_text_spark.operators.similarity import _sha_sign, sha_band_keys


def _ref_minhash_signatures(df, id_col, *, num_perm, shingle_n):
    exploded = df.select(
        F.col(id_col),
        F.explode_outer(token_shingles("text", shingle_n, hashed=True)).alias(
            "shingle"
        ),
    ).filter(F.col("shingle").isNotNull())
    mins = [
        F.min(F.xxhash64(F.col("shingle"), F.lit(k))).alias(f"h{k}")
        for k in range(num_perm)
    ]
    sigs = exploded.groupBy(id_col).agg(*mins)
    return sigs.select(
        id_col, F.array(*[f"h{k}" for k in range(num_perm)]).alias("minhash")
    )


def _ref_banded_signatures(df, id_col, out_id, *, num_perm, bands, shingle_n):
    rows_per_band = num_perm // bands
    sigs = _ref_minhash_signatures(
        df, id_col, num_perm=num_perm, shingle_n=shingle_n
    )
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(
                    *[
                        F.col("minhash")[b * rows_per_band + r]
                        for r in range(rows_per_band)
                    ]
                ).alias("bucket"),
            )
            for b in range(bands)
        ]
    )
    return sigs.select(
        F.col(id_col).alias(out_id),
        F.explode(band_structs).alias("bk"),
        F.xxhash64(*[F.col("minhash")[i] for i in range(num_perm)]).alias("__sig"),
    )


def _ref_sha_band_keys(vec_col, *, dim, num_planes, bands):
    v = vec_col.cast("array<double>")
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
        signs = F.array(*[F.lit(_sha_sign(j, p)) for p in range(dim)])
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


def _assert_identical(got, ref):
    assert got.schema == ref.schema
    n = ref.count()
    assert n > 0, "identity over an empty frame is vacuous"
    assert got.count() == n
    assert got.exceptAll(ref).count() == 0
    assert ref.exceptAll(got).count() == 0


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )


@pytest.mark.parametrize(
    "num_perm,bands,shingle_n", [(64, 16, 3), (24, 6, 5)]
)
def test_string_built_minhash_plans_match_column_formulas(
    docs, num_perm, bands, shingle_n
):
    _assert_identical(
        minhash_signatures(docs, num_perm=num_perm, shingle_n=shingle_n),
        _ref_minhash_signatures(
            docs, "doc_id", num_perm=num_perm, shingle_n=shingle_n
        ),
    )
    _assert_identical(
        _banded_signatures(
            docs, "text", "doc_id", "id",
            num_perm=num_perm, bands=bands, shingle_n=shingle_n,
        ),
        _ref_banded_signatures(
            docs, "doc_id", "id",
            num_perm=num_perm, bands=bands, shingle_n=shingle_n,
        ),
    )


def test_string_built_sha_band_keys_match_column_formula(spark, sf_dir):
    vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet").filter(
        F.col("embedding").isNotNull()
    )
    kw = dict(dim=64, num_planes=16, bands=4)
    _assert_identical(
        vecs.select("vec_id", sha_band_keys(F.col("embedding"), **kw).alias("k")),
        vecs.select(
            "vec_id", _ref_sha_band_keys(F.col("embedding"), **kw).alias("k")
        ),
    )
