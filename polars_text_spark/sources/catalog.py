"""Testdata catalog: the TPC-H-ish star schema + text/embedding tables.

At 100 TB these would be partitioned/bucketed external tables; here
they are single parquet files per table (TESTDATA.md). Readers stay
declarative (``spark.read.parquet``) so Catalyst keeps predicate
pushdown, column pruning and partition pruning on the scan.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, name: str, sf_dir: str | None = None) -> DataFrame:
    sf = sf_dir or DEFAULT_SF_DIR
    if name not in TABLES:
        raise KeyError(f"unknown table '{name}'; known: {TABLES}")
    if name == "events":
        return load_events(spark, sf)
    return scan_parquet(spark, f"{sf}/{name}.parquet")


# Footer-inferred schema per parquet path. A CATALOG table carries its
# schema in the metastore and never re-infers; a PATH-based
# ``spark.read.parquet`` re-reads footers on EVERY call (~0.15 s of
# driver-side fixed cost per read, measured sf0.1 — paid once per query
# per bench rep). Memoizing the SCHEMA (metadata only — every scan
# still reads the data files; results are never cached) gives path
# reads the catalog-table property. Each entry is stamped with the
# path's size and mtime (:func:`_stamp`) and only served while they
# match, so a path rewritten in-process is re-inferred, never read
# under its old schema.
_SCHEMA_CACHE: dict[str, tuple[tuple[int, int], object]] = {}


def _stamp(path: str) -> tuple[int, int] | None:
    """(size, mtime_ns) of a local path — for a directory, of the
    directory entry, which a rewrite or an added file changes — or
    None when the driver cannot stat it (memoization is then off)."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_size, st.st_mtime_ns


def scan_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Path-based parquet read with the footer schema memoized per
    path (first read infers and records; later reads supply the schema
    explicitly, skipping footer inference)."""
    stamp = _stamp(path)
    hit = _SCHEMA_CACHE.get(path)
    if stamp is not None and hit is not None and hit[0] == stamp:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    if stamp is not None:
        _SCHEMA_CACHE[path] = (stamp, df.schema)
    return df


def spread_scan(
    df: DataFrame,
    target: int | None = None,
    *,
    memo_key: str | None = None,
) -> DataFrame:
    """Widen an under-partitioned scan so map-side work parallelizes.

    Parquet splits at row-group boundaries, so a table written as one
    file with one row group scans as ONE task no matter how many cores
    the cluster has — and every per-row expression downstream (shingle
    hashing, tokenization, sha fingerprints) serializes onto it. This
    is exactly the classic "three huge gzip files" ingest problem: pay
    one tiny shuffle of the raw bytes up front, then run the expensive
    projection at full parallelism.

    Guarded to only WIDEN: when the scan already has >= target
    partitions (any real multi-file/multi-row-group table — the
    100 TB case), this is the identity and costs nothing. Round-robin
    repartition sorts within partitions first (SPARK-23207), so the
    redistribution is retry-deterministic. Callers with cheap per-row
    work skip widening at the call site.

    ``memo_key``: the path of the scan, when the caller scans it
    repeatedly (the testdata tables — one probe per query per bench
    rep): the raw-partition probe (a ``df.rdd`` plan conversion,
    ~30-50 ms of driver work, no job) is memoized under
    ``(memo_key, target)`` and stamped like the schema memo above.
    """
    tgt = target or df.sparkSession.sparkContext.defaultParallelism
    stamp = _stamp(memo_key) if memo_key is not None else None
    hit = _SPREAD_PROBE_CACHE.get((memo_key, tgt))
    if stamp is not None and hit is not None and hit[0] == stamp:
        parts = hit[1]
    else:
        parts = df.rdd.getNumPartitions()
        if stamp is not None:
            _SPREAD_PROBE_CACHE[(memo_key, tgt)] = (stamp, parts)
    if parts >= tgt:
        return df
    return df.repartition(tgt)


_SPREAD_PROBE_CACHE: dict[tuple[str, int], tuple[tuple[int, int], int]] = {}


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-adaptive events reader: normalize ``ts`` to a session-TZ
    ``timestamp`` column whatever the on-disk parquet encoding is.

    Real event-log deployments accumulate partition vintages with
    different physical timestamp encodings, so the reader branches on
    what the scan actually reports instead of hardcoding one:

    - ``TimestampType`` — pass through.
    - ``TimestampNTZType`` (plain ``timestamp[us]`` parquet, no UTC
      adjustment flag) — cast to ``timestamp``; the session time zone
      is pinned to UTC in :mod:`polars_text_spark.session`, so the
      wall-clock values are preserved and match DuckDB's naive read.
    - ``LongType`` / read failure — TIMESTAMP(NANOS) vintage, which
      Spark's reader rejects unless surfaced as raw longs via
      ``spark.sql.legacy.parquet.nanosAsLong``. Convert with integer
      division: ``/`` would promote epoch-nanos (~1.7e18, double
      ulp = 256 there) to double and round across us boundaries;
      ``div`` floors, matching DuckDB's own ns -> us truncation.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    path = f"{sf_dir}/events.parquet"
    try:
        # scan_parquet memoizes the footer schema, so the vintage
        # probe is driver-metadata-free after the first call
        raw = scan_parquet(spark, path)
        ts_type = raw.schema["ts"].dataType
    except Exception:
        # Unreadable without the legacy conf => nanos vintage.
        ts_type = None
    if ts_type is None or isinstance(ts_type, T.LongType):
        # Scope the legacy conf to this read: the parquet->catalyst
        # schema conversion happens EAGERLY inside spark.read.parquet,
        # so the returned (lazy) frame stays valid after the restore —
        # verified empirically against a TIMESTAMP(NANOS) file; without
        # the restore every later parquet read in the session would
        # surface nanos columns as raw longs.
        try:
            prev = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong")
        except Exception:
            prev = None
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        try:
            raw = spark.read.parquet(path)
        finally:
            if prev is None:
                spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
            else:
                spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", prev)
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(ts_type, T.TimestampNTZType):
        return raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw


def register_views(spark: SparkSession, sf_dir: str | None = None) -> None:
    """Register every table as a temp view so ``spark.sql`` works."""
    for name in TABLES:
        load_table(spark, name, sf_dir).createOrReplaceTempView(name)
