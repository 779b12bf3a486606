"""Round-16 metadata memos: scan_parquet's footer-schema cache and
spread_scan's widening-probe memo must be invisible to results —
metadata only, every scan still reads the files."""

from __future__ import annotations

from polars_text_spark.sources.catalog import (
    _SCHEMA_CACHE,
    _SPREAD_PROBE_CACHE,
    scan_parquet,
    spread_scan,
)


def test_scan_parquet_schema_memo_identical_results(spark, sf_dir):
    path = f"{sf_dir}/documents.parquet"
    _SCHEMA_CACHE.pop(path, None)
    first = scan_parquet(spark, path)
    assert path in _SCHEMA_CACHE  # first read populated the memo
    second = scan_parquet(spark, path)  # served with explicit schema
    assert second.schema == first.schema
    rows_first = sorted(r["doc_id"] for r in first.select("doc_id").collect())
    rows_second = sorted(
        r["doc_id"] for r in second.select("doc_id").collect()
    )
    assert rows_first == rows_second


def test_scan_parquet_sees_new_data_files(spark, tmp_path):
    """The memo caches SCHEMA, never file listings or results: rows
    appended to the directory after the first read are visible to the
    next scan."""
    path = str(tmp_path / "grow.parquet")
    spark.range(5).write.parquet(path)
    assert scan_parquet(spark, path).count() == 5
    spark.range(5, 12).write.mode("append").parquet(path)
    assert scan_parquet(spark, path).count() == 12


def test_spread_scan_memo_same_decision(spark, sf_dir):
    path = f"{sf_dir}/documents.parquet"
    df = scan_parquet(spark, path)
    _SPREAD_PROBE_CACHE.clear()
    unmemod = spread_scan(df, 8)
    memod_first = spread_scan(df, 8, memo_key=path)
    memod_second = spread_scan(df, 8, memo_key=path)
    assert (path, 8) in _SPREAD_PROBE_CACHE
    assert (
        unmemod.rdd.getNumPartitions()
        == memod_first.rdd.getNumPartitions()
        == memod_second.rdd.getNumPartitions()
    )


def test_memos_follow_an_in_process_rewrite(spark, tmp_path):
    """A path rewritten in-process with a different schema is read
    under its NEW schema: both memos are stamped with the path's size
    and mtime and re-probe once they change."""
    path = str(tmp_path / "rewritten.parquet")
    spark.range(3).write.parquet(path)
    assert scan_parquet(spark, path).columns == ["id"]
    spread_scan(scan_parquet(spark, path), 8, memo_key=path)
    stamp = _SPREAD_PROBE_CACHE[(path, 8)][0]

    spark.range(4).selectExpr("id", "id * 2 AS twice").repartition(
        2
    ).write.mode("overwrite").parquet(path)
    again = scan_parquet(spark, path)
    assert again.columns == ["id", "twice"]
    assert sorted(r["twice"] for r in again.collect()) == [0, 2, 4, 6]
    spread_scan(again, 8, memo_key=path)
    assert _SPREAD_PROBE_CACHE[(path, 8)][0] != stamp
