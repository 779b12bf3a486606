"""Bucketed tables: shuffle-free co-located joins and aggregations.

At 100 TB the dominant cost of repeated joins on the same key (doc_id,
content hash, user_id) is re-shuffling the fact table every query.
Writing it bucketed by the join key once moves that shuffle to write
time: subsequent equi-joins between tables bucketed on the same key
with the same bucket count execute WITHOUT an Exchange on either side,
and groupBy on the bucket key skips the shuffle too.

Spark's bucketing rides the session catalog (saveAsTable); locally
that is the spark-warehouse directory, on a cluster the metastore.
"""

from __future__ import annotations

import os
import shutil
from contextlib import contextmanager
from dataclasses import dataclass
from functools import partial
from typing import Callable, NamedTuple

from pyspark.errors import PySparkException
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType

__all__ = [
    "IdKeyedStore",
    "check_generation_unchanged",
    "clear_table",
    "live_table",
    "meta_gen",
    "minus_tombstones",
    "phys_table",
    "pooled_writes",
    "read_bucketed",
    "read_meta",
    "read_tombstones",
    "rewrite_generation",
    "snapshot_rewrite",
    "start_meta_log",
    "store_generation",
    "sweep_stale_generations",
    "tombstone_ids",
    "write_bucketed",
    "write_meta_row",
]


def write_bucketed(
    df: DataFrame,
    table: str,
    *,
    bucket_by: str | list[str],
    buckets: int,
    sort_by: str | list[str] | None = None,
    mode: str = "overwrite",
    _prepartitioned: bool = False,
) -> None:
    """Persist ``df`` as a bucketed (and optionally sorted) table.

    ``buckets`` should match across every table that will be joined on
    ``bucket_by`` — mismatched counts force one side to re-shuffle.

    The input is hash-repartitioned on the bucket columns into exactly
    ``buckets`` partitions first (round 16; the Iceberg
    ``write.distribution-mode=hash`` stance, guide §6): Spark's
    bucketed write otherwise writes one file per (input partition x
    non-empty bucket), so a 32-partition frame at 4 buckets committed
    256 files per table — measured 1.6-3.8 s vs 0.6-0.8 s
    repartitioned, and every later read/list/snapshot of the store
    pays the fragment count again. repartition's hash is bucketing's
    hash, so each bucket lands in ONE task and file; the one write-side
    shuffle is the standard price for non-fragmented bucketed output
    (appends land as one fragment per bucket instead of one per input
    partition). Skew note: a hot bucket serializes into one task — at
    production scale pick ``buckets`` >> cores so hash spreading, not
    this repartition, bounds task size.

    ``_prepartitioned`` skips the repartition. Its one caller is
    :meth:`IdKeyedStore.append_rows`' id-table write: that frame is
    the append's pinned stage, already hash-partitioned by id into
    ``buckets`` partitions, but the lazy local checkpoint hides the
    layout from the planner, which would shuffle it again."""
    keys = [bucket_by] if isinstance(bucket_by, str) else list(bucket_by)
    if mode == "overwrite":
        clear_table(df.sparkSession, table)
    if not _prepartitioned:
        df = df.repartition(buckets, *[F.col(k) for k in keys])
    writer = df.write.format("parquet").mode(mode).bucketBy(buckets, *keys)
    if sort_by is not None:
        sort_keys = [sort_by] if isinstance(sort_by, str) else list(sort_by)
        writer = writer.sortBy(*sort_keys)
    writer.saveAsTable(table)


def clear_table(spark: SparkSession, table: str) -> None:
    """Drop a managed table AND its warehouse directory. A
    previously-dropped (or previous-session) managed table can leave
    its directory behind, which saveAsTable refuses to reuse
    (LOCATION_ALREADY_EXISTS) — clear both before an overwrite."""
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    location = os.path.join(warehouse.removeprefix("file:"), table.lower())
    if os.path.isdir(location):
        shutil.rmtree(location)


def read_bucketed(spark: SparkSession, table: str) -> DataFrame:
    return spark.table(table)


def tombstone_ids(ids: DataFrame, name: str, *, id_col: str) -> None:
    """Append a batch of ids to the store's ``<name>_tombstones``
    table (single ``id`` column) — the logical half of the deletion
    protocol shared by the MinHash and ANN stores: O(batch) per
    delete, read paths anti-join the set, compaction reclaims."""
    spark = ids.sparkSession
    frame = ids.select(F.col(id_col).alias("id")).distinct()
    exists = spark.catalog.tableExists(f"{name}_tombstones")
    if not exists:
        clear_table(spark, f"{name}_tombstones")  # stale dir from a drop
    frame.write.format("parquet").mode(
        "append" if exists else "overwrite"
    ).saveAsTable(f"{name}_tombstones")


def read_tombstones(spark: SparkSession, name: str) -> DataFrame | None:
    """The store's tombstone id set, or None if nothing was ever
    deleted (the common case — zero read overhead)."""
    if not spark.catalog.tableExists(f"{name}_tombstones"):
        return None
    # no .distinct(): the consumers are left-anti builds (duplicate
    # build keys are harmless) and it would add a shuffle to every read
    return spark.table(f"{name}_tombstones").select("id")


def minus_tombstones(df: DataFrame, ts: DataFrame | None, *, on: str = "id") -> DataFrame:
    """Anti-join a store frame against the tombstone set. The
    tombstone side is broadcast (a deletion batch is small relative
    to the store), so the store side keeps its bucket co-location —
    NO Exchange appears above the store scan (plan-tested)."""
    if ts is None:
        return df
    keyed = ts.select(F.col("id").alias(on)) if on != "id" else ts
    return df.join(F.broadcast(keyed), on, "left_anti")


# ---------------------------------------------------------------------------
# Generational store maintenance (round 14, VERDICT r13 #2)
#
# A store is two (or, for Bloom, one) physical tables plus the small
# ``<name>_meta`` log. The PHYSICAL table names are versioned
# (``<name>_bands_g3``) and the meta log is the atomic pointer:
# readers and appenders resolve meta -> current physical tables, and
# every maintenance verb (rebucket, purge, both rebuilds) goes through
# ONE cutover, :func:`rewrite_generation`, whose docstring is the
# failure-mode and race table.
# ---------------------------------------------------------------------------


def phys_table(name: str, suffix: str, gen: int) -> str:
    """Physical catalog name of a store table at generation ``gen``.
    Generation 0 is the legacy unsuffixed layout (every store written
    before round 14, and every fresh write — the suffix only appears
    once maintenance has produced generation >= 1)."""
    base = f"{name}_{suffix}"
    return base if gen == 0 else f"{base}_g{gen}"


def meta_gen(row) -> int:
    """Generation a meta row records: 0 for no row, and for a row
    predating the ``gen`` column."""
    gen = row.asDict().get("gen") if row is not None else None
    return int(gen) if gen is not None else 0


# Current row of each store's meta log, stamped with the log's parquet
# file set. Parquet files are immutable and every meta write (cutover
# append, fresh-write reset, schema upgrade) adds or replaces files, so
# an equal file set means an equal log. The stamp is listed through the
# same catalog relation the collect would read, so a hit returns what
# the collect would have returned. Entries are replaced whole, never
# mutated, so a concurrent reader sees one consistent (files, row) pair.
_META_CACHE: dict[str, tuple[frozenset, object]] = {}


def read_meta(spark: SparkSession, name: str):
    """Current ``<name>_meta`` row, or None when the table is absent
    or empty. Meta tables are an APPEND-ONLY log since round 15: a
    maintenance cutover appends a new row at ``gen + 1`` instead of
    overwriting the table (``saveAsTable(mode=overwrite)`` is a DROP +
    CREATE, so a crash mid-flip left NO meta table at all — ADVICE
    r14); the current store state is the highest-``gen`` row, which
    this helper resolves for every reader. Rows predating the ``gen``
    column sort as generation 0.

    A read runs NO Spark job while the log is unchanged: the log's
    file set (``inputFiles()``, a listing, not a job) is compared with
    the one the memoized row was read under (``_META_CACHE``), and only
    a changed set collects the log again. So the append gate, the
    post-append generation check and every other meta reader pay one
    collect per meta write, not one per call."""
    table = f"{name}_meta"
    if not spark.catalog.tableExists(table):
        return None
    log = spark.table(table)
    files = frozenset(log.inputFiles())
    hit = _META_CACHE.get(table)
    if hit is not None and hit[0] == files:
        return hit[1]
    rows = log.collect()
    row = max(rows, key=meta_gen) if rows else None
    _META_CACHE[table] = (files, row)
    return row


def store_generation(spark: SparkSession, name: str) -> int:
    """Current generation recorded in ``<name>_meta`` (0 when the
    meta table is absent or predates the ``gen`` column)."""
    return meta_gen(read_meta(spark, name))


def live_table(spark: SparkSession, name: str, suffix: str) -> str:
    """Current physical catalog name of a store table, resolved
    through the meta generation pointer — every read and append
    resolves here (or through :func:`phys_table` + a meta row it
    already holds) instead of hardcoding names."""
    return phys_table(name, suffix, store_generation(spark, name))


def _list_files(spark: SparkSession, location: str, schema) -> set[str]:
    """Parquet data-file set under ``location``, enumerated through
    Spark's OWN filesystem layer (a fresh path-based read's
    ``inputFiles``), never a driver-side ``os.walk``: the warehouse may
    be HDFS/S3 or otherwise invisible to the driver's local
    filesystem, where a walk silently returns an EMPTY set — and an
    empty snapshot would make :func:`rewrite_generation` write an
    empty next generation over a live store (ADVICE r14). The
    path-based read builds a fresh file index per call (no catalog
    relation caching), so a re-list always reflects concurrently
    appended files. ``schema`` avoids footer-inference and keeps the
    call listing-only (no Spark job)."""
    return set(spark.read.schema(schema).parquet(location).inputFiles())


class _Snapshot(NamedTuple):
    """A live table's point-in-time file set, with the DESCRIBE
    output it was resolved from (location and bucket spec)."""

    table: str
    location: str
    schema: object
    files: set
    info: dict


def _snapshot(spark: SparkSession, name: str, table: str) -> _Snapshot:
    # ONE catalog round-trip per table: location and bucket spec come
    # from the same DESCRIBE, and the re-lists reuse the resolved
    # location + schema (VERDICT r14's fixed per-op driver overhead)
    info = _describe(spark, table)
    if "Location" not in info:
        raise ValueError(f"table '{table}' reports no Location")
    schema = spark.table(table).schema
    files = _list_files(spark, info["Location"], schema)
    if not files and spark.table(table).limit(1).count() > 0:
        # belt-and-braces (ADVICE r14): a listing that misses live
        # data would rewrite the store as EMPTY and drop it
        raise RuntimeError(
            f"store '{name}': file enumeration of '{table}' returned "
            "no files but the table has rows — refusing to rewrite "
            "(the snapshot layer cannot see the warehouse files)"
        )
    return _Snapshot(table, info["Location"], schema, files, info)


def _describe(spark: SparkSession, table: str) -> dict:
    return {
        r["col_name"]: r["data_type"]
        for r in spark.sql(f"DESCRIBE EXTENDED {table}").collect()
    }


def _spec_cols(info: dict, key: str) -> list[str]:
    raw = info.get(key, "[]").strip("[]")
    return [c.strip().strip("`") for c in raw.split(",") if c.strip()]


def sweep_stale_generations(
    spark: SparkSession, name: str, suffixes, current_gen: int
) -> list[str]:
    """Drop every physical generation of ``name``'s store tables other
    than ``current_gen`` — the self-healing half of the protocol: a
    crash before the meta flip leaves orphan half-built next-gen
    tables, a crash after it leaves stale previous-gen tables; both
    are swept here (run at the start of every maintenance op and after
    a successful cutover). Returns the dropped table names."""
    import re

    dropped: list[str] = []
    current = {phys_table(name, s, current_gen).lower() for s in suffixes}
    # ONE catalog listing for all suffixes. SHOW TABLES, not
    # catalog.listTables: listTables resolves per-table metadata
    # objects (~1.3 s against a 41-table session catalog, measured
    # round 16) where the SQL command returns bare names in one
    # collect (~0.08 s) — maintenance calls this at every op
    tables = [
        r["tableName"] for r in spark.sql("SHOW TABLES").collect()
    ]
    for s in suffixes:
        base = f"{name}_{s}".lower()
        pat = re.compile(re.escape(base) + r"(_g\d+)?$")
        for t in tables:
            if pat.fullmatch(t) and t not in current:
                clear_table(spark, t)
                dropped.append(t)
    return dropped


def pooled_writes(spark: SparkSession, writes) -> None:
    """Run independent table writes (zero-argument callables, each
    writing its own table) concurrently from a small thread pool
    (guide §2.6): the second table's tasks back-fill executors freed
    by the first's tail instead of paying two sequential job tails and
    commits. Spark's scheduler runs concurrent driver-thread jobs
    FIFO, which is exactly the back-fill wanted.

    Every pool thread inherits the caller's thread-local job
    properties (its job group, so the writes' jobs stay attributed to
    the calling operator) and adds one per-call job tag. On the first
    failure the siblings' jobs are cancelled by that tag — repeatedly,
    until each sibling has returned, so a job a sibling submits after
    the first cancel is cancelled too — instead of waiting out a long
    sibling write. The call returns only once every thread has
    returned, then raises the first failure: a caller that clears the
    written tables on failure never races a still-running write.

    Catalog assumption: concurrent ``saveAsTable`` calls on DISTINCT
    tables against the session catalog (this package's sessions use
    the default in-memory catalog, whose operations are synchronized).
    A Hive metastore is not exercised by this package's tests;
    concurrent table creation there relies on the metastore client's
    own locking."""
    import uuid
    from concurrent.futures import FIRST_EXCEPTION, ThreadPoolExecutor, wait

    sc = spark.sparkContext
    jvm_sc = sc._jsc.sc()
    tag = f"polars_text_spark-write-{uuid.uuid4().hex}"

    def run(props, write) -> None:
        jvm_sc.setLocalProperties(props)
        sc.addJobTag(tag)
        write()

    writes = list(writes)
    with ThreadPoolExecutor(max_workers=min(4, max(1, len(writes)))) as pool:
        futures = [
            pool.submit(run, jvm_sc.getLocalProperties().clone(), w)
            for w in writes
        ]
        done, pending = wait(futures, return_when=FIRST_EXCEPTION)
        while pending:
            sc.cancelJobsWithTag(tag)
            _, pending = wait(pending, timeout=0.2)
    for f in futures:
        if f in done and f.exception() is not None:
            raise f.exception()


def snapshot_rewrite(
    spark: SparkSession,
    *,
    buckets: int | None = None,
    anti: DataFrame | None = None,
):
    """The next-generation writer of rebucket and purge, for
    :func:`rewrite_generation`: every table is re-read from EXACTLY its
    snapshot file set (a consistent point-in-time view even while
    appends land) and rewritten under its own bucket and sort spec —
    at ``buckets`` when given (rebucket), with the ``id`` rows of
    ``anti`` dropped when given (purge: the anti side is broadcast,
    tombstone sets are small). The raw file read carries no bucket
    claim, so :func:`write_bucketed`'s repartition applies and each
    bucket lands in one file: the rewrite is also the compaction pass
    that merges append fragments. The tables are written concurrently
    (:func:`pooled_writes`)."""
    if buckets is not None and buckets < 1:
        raise ValueError(f"new_buckets must be >= 1, got {buckets}")

    def write(dst: dict, snaps: dict) -> None:
        jobs = []
        for s, snap in snaps.items():
            if "Num Buckets" not in snap.info:
                raise ValueError(f"table '{snap.table}' is not bucketed")
            if snap.files:
                df = spark.read.schema(snap.schema).parquet(*sorted(snap.files))
            else:
                df = spark.table(snap.table).limit(0)
            if anti is not None:
                df = df.join(F.broadcast(anti.select("id")), "id", "left_anti")
            jobs.append(partial(
                write_bucketed,
                df,
                dst[s],
                bucket_by=_spec_cols(snap.info, "Bucket Columns"),
                buckets=int(buckets or snap.info["Num Buckets"]),
                sort_by=_spec_cols(snap.info, "Sort Columns") or None,
            ))
        pooled_writes(spark, jobs)

    return write


_REWRITE_RACED = (
    "store '{name}': table files changed under the maintenance rewrite "
    "({table}) — an append raced the rewrite. The store is untouched "
    "(the appended rows are live); re-run the maintenance op in a "
    "writer-free window"
)


def rewrite_generation(
    spark: SparkSession,
    name: str,
    suffixes,
    meta,
    write_next,
    *,
    changes: dict | None = None,
    raced: str = _REWRITE_RACED,
) -> int:
    """THE generational cutover of every store maintenance verb
    (rebucket, purge, the MinHash and Bloom rebuilds): write ALL of a
    store's tables as the next generation and atomically cut the store
    over to it. Returns the new generation number.

    The caller supplies two things. ``write_next(dst, snaps)`` writes
    the next-generation tables ``dst[suffix]``; ``snaps[suffix]`` is
    the live table's snapshot (re-read by :func:`snapshot_rewrite`,
    ignored by the rebuilds, which re-derive from their authority
    input). The next meta row is the current row ``meta`` with ``gen``
    advanced and ``changes`` applied (``buckets`` for rebucket,
    ``hashv`` for the MinHash rebuild, resized parameters for the
    Bloom rebuild); a field the row lacks is added. ``raced`` is the
    pre-flip abort message (``{name}``, ``{table}``).

    Protocol (each step's failure mode in brackets):

    1. sweep orphan/stale generations of a previous failed run;
    2. snapshot every live table's parquet FILE SET [no store change];
    3. ``write_next`` [crash: orphan next-gen tables, swept on re-run;
       failure: every next-gen table is cleared — after all pooled
       writes have returned — and the error re-raised, store
       untouched];
    4. re-list every live file set; ANY difference means an append
       landed during the rewrite, whose rows are not in the next
       generation — the next-gen tables are cleared and ``raced`` is
       raised [loud abort, store untouched, appended rows live];
    5. flip the pointer: ONE :func:`write_meta_row` append of the next
       row — readers resolve the highest-``gen`` row, the append is a
       single file-manifest commit and the meta table exists at every
       instant [crash before the commit: the store is the old
       generation, complete; after: the new one, complete; a
       concurrent maintenance op that already flipped to the same
       generation makes this append raise, pointer untouched];
    6. post-flip audit: re-list the old generation's files once more
       [an append that landed entirely inside the step-4 -> step-5
       gap raises here, POST-HOC: the cutover has committed, the old
       generation is preserved for recovery until the next sweep, and
       the contract is to re-run the racing appends against the new
       generation];
    7. drop the old generation [crash: stale tables, swept by the next
       maintenance run's step 1].

    Race coverage: an append that resolved the OLD generation and
    finishes during the cutover is caught in every interleaving by one
    of three checks — step 4 (the cutover aborts, store untouched),
    the append's own post-write generation check
    (:func:`check_generation_unchanged`: the append raises
    conservatively) or step 6. Re-running a raced append is always
    safe: id-keyed appends pass their id gate again, Bloom appends
    re-OR idempotently. A writer-free maintenance window remains the
    operationally clean choice, but a violation is always loud, never
    a silent loss."""
    gen = meta_gen(meta)
    nxt = gen + 1
    sweep_stale_generations(spark, name, suffixes, gen)
    snaps = {s: _snapshot(spark, name, phys_table(name, s, gen)) for s in suffixes}
    dst = {s: phys_table(name, s, nxt) for s in suffixes}

    def moved() -> list[str]:
        return [
            snap.table for snap in snaps.values()
            if _list_files(spark, snap.location, snap.schema) != snap.files
        ]

    try:
        write_next(dst, snaps)
        raced_tables = moved()
        if raced_tables:
            raise RuntimeError(raced.format(name=name, table=raced_tables[0]))
    except BaseException:
        for t in dst.values():
            clear_table(spark, t)
        raise

    row = {**meta.asDict(), **(changes or {}), "gen": nxt}
    schema = spark.table(f"{name}_meta").schema
    for field in row:
        if field not in schema.names:
            schema.add(field, IntegerType())
    write_meta_row(  # THE atomic cutover
        spark,
        spark.createDataFrame([tuple(row[f] for f in schema.names)], schema),
        f"{name}_meta",
    )
    raced_tables = moved()
    if raced_tables:
        raise RuntimeError(
            f"store '{name}': appends landed in the old generation "
            f"during the cutover's flip gap ({', '.join(raced_tables)}). "
            f"The cutover COMMITTED — the store is live at generation "
            f"{nxt} — but those appends' rows are NOT in it. The "
            "old generation is preserved (until the next maintenance "
            "sweep) for recovery; re-run the racing appends against "
            "the new generation (re-running is safe: id appends "
            "pass their id gate again, Bloom appends re-OR "
            "idempotently)"
        )
    # the old generation's names are known exactly — a catalog-wide
    # sweep here would be pure listing overhead
    for snap in snaps.values():
        clear_table(spark, snap.table)
    return nxt


def write_meta_row(
    spark: SparkSession, df: DataFrame, table: str, *, reset: bool = False
) -> None:
    """Write a store's meta row. The meta table is an APPEND-ONLY log
    (readers resolve the highest-``gen`` row via :func:`read_meta`):

    - ``reset=False`` (a generation cutover) APPENDS the new row.
      The append is one parquet file-manifest commit — the table is
      never dropped, so a crash or concurrent read at ANY instant sees
      either the old current row or the new one, nothing else. This
      replaces the round-14 ``saveAsTable(mode=overwrite)`` flip, whose
      DROP+CREATE left a gen>=1 store with NO meta table when the
      driver died mid-flip (ADVICE r14: readers then resolved
      generation 0's nonexistent unsuffixed tables and recovery needed
      a full store rebuild even though both generations' data
      survived). Cutover rows carry strictly increasing ``gen``, so
      the max-gen read is unambiguous; a crash-retry that re-appends
      the same row is idempotent (identical rows tie harmlessly).
    - ``reset=True`` (a FRESH store write, generation 0) clears the
      table and starts a new log — the old log's high-gen rows must
      not outrank the new store's gen-0 row. A fresh write is the one
      documented non-atomic window (the store's data tables are being
      rebuilt from scratch around it anyway).

    A legacy meta whose schema predates this build's row shape cannot
    be appended to; its first cutover rewrites the log in place (the
    same one-off non-atomic upgrade any schema migration needs).

    Log growth: one tiny row (and one parquet file) per cutover —
    bounded by maintenance frequency, not data size. ``read_meta``
    lists the log's files on every call and collects the whole log
    only when that file set changed, i.e. once per meta write; even a
    store purged hourly for a year lists ~10^4 files and reads back
    ~10^4 scalar rows, driver-side noise. A store that ever wants the
    history gone gets it for free at the next fresh write (reset).

    Concurrent MAINTENANCE ops are detected here (ADVICE r15): two
    racing cutovers (say a purge and a rebucket) would each append a
    row at the same target ``gen`` with different buckets/params;
    max-gen resolution would then pick an arbitrary winner whose
    next-gen tables the loser's cleanup may have swept. Before the
    append, the log is checked for a pre-existing row at the new
    row's ``gen``: a DIFFERENT row there aborts loudly (the store
    pointer is untouched — the earlier cutover won); an IDENTICAL row
    is a crash-retry of the same cutover and appends harmlessly
    (identical rows tie). Maintenance ops therefore never need an
    external lock to be safe against each other — the loser of the
    race gets an exception instead of a corrupted pointer.
    """
    exists = spark.catalog.tableExists(table)
    if reset or not exists:
        clear_table(spark, table)
        df.write.format("parquet").mode("overwrite").saveAsTable(table)
        return
    if set(spark.table(table).columns) != set(df.columns):
        df.write.format("parquet").mode("overwrite").saveAsTable(table)
        return
    if "gen" in df.columns:
        new_rows = df.collect()  # 1 tiny local row per cutover
        gens = sorted({int(r["gen"]) for r in new_rows if r["gen"] is not None})
        if gens:
            cols = sorted(df.columns)
            clash = spark.table(table).where(F.col("gen").isin(gens)).collect()
            new_set = {tuple(r[c] for c in cols) for r in new_rows}
            diff = [r for r in clash if tuple(r[c] for c in cols) not in new_set]
            if diff:
                raise RuntimeError(
                    f"meta log '{table}': a different row already exists at "
                    f"generation {gens} — a concurrent maintenance op won the "
                    "cutover race. This op's next-gen tables may have been "
                    "swept; the store pointer is untouched. Re-run this "
                    "maintenance op alone (maintenance ops are mutually "
                    "exclusive per store)"
                )
    df.write.format("parquet").mode("append").saveAsTable(table)


def start_meta_log(spark: SparkSession, name: str, params: dict) -> None:
    """Start a fresh ``<name>_meta`` log at generation 0: one row of
    the store's integer parameters, in ``params`` order, plus ``gen``
    (:func:`write_meta_row` with ``reset=True``; cutovers append their
    rows in :func:`rewrite_generation`)."""
    row = {**params, "gen": 0}
    meta = spark.createDataFrame(
        [tuple(int(v) for v in row.values())],
        ", ".join(f"{k} int" for k in row),
    )
    write_meta_row(spark, meta, f"{name}_meta", reset=True)


def check_generation_unchanged(
    spark: SparkSession, name: str, gen_at_start: int
) -> None:
    """Post-append verification against a maintenance cutover racing
    the append: the append resolved its physical tables from the meta
    generation at call start; if maintenance flipped the pointer while
    the append was writing, the appended rows were either CARRIED into
    the new generation (the rewrite's file snapshot ran after the
    writes) or DROPPED with the old one (snapshot before). The append
    cannot tell which, so it raises conservatively; re-running it is
    safe in both worlds — the append's id gate refuses the rows as
    already existing when they were carried, and re-ingests them when
    they were lost (the bands-first write order plus candidate-pair dedup make
    even a partially-carried shard re-appendable). The maintenance
    side independently aborts when files appear under its snapshot,
    so between the two checks a racing append is aborted-against,
    detected here, or both.

    The check costs one listing of the meta log's files and no job
    while the log is unchanged (:func:`read_meta`); a cutover's flip
    adds a meta file, so the changed file set re-reads the log and the
    new generation is seen."""
    now = store_generation(spark, name)
    if now != gen_at_start:
        raise RuntimeError(
            f"store '{name}': a maintenance cutover (generation "
            f"{gen_at_start} -> {now}) raced this append; the appended "
            "rows were carried or dropped with the old generation. "
            "Re-run the append — an 'already exists' refusal means "
            "the rows were carried and no action is needed. Schedule "
            "maintenance in a writer-free window"
        )


# ---------------------------------------------------------------------------
# The id-keyed store protocol (the MinHash and ANN stores)
#
# Both stores are a bands table bucketed by its band key and an id table
# bucketed by ``id``, plus the meta pointer and the tombstone set. Only
# the meta check and the row projections differ; the protocol is written
# once, below. Bloom is not id-keyed: its appends re-OR bits.
# ---------------------------------------------------------------------------


def _by_id(rows: DataFrame, meta, id_col: str) -> DataFrame:
    """``rows`` hash-partitioned by ``id_col`` into the store's bucket
    count: the input contract of :meth:`IdKeyedStore.append_rows`.
    ``repartition``'s hash is bucketing's hash, so partition ``i``
    holds exactly the rows of bucket ``i``."""
    return rows.repartition(int(meta["buckets"]), F.col(id_col))


@dataclass(frozen=True)
class IdKeyedStore:
    """One kind of id-keyed store: the hooks it supplies, and the
    protocol every such store shares. The hooks:

    - ``check_meta(spark, name, meta)`` raises for a meta row an
      append must refuse;
    - ``stage(rows, meta, id_col, payload_col)`` is the frame an append
      pins: ``id`` plus what both tables derive from;
    - ``project(staged, meta, bands_table)`` returns the ``(bands,
      ids)`` frames to append; ``bands_table`` is the live bands table,
      whose schema may depend on the store's age."""

    kind: str  # named in every message
    suffixes: tuple[str, str]  # (bands table, id table): the write order
    band_keys: tuple[str, ...]  # bucket and sort columns of the bands table
    writer: str  # the fresh-write function a refusal points at
    check_meta: Callable
    stage: Callable
    project: Callable

    @contextmanager
    def fresh(self, spark: SparkSession, name: str, params: dict):
        """Prologue and epilogue around a fresh write's table writes
        (the ``with`` body), which start a NEW store at generation 0.
        Before: sweep every physical generation a previous store of
        the name left (``current_gen=-1`` matches no table). After:
        clear its tombstones (they would delete rows of the fresh store
        at read time and block re-appending their ids), then start a
        new meta log with ``params``: the signature parameters, so a
        mismatched append or query (band keys that never collide:
        silent recall 0) fails loudly, and ``buckets``, so appends
        reuse the write-time bucket spec."""
        sweep_stale_generations(spark, name, self.suffixes, -1)
        yield
        clear_table(spark, f"{name}_tombstones")
        start_meta_log(spark, name, params)

    def require_meta(self, spark: SparkSession, name: str, instead: str):
        """The current meta row. A store without one (pre-meta, or a
        crashed bootstrap) has no generation pointer and is refused,
        pointing at the fresh write ``instead`` of the asking verb."""
        m = read_meta(spark, name)
        if m is None:
            raise ValueError(
                f"{self.kind} store '{name}' has no meta table; rewrite "
                f"it with {self.writer} {instead}"
            )
        return m

    def append_meta(self, spark: SparkSession, name: str):
        """The meta row an append writes under, from ONE meta read."""
        m = self.require_meta(spark, name, "before appending shards")
        self.check_meta(spark, name, m)
        return m

    def append(
        self, shard: DataFrame, name: str, *, id_col: str, payload_col: str
    ) -> None:
        """THE batch append gate: read the meta, then append the shard
        through its id gate (:meth:`_guarded`), which refuses it if any
        id is null, repeated within the shard, already in the id table
        at the meta's generation or among the pending tombstones.

        An id the shard repeats or the store already holds would
        double its rows in both tables (a duplicate MinHash shingle row
        double-counts every verified pair of that id), a tombstoned one
        would be swallowed by the read-time anti-join until purge, and
        a null id never matches a stored one, so every retry would
        append it again.

        The gate is in-plan, like ``sha_band_keys``' dimension guard: it
        runs as the append's pinned stage fills, inside the bands
        write's first job, which fails before any file is committed. So
        the refusal costs no job of its own and moves the shard no
        second time; its Spark error is re-raised here as a
        ``ValueError`` carrying the message, which names AN offending
        id (whichever row failed first), not a chosen one."""
        spark = shard.sparkSession
        meta = self.append_meta(spark, name)
        rows = self._guarded(shard, name, meta, id_col=id_col)
        try:
            self.append_rows(rows, name, meta, id_col=id_col, payload_col=payload_col)
        except PySparkException as e:
            msg = (e.getMessageParameters() or {}).get("errorMessage", "")
            if (e.getCondition() != "USER_RAISED_EXCEPTION"
                    or not msg.startswith(self._refusal_prefix(name))):
                raise
            raise ValueError(msg) from e

    def _refusal_prefix(self, name: str) -> str:
        return f"{self.kind} store '{name}': "

    def _verdict(
        self, rows: DataFrame, name: str, meta, *, id_col: str, repeats: bool
    ) -> DataFrame:
        """``rows`` (hash-partitioned by id, :func:`_by_id`) plus a
        ``__why`` column saying why each row cannot be appended, lazily:
        ``"null"`` for a null id, ``"tombstoned"`` for an id pending
        purge, ``"stored"`` for one in the id table at ``meta``'s
        generation and, with ``repeats``, ``"repeat"`` for an id
        ``rows`` holds more than once. A null ``__why`` means novel.

        The id table joins as a sort-merge join (hinted, so the planner
        never broadcasts the store's id column, at any store size) that
        reads its buckets in place against ``rows``' id partitioning: no
        Exchange on either side. The repeat count is a window over that
        same partitioning, and the tombstones (small by contract) are
        broadcast. Only rows that are refused anyway can be duplicated
        by the joins (a tombstone set may list an id twice)."""
        spark = rows.sparkSession
        cols, ids = rows.columns, F.col(id_col)
        if repeats:
            rows = rows.withColumn(
                "__n", F.count(F.lit(1)).over(Window.partitionBy(id_col))
            )
        stored = spark.table(phys_table(name, self.suffixes[1], meta_gen(meta)))
        rows = rows.join(
            stored.select(F.col("id").alias(id_col), F.lit(True).alias("__stored"))
            .hint("shuffle_merge"),
            id_col, "left",
        )
        why = F.when(ids.isNull(), "null")
        ts = read_tombstones(spark, name)
        if ts is not None:
            rows = rows.join(
                F.broadcast(ts.select(F.col("id").alias(id_col),
                                      F.lit(True).alias("__dead"))),
                id_col, "left",
            )
            why = why.when(F.col("__dead"), "tombstoned")
        why = why.when(F.col("__stored"), "stored")
        if repeats:
            why = why.when(F.col("__n") > 1, "repeat")
        return rows.select(*cols, why.alias("__why"))

    def _guarded(self, shard: DataFrame, name: str, meta, *, id_col: str) -> DataFrame:
        """The batch gate's frame: ``shard`` hash-partitioned by id
        (:func:`_by_id`, the one exchange that moves it), with the id of
        every row :meth:`_verdict` refuses replaced by a ``raise_error``
        carrying the refusal, lazily. The error fires when
        :meth:`append_rows` evaluates the row, which is as its pin
        fills, before either table is written."""
        ids, why = F.col(id_col), F.col("__why")
        where = self._refusal_prefix(name)
        refusal = F.when(why == "null", F.lit(
            f"{where}shard column '{id_col}' holds a null id; store rows "
            "are keyed by id, and a null id never matches a stored one, so "
            "every retry would append it again. Drop or assign null ids "
            "before appending"
        )).otherwise(F.concat(
            F.lit(f"{where}shard id "),
            ids.cast("string"),
            F.when(why == "repeat", " appears more than once in the shard")
            .when(why == "stored", " already exists in the store")
            .otherwise(" already exists in the store (tombstoned awaiting "
                       "purge)"),
            F.lit(f"; appending would duplicate its rows in the "
                  f"{'/'.join(self.suffixes)} tables and corrupt every "
                  "later answer over them"),
        ))
        verdict = self._verdict(
            _by_id(shard, meta, id_col), name, meta, id_col=id_col, repeats=True
        )
        return verdict.withColumn(
            id_col, F.when(why.isNull(), ids).otherwise(F.raise_error(refusal))
        ).drop("__why")

    def append_rows(
        self, rows: DataFrame, name: str, meta, *, id_col: str, payload_col: str
    ) -> None:
        """THE append body behind the batch gate and the stream sink:
        append ``rows``, whose ids are proven new, under ``meta``.
        Both callers hand it ``rows`` hash-partitioned by id into the
        store's bucket count (:func:`_by_id`), so partition ``i`` holds
        exactly bucket ``i``'s rows.

        Write order is BANDS FIRST, the id table last, and both callers
        decide an id's presence on the id table. A crash between the
        writes leaves band rows whose ids still read as new, so the
        retry re-appends them: duplicate band rows are harmless (pairs
        and ANN candidates are deduplicated, compaction rewrites the
        files), while a duplicate id-table row is not — a duplicate
        MinHash shingle row double-counts every verified pair, a
        duplicate ANN vector row duplicates (query, neighbor) rows in
        the exact re-rank. The flipped order would make a crashed
        append refuse its retry with id rows whose band keys never
        landed: silent recall loss. The post-write generation check
        fails the append loudly when a maintenance cutover raced it.

        The staged input is pinned with a LAZY local checkpoint that
        fills during the bands write's own job (``persist()`` would
        cost AQE a separate cache-building job) and feeds the id-table
        write: the stage (MinHash's tokenize pass) runs once, and so
        does either caller's lazy id verdict (:meth:`_verdict`: the
        sink's novelty filter, the batch gate's refusal), against the
        id table as it stood before this append. Appended
        rows are the small side by contract, so the pin is bounded.
        The pinned stage holds one row per id, so ``project`` may
        derive each row's band keys row-wise (MinHash does: no
        ``groupBy(id)`` exchange in the bands write). Its partitions
        are the input's, i.e. the buckets, so the id table, projected
        row-wise from the pin, is written without
        :func:`write_bucketed`'s repartition: one file per bucket,
        and no second shuffle of the batch.

        Jobs: the input's id exchange, the bands exchange (which fills
        the pin), the bands write and the id-table write, and nothing
        else while the meta log is unchanged — neither the caller's
        meta read nor the post-write generation check collects the log
        on a memo hit (:func:`read_meta`). A MinHash or ANN stream
        micro-batch runs 4 jobs in that steady state, 5 on the first
        read after a meta write. A batch append of a landed shard runs
        the same 4: its id gate rides the input's id exchange."""
        gen, buckets = meta_gen(meta), int(meta["buckets"])
        bands_tbl, ids_tbl = (phys_table(name, s, gen) for s in self.suffixes)
        staged = self.stage(rows, meta, id_col, payload_col)
        staged = staged.localCheckpoint(eager=False)
        bands, ids = self.project(staged, meta, bands_tbl)
        keys = list(self.band_keys)
        write_bucketed(bands, bands_tbl, bucket_by=keys, buckets=buckets,
                       sort_by=keys, mode="append")
        write_bucketed(ids, ids_tbl, bucket_by="id", buckets=buckets,
                       sort_by="id", mode="append", _prepartitioned=True)
        check_generation_unchanged(rows.sparkSession, name, gen)

    def sink(self, name: str, *, id_col: str, payload_col: str, bootstrap):
        """THE ``foreachBatch`` sink body, growing the store by each
        batch's novel ids. Rows with a null id or payload are dropped,
        and one copy of a repeated id is kept (arbitrary: an id
        re-crawled with DIFFERENT content must be resolved upstream).
        A store with neither a meta table nor a data table is
        bootstrapped by ``bootstrap(batch)``, the store's fresh write.
        Data tables without meta are generation 0 (generations
        postdate the meta table), and the append gate refuses them: a
        bootstrap would sweep their standing rows. Otherwise the batch
        passes the append's meta gate, and :meth:`_novel` drops ids
        already stored or tombstoned, lazily, inside
        :meth:`append_rows`: the sink is idempotent under at-least-once
        delivery."""
        tables = [f"{name}_{s}" for s in ("meta", *self.suffixes)]

        def ingest(batch_df: DataFrame, batch_id: int) -> None:
            spark = batch_df.sparkSession
            batch = batch_df.filter(
                F.col(payload_col).isNotNull() & F.col(id_col).isNotNull()
            )
            if not any(spark.catalog.tableExists(t) for t in tables):
                bootstrap(batch.dropDuplicates([id_col]))
                return
            meta = self.append_meta(spark, name)
            novel = self._novel(batch, name, meta, id_col=id_col)
            self.append_rows(novel, name, meta, id_col=id_col, payload_col=payload_col)

        return ingest

    def _novel(self, batch: DataFrame, name: str, meta, *, id_col: str) -> DataFrame:
        """The sink's novelty frame: one row per id of ``batch`` whose
        id is new to the store at ``meta``'s generation, lazily. ONE
        exchange moves the batch: the hash partitioning by id into the
        store's bucket count (:func:`_by_id`). The dedup reuses it, the
        :meth:`_verdict` joins read the id table's buckets against it
        with no exchange on either side, and :meth:`append_rows` writes
        the id table from it."""
        deduped = _by_id(batch, meta, id_col).dropDuplicates([id_col])
        verdict = self._verdict(deduped, name, meta, id_col=id_col, repeats=False)
        return verdict.where(F.col("__why").isNull()).drop("__why")

    def purge(self, spark: SparkSession, name: str) -> None:
        """Rewrite both tables with the tombstones anti-joined away
        (:func:`rewrite_generation`), then clear the tombstones: a
        crash between the two leaves reads correct (anti-joining
        purged ids is a no-op). A store without meta is refused."""
        ts = read_tombstones(spark, name)
        if ts is None:
            return
        m = self.require_meta(
            spark, name, "from its live rows instead of purging in place"
        )
        ts = ts.localCheckpoint(eager=True)  # survives the table drops below
        rewrite_generation(
            spark, name, self.suffixes, m, snapshot_rewrite(spark, anti=ts)
        )
        clear_table(spark, f"{name}_tombstones")

    def rebucket(self, spark: SparkSession, name: str, new_buckets: int) -> None:
        """Rewrite both tables at ``new_buckets`` and record the count
        in the next meta row (:func:`rewrite_generation`)."""
        m = self.require_meta(
            spark, name,
            "(which also records the bucket count) instead of re-bucketing in place",
        )
        rewrite_generation(
            spark, name, self.suffixes, m,
            snapshot_rewrite(spark, buckets=new_buckets),
            changes={"buckets": int(new_buckets)},
        )

    def band_stats(
        self, spark: SparkSession, name: str, band_cap: int | None
    ) -> DataFrame:
        """``band_bucket_stats`` over the live bands table, tombstones
        respected; the signature-group telemetry needs a ``sig``
        column (MinHash stores written since it exists)."""
        from polars_text_spark.operators.dedup import band_bucket_stats

        banded = minus_tombstones(
            spark.table(live_table(spark, name, self.suffixes[0])),
            read_tombstones(spark, name),
        )
        sig_col = "sig" if "sig" in banded.columns else None
        return band_bucket_stats(
            banded, list(self.band_keys), band_cap=band_cap, sig_col=sig_col
        )
