"""Warehouse orchestration: raw TXT or .lzh -> silver parquet -> gold
race table, registered views, legacy query API, and reference-layout
CSV export.

Maps the reference's storage operators (SURVEY §2.1):
- S5 SQLite append sink  -> Parquet tables partitioned by race_date,
                            loaded one race_date partition per day
                            (``_load_days``)
- S6 SQL table scan      -> spark.table(name) over registered views
- S7 DB reset            -> delete of the seven tables, then the same
                            daily load (``build_warehouse``)
- S4 CSV sink            -> export_reference_csvs (one file per day,
                            UTF-8 + header, reference table/odds layout)
- S8 output-path derivation -> the {table}/{date}.csv naming scheme
- P11-P13 interactive queries -> day_slice / day_range / full scan

Scale notes: every table partitions by race_date, so P11's LIKE-prefix
day query prunes to one partition; a load reads raw bytes once (fused
decode+parse) and writes the six silver tables plus the gold ``race``
table from the cached one-pass parse (the reference re-scans each K
file 3x; SURVEY §4). The writes are independent Spark
jobs, so they are submitted together from driver threads
(``_write_together``) instead of one after another.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from concurrent.futures import Future, ThreadPoolExecutor, wait
from functools import partial

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from boatrace_database_spark import gold, silver
from boatrace_database_spark import schemas as S
from boatrace_database_spark.parse.kernel import parse_files

SILVER_TABLES = ("schedule", "result", "odds", "env", "result_ext", "race_meta")
# the silver tables the gold race join reads
GOLD_INPUTS = ("result", "env", "schedule")


def build_warehouse(
    spark: SparkSession, path_glob: str, warehouse_dir: str
) -> dict[str, DataFrame]:
    """Full rebuild from a glob of daily TXT files or ``.lzh`` archives
    (reference __main__ semantics: delete + reload, main.py:283-294;
    SURVEY §2.4 documents why per-rebuild semantics are the intended
    ones): the seven tables' directories are deleted — nothing else
    under ``warehouse_dir`` — and the parsed days go through the daily
    load step, ``_load_days``. The glob is planned before the delete, so
    a glob that matches nothing leaves the warehouse as it was.

    A table no file fed (``result`` in a B-only build) stays absent on
    disk; ``register_views`` still registers it, empty."""
    parsed = parse_files(spark, path_glob)
    root, fs = _fs(spark, warehouse_dir)
    for name in (*SILVER_TABLES, "race"):
        fs.delete(spark._jvm.org.apache.hadoop.fs.Path(root, name), True)
    # a load whose files held no rows writes no table; the warehouse it
    # leaves must still register (empty)
    fs.mkdirs(root)
    _load_days(spark, parsed, warehouse_dir)
    return register_views(spark, warehouse_dir)


def _fs(spark: SparkSession, path: str):
    """(Hadoop Path, its FileSystem) for ``path``: the Hadoop FS API, not
    ``os``, so the warehouse may live on any scheme (HDFS, S3)."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p, p.getFileSystem(spark._jsc.hadoopConfiguration())


def _load_days(spark: SparkSession, parsed: DataFrame, warehouse_dir: str) -> None:
    """Load the parsed days into the warehouse: every silver table that
    received rows has each of its days' race_date partitions replaced
    (``_merge_write`` keyed on race_date, so a republished day replaces
    its partition instead of duplicating it), and gold ``race`` is
    rebuilt for the touched days. The backfill (``build_warehouse``,
    after its reset) and every stream epoch (``stream_ingest_boatrace``)
    run this one step.

    What a load launches: one job that fills the cache of the persisted
    parse and observes, on the way, which tables received rows for which
    days; then one partition-replace write per silver table that
    received rows, all submitted together from driver threads; and, as
    soon as result, env and schedule have committed, the gold race join
    over the merged silver of the touched days (declared-schema reads,
    so no footer-inference jobs) with its one write, overlapping the
    remaining silver writes. A day's K+B load is at most ten jobs, every
    one in the caller's job group.
    """
    parsed, pairs = _materialize(parsed)
    # a table without rows (the day's other file kind hasn't arrived
    # yet) has nothing to merge
    received = {table for table, _ in pairs}
    touched = sorted({d for _, d in pairs})
    tables = silver.silver_tables(parsed)

    # rebuild gold for the touched dates from the MERGED silver, not the
    # parsed frames: a day's K (results) and B (program) files may arrive
    # in different loads, and the inner race join needs both sides —
    # joining only this load's rows would silently drop the day whenever
    # the pair splits across loads. Until all three inputs exist on disk
    # the join is empty anyway.
    def write_race() -> None:
        for name in GOLD_INPUTS:
            path, fs = _fs(spark, f"{warehouse_dir}/{name}")
            if not fs.exists(path):
                return
        stored = {
            name: read_table(spark, warehouse_dir, name).where(
                F.col("race_date").isin(touched)
            )
            for name in GOLD_INPUTS
        }
        race = gold.race_table(stored["result"], stored["env"], stored["schedule"])
        _merge_write(spark, f"{warehouse_dir}/race", race, ["race_date"])

    try:
        _write_together(
            spark,
            {
                name: partial(
                    _merge_write,
                    spark,
                    f"{warehouse_dir}/{name}",
                    tables[name],
                    ["race_date"],
                )
                for name in SILVER_TABLES
                if name in received
            },
            write_race if pairs else None,
        )
    finally:
        parsed.unpersist()


def _materialize(parsed: DataFrame) -> tuple[DataFrame, set[tuple[str, str]]]:
    """Persist the parse and fill the cache with one job (a ``noop``
    write), observing on the way which ``(table, race_date)`` pairs it
    holds. The writes that follow all start from a warm cache, and the
    pairs decide which tables and days they touch without another
    aggregate."""
    seen = Observation("parsed")
    observed = parsed.observe(
        seen, F.collect_set(F.struct("table", "race_date")).alias("pairs")
    ).persist()
    observed.write.format("noop").mode("overwrite").save()
    return observed, {(r["table"], r["race_date"]) for r in seen.get["pairs"]}


def _write_together(
    spark: SparkSession,
    writes: dict[str, Callable[[], object]],
    race: Callable[[], object] | None = None,
) -> None:
    """Run each of ``writes`` (silver table name -> write) on its own
    driver thread, and ``race`` as soon as the ``GOLD_INPUTS`` among them
    have committed, so gold overlaps the other silver writes. A failed
    gold input leaves ``race`` unsubmitted.

    Each thread starts with a copy of the caller's local properties
    (``inheritable_thread_target``): a stream's job group reaches the
    threads' jobs, so stopping the query cancels them. Every submitted
    write is waited for; then the first error, in submission order, is
    re-raised — a failed write fails the caller only after no write of
    its is still running.
    """
    with ThreadPoolExecutor(max_workers=len(writes) + 1) as pool:

        def submit(fn: Callable[[], object]) -> Future:
            return pool.submit(inheritable_thread_target(spark)(fn))

        futures = [submit(fn) for fn in writes.values()]
        inputs = [f for name, f in zip(writes, futures) if name in GOLD_INPUTS]
        wait(inputs)
        if race is not None and not any(f.exception() for f in inputs):
            futures.append(submit(race))
    for f in futures:
        f.result()


def read_table(spark: SparkSession, warehouse_dir: str, name: str) -> DataFrame:
    """One warehouse table, read with its declared schema
    (``schemas.WAREHOUSE_SCHEMAS``): no footer-inference job, and
    race_date stays a string."""
    return spark.read.schema(S.WAREHOUSE_SCHEMAS[name]).parquet(
        f"{warehouse_dir}/{name}"
    )


def register_views(spark: SparkSession, warehouse_dir: str) -> dict[str, DataFrame]:
    """S6: make the seven tables under ``warehouse_dir`` addressable by
    name in spark.sql.

    Declared-schema contract: each table is read with its schema from
    ``schemas.WAREHOUSE_SCHEMAS``, so registering launches no Spark job.
    A declared read would turn a column missing on disk into nulls, so
    the columns of one part file per table are checked first: the file
    is found with the warehouse's Hadoop FS and its footer read on the
    driver by pyarrow (no job), so a warehouse named by a URI is checked
    too. A table whose columns differ from the declared ones raises
    ``ValueError`` naming the table and both column lists; a part file
    whose scheme pyarrow cannot open raises ``ValueError`` naming the
    scheme. A table directory without part files, or a table
    absent on disk (one no loaded file fed), registers as an empty frame
    of its declared schema, so every view always exists. A
    ``warehouse_dir`` that does not exist raises ``FileNotFoundError``:
    a mistyped path must not read as an empty warehouse.
    """
    # one Hadoop FS listing, so a table is found under any scheme
    root, fs = _fs(spark, warehouse_dir)
    if not fs.exists(root):
        raise FileNotFoundError(f"register_views: no warehouse at {warehouse_dir}")
    present = {st.getPath().getName() for st in fs.listStatus(root)}
    out = {}
    for name in (*SILVER_TABLES, "race"):
        path = f"{warehouse_dir}/{name}"
        if name not in present:
            df = spark.createDataFrame([], S.WAREHOUSE_SCHEMAS[name])
        else:
            parts = fs.globStatus(
                spark._jvm.org.apache.hadoop.fs.Path(f"{path}/race_date=*/*.parquet")
            )
            if parts:
                on_disk = _footer_columns(parts[0].getPath().toUri().toString())
                declared = S.WAREHOUSE_SCHEMAS[name].names[:-1]
                if set(on_disk) != set(declared):
                    raise ValueError(
                        f"register_views: table {name!r} ({path}) has columns "
                        f"{on_disk}, declared {declared}"
                    )
            df = read_table(spark, warehouse_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


def _footer_columns(uri: str) -> list[str]:
    """The column names in the footer of the parquet file at ``uri``,
    read on the driver through the pyarrow filesystem of its scheme."""
    import pyarrow.fs as pafs
    import pyarrow.parquet as pq

    try:
        pfs, path = pafs.FileSystem.from_uri(uri)
    except (ValueError, OSError) as e:
        scheme = uri.split(":", 1)[0]
        raise ValueError(
            f"register_views: cannot check the columns of {uri}: pyarrow "
            f"cannot open scheme {scheme!r} ({e})"
        ) from e
    return pq.read_schema(path, filesystem=pfs).names


# --------------------------------------------------------------------------
# legacy interactive queries (read_db.py shapes)
def day_slice(df: DataFrame, date: str) -> DataFrame:
    """P11: ``WHERE レースID LIKE '2020-09-28%'`` (read_db.py:19).

    Uses the race_date partition column -> partition pruning; the
    LIKE-prefix on the legacy string column stays available verbatim
    (note: Spark SQL needs the non-ASCII identifier back-quoted).
    """
    return df.where(F.col("race_date") == date)


def day_range(df: DataFrame, dates: list[str]) -> DataFrame:
    """P12: disjunctive LIKE-prefix (read_db.py:22-27) -> isin pruning."""
    return df.where(F.col("race_date").isin(dates))


def merge_upsert(
    spark: SparkSession,
    table_dir: str,
    updates: DataFrame,
    keys: list[str],
) -> DataFrame:
    """MERGE-style upsert without a lake format: replace target rows
    whose key appears in `updates`, keep the rest, append the new ones
    (anti-join + union). The use case is late corrections — the
    official site occasionally republishes a day's results.

    At scale this rewrites only the touched race_date partitions, with
    a writer-scoped dynamic partition overwrite: a partition absent
    from the written rows is left in place.

    Keyed on race_date alone, the merge is a partition replace: the
    anti-join removes every target row of every touched date, so the
    merged rows of those partitions are exactly `updates`. They are
    written as they are — no target scan, no join, no collect; one
    write job (plus whatever computing `updates` takes). No touched
    partition can be emptied, since each receives its own update rows.
    A missing `table_dir` is created.

    Lineage contract for `updates`: it may be derived lazily from the
    table's own files. The replace path evaluates it once, inside the
    write; dynamic overwrite writes to a staging directory and swaps
    partitions only after that job commits. The other key sets
    materialize the merged rows (localCheckpoint) before the write.

    The table's schema is `updates`' columns with race_date last, the
    layout the partitioned writer produces (for warehouse tables,
    ``schemas.WAREHOUSE_SCHEMAS``); reads declare it, so none of them
    launches a footer-inference job.
    """
    schema = _merge_write(spark, table_dir, updates, keys)
    return spark.read.schema(schema).parquet(table_dir)


def _merge_write(
    spark: SparkSession,
    table_dir: str,
    updates: DataFrame,
    keys: list[str],
) -> T.StructType:
    """``merge_upsert``'s write, without reading the table back (building
    that frame lists every partition of the table); returns the table's
    schema."""
    schema = T.StructType(
        [f for f in updates.schema if f.name != "race_date"]
        + [updates.schema["race_date"]]
    )
    if list(keys) == ["race_date"]:
        staged, emptied = updates, []
    else:
        staged, emptied = _stage_merge(spark, table_dir, schema, updates, keys)
    # partitionOverwriteMode as a WRITER option, not session conf: it
    # scopes dynamic overwrite to this single write — a session-level
    # conf.set would silently leak, turning a later caller's
    # mode("overwrite").partitionBy(...) full-table truncate into a
    # partial one.
    staged.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("race_date").parquet(table_dir)
    # Dynamic mode only rewrites partitions PRESENT in the written data:
    # delete the emptied ones explicitly (Hadoop FS API, so any scheme
    # works).
    for d in emptied:
        path, fs = _fs(spark, f"{table_dir}/race_date={d}")
        fs.delete(path, True)
    # drop the stale shared file-status cache for this path
    spark.catalog.refreshByPath(table_dir)
    return schema


def _stage_merge(
    spark: SparkSession,
    table_dir: str,
    schema: T.StructType,
    updates: DataFrame,
    keys: list[str],
) -> tuple[DataFrame, list[str]]:
    """The general merge: (the merged rows of every touched partition,
    materialized; the touched partitions the merge leaves empty)."""
    target = spark.read.schema(schema).parquet(table_dir)
    merged = target.join(updates.select(*keys), on=keys, how="left_anti").unionByName(
        updates
    )
    # A key match may live in a DIFFERENT partition than its update row
    # (e.g. a correction moves a race to another date, or keys omit the
    # date), so the touched set is partitions holding update rows UNION
    # partitions holding superseded target rows — otherwise superseded
    # rows in unrewritten partitions would survive as duplicates.
    touched_df = updates.select("race_date")
    if "race_date" not in keys:
        # only possible when the merge key does not pin the partition:
        # with race_date among the keys a matching target row shares the
        # update's partition by definition, so skip the extra scan
        touched_df = touched_df.union(
            target.join(updates.select(*keys).distinct(), on=keys, how="left_semi")
            .select("race_date")
        )
    touched = [r[0] for r in touched_df.distinct().collect()]
    # localCheckpoint materializes the merged rows BEFORE the overwrite
    # deletes the source files they were read from.
    staged = (
        merged.where(F.col("race_date").isin(touched)).localCheckpoint(eager=True)
    )
    if "race_date" in keys:
        # every touched partition receives its own update rows
        return staged, []
    # If an update moved every row out of a touched partition, staged has
    # zero rows for it and the stale directory would survive.
    staged_dates = {r[0] for r in staged.select("race_date").distinct().collect()}
    return staged, [d for d in touched if d not in staged_dates]


def export_sqlite(
    tables: dict[str, DataFrame],
    db_path: str,
    include: tuple[str, ...] = ("env", "result", "schedule", "odds", "race"),
    max_rows_per_table: int = 5_000_000,
) -> str:
    """S5 literal-compatibility sink: materialize the warehouse as the
    reference's ``boatrace.db`` (SQLite, every column TEXT — the
    reference declares no types, main.py:221-225), so the reference's
    own read_db.py queries (``SELECT * FROM race WHERE レースID LIKE
    '2020-09-28%'``) run unchanged against our build. ``tables`` are the
    warehouse's tables as ``register_views``/``build_warehouse`` return
    them, so ``race`` is the materialized table.

    Driver-side by design: SQLite is a single-file embedded DB — the
    same scale regime as the reference itself (SURVEY §6: 11.9 MB for
    a month). The cluster-scale sink is the partitioned parquet
    warehouse; this is the compatibility exit for small slices —
    ``max_rows_per_table`` guards against pointing it at a cluster-scale
    table (the whole export funnels through ``toPandas`` on the driver).
    """
    import sqlite3

    import pandas as pd

    con = sqlite3.connect(db_path)
    try:
        for name in include:
            df = tables[name]
            # cheap bounded probe: don't count the world, just detect
            # "more rows than the cap" with a limit(cap+1) scan
            over = df.limit(max_rows_per_table + 1).count()
            if over > max_rows_per_table:
                raise ValueError(
                    f"export_sqlite: table {name!r} exceeds "
                    f"{max_rows_per_table} rows; SQLite export is a "
                    "driver-side compatibility exit for small slices — "
                    "use the partitioned parquet warehouse for bulk data "
                    "or raise max_rows_per_table explicitly"
                )
            cols = [c for c in df.columns if c != "race_date"]
            col_defs = ", ".join(f'"{c}" TEXT' for c in cols)
            con.execute(f'DROP TABLE IF EXISTS "{name}"')
            con.execute(f'CREATE TABLE "{name}" ({col_defs})')
            pdf = df.select(*cols).toPandas()
            rows = [
                [None if pd.isna(v) else str(v) for v in r]
                for r in pdf.itertuples(index=False, name=None)
            ]
            placeholders = ", ".join("?" * len(cols))
            con.executemany(
                f'INSERT INTO "{name}" VALUES ({placeholders})', rows
            )
        con.commit()
    finally:
        con.close()
    return db_path


def import_sqlite(
    spark: SparkSession, db_path: str, tables: tuple[str, ...] | None = None
) -> dict[str, DataFrame]:
    """Migration entry: read an existing reference ``boatrace.db`` into
    DataFrames (all-TEXT columns, exactly as the reference stores them)
    and register temp views — a reference user's accumulated database
    loads without re-downloading the corpus. A ``race_date`` column is
    derived from the レースID prefix when absent, so the imported
    tables drop into the same partitioned-parquet warehouse layout.

    Driver-side read (embedded single-file DB, reference scale); write
    the result with ``df.write.partitionBy('race_date')`` to graduate
    it to the cluster layout.
    """
    import sqlite3

    con = sqlite3.connect(db_path)
    try:
        names = [
            r[0]
            for r in con.execute(
                "SELECT name FROM sqlite_master WHERE type='table'"
            )
        ]
        if tables is not None:
            names = [n for n in names if n in tables]
        out: dict[str, DataFrame] = {}
        for name in names:
            cur = con.execute(f'SELECT * FROM "{name}"')
            cols = [d[0] for d in cur.description]
            rows = [
                [None if v is None else str(v) for v in r] for r in cur.fetchall()
            ]
            schema = ", ".join(f"`{c}` STRING" for c in cols)
            df = spark.createDataFrame(rows, schema)
            if "race_date" not in cols and S.RACE_ID in cols:
                df = df.withColumn(
                    "race_date", F.substring(F.col(S.RACE_ID), 1, 10)
                )
            df.createOrReplaceTempView(name)
            out[name] = df
        return out
    finally:
        con.close()


# --------------------------------------------------------------------------
# S4/S8: reference-layout CSV export
def export_reference_csvs(
    tables: dict[str, DataFrame], out_dir: str, dates: list[str] | None = None
) -> list[str]:
    """Write per-day CSVs in the committed reference layout:
    ``table/{date}.csv`` (the 21-col joined race) and ``odds/{date}.csv``,
    from ``tables`` as ``register_views``/``build_warehouse`` return them:
    the joined race is the materialized ``race`` table, not a new join.

    Scale-safe: the dates filter is pushed into the scans (partition
    pruning of ``race`` and ``odds``), rows never collect to the driver
    — Spark writes one CSV per race_date partition
    (repartition("race_date") puts each day in exactly one task) and a
    driver-side rename pass maps the part file to the reference's
    ``{sub}/{date}.csv`` name.
    """
    import glob
    import shutil

    race = tables["race"]
    odds = tables["odds"]
    written: list[str] = []
    for sub, df, cols in (
        ("table", race, [c for c in race.columns if c != "race_date"]),
        ("odds", odds, [c for c in odds.columns if c != "race_date"]),
    ):
        os.makedirs(f"{out_dir}/{sub}", exist_ok=True)
        df = df.withColumn("race_date", F.col("race_date").cast("string"))
        if dates:
            df = df.where(F.col("race_date").isin(list(dates)))
        tmp = f"{out_dir}/_spark_{sub}"
        # deterministic row order inside each day's file: sort by the
        # race key (+ finishing rank for the joined table) so repeated
        # exports are byte-stable; the committed goldens' parse order
        # is not reproducible from the relational layer, so golden
        # comparisons are order-insensitive (see test)
        sort_cols = ["race_date", S.RACE_ID] + (
            ["順位"] if "順位" in df.columns else []
        )
        (
            df.repartition("race_date")
            .sortWithinPartitions(*sort_cols)
            .select("race_date", *cols)
            .write.mode("overwrite")
            .partitionBy("race_date")
            .option("header", True)
            # match csv.writer QUOTE_MINIMAL: no quotes unless needed,
            # empty string stays an empty field; Spark's writer trims
            # surrounding whitespace by default — the reference keeps
            # it (weather '曇り ' carries its trailing space)
            .option("emptyValue", "")
            .option("ignoreLeadingWhiteSpace", False)
            .option("ignoreTrailingWhiteSpace", False)
            .csv(tmp)
        )
        for pdir in glob.glob(f"{tmp}/race_date=*"):
            date = pdir.rsplit("race_date=", 1)[1]
            parts = sorted(glob.glob(f"{pdir}/part-*.csv"))
            path = f"{out_dir}/{sub}/{date}.csv"
            if len(parts) == 1:
                shutil.move(parts[0], path)
            else:  # defensive: concatenate, keeping one header
                with open(path, "w", encoding="utf-8", newline="") as out:
                    for i, p in enumerate(parts):
                        with open(p, encoding="utf-8") as fh:
                            lines = fh.readlines()
                        out.writelines(lines if i == 0 else lines[1:])
            written.append(path)
        shutil.rmtree(tmp)
    return written


def cluster_write(
    df: DataFrame,
    path: str,
    cluster_cols: list[str],
    n_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Zone-map clustering: write parquet range-partitioned AND sorted
    on ``cluster_cols``, so each output file (and each row group inside
    it) covers a narrow, near-disjoint slice of the key space. Parquet
    footers carry per-row-group min/max for every column; a selective
    filter on the cluster key then SKIPS the non-overlapping row
    groups instead of decoding them — the storage-layout lever that
    turns a 100 TB full scan into a reads-what-it-needs scan for
    range/point predicates, complementing directory-level partitioning
    (which only works for low-cardinality keys; clustering handles the
    high-cardinality ones like timestamps, ids, or dates-within-month).

    ``repartitionByRange`` samples the key distribution for balanced
    range boundaries (one extra sampling pass — the cost of clustering
    is ONE extra shuffle at write time, amortized over every future
    pruned scan; boundary files may straddle two adjacent ranges when
    a single key value spans a boundary). Spark's parquet reader
    applies the row-group min/max pruning automatically
    (spark.sql.parquet.filterPushdown, on by default) — no read-side
    code changes needed.

    n_files defaults to the session's defaultParallelism. For the
    maintenance-time variant over an already-partitioned table, see
    ``compact_partitions(sort_cols=...)``.
    """
    n = n_files or df.sparkSession.sparkContext.defaultParallelism
    (
        df.repartitionByRange(int(n), *[F.col(c) for c in cluster_cols])
        .sortWithinPartitions(*cluster_cols)
        .write.mode(mode)
        .parquet(path)
    )


def scd2_rebuild(
    log: DataFrame,
    key_cols: list[str],
    ts_col: str,
    attr_cols: list[str],
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """Build a type-2 slowly-changing-dimension table from an event
    log: one validity interval per RUN of equal attribute values per
    key — ``key_cols + attr_cols + effective_from + effective_to``
    (NULL ``effective_to`` = the currently-open row). Consecutive
    events whose attributes did not change produce NO new version —
    re-stating a value is not a change.

    Change detection is a null-safe struct compare against the lagged
    row (NULL attribute values are real states, transitions to/from
    NULL are versions); ``tiebreak_cols`` break equal-timestamp
    ordering so the history is deterministic under replay.

    Scale shape: both windows (the change flag and the
    ``effective_to`` lead) partition on the SAME key and order — one
    shuffle, reused exchange; the change filter runs between them so
    the lead only rides change points. The closed/open split is a
    pure projection of the result. This is the FULL-REBUILD path —
    idempotent, late-update-proof (a late event simply lands in its
    place in the order) — priced at one pass over the log; see
    ``scd2_apply`` for the incremental path that never rereads closed
    history.
    """
    order = [F.col(ts_col)] + [F.col(c) for c in (tiebreak_cols or [])]
    w = Window.partitionBy(*key_cols).orderBy(*order)
    cur = F.struct(*[F.col(c) for c in attr_cols])
    changed = ~cur.eqNullSafe(F.lag(cur).over(w))  # first row: lag NULL -> True
    points = log.withColumn("_chg", changed).where(F.col("_chg"))
    w2 = Window.partitionBy(*key_cols).orderBy(*order)
    return points.select(
        *key_cols,
        *attr_cols,
        F.col(ts_col).alias("effective_from"),
        F.lead(ts_col).over(w2).alias("effective_to"),
    )


def scd2_apply(
    current: DataFrame,
    updates: DataFrame,
    key_cols: list[str],
    ts_col: str,
    attr_cols: list[str],
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """Incrementally apply an update batch to an SCD2 table
    (``scd2_rebuild``'s output schema): closed versions pass through
    UNTOUCHED — no shuffle, no rewrite of the 100 TB history — while
    each key's open row is re-sequenced together with the batch's
    updates (same change-dedup: an update restating the current
    attributes is a no-op; a real change closes the open row at the
    update's timestamp and opens a new one; an unseen key starts its
    first open row).

    Monotonicity contract: update timestamps must be >= their key's
    open ``effective_from``. A LATE update (older than the open row)
    would splice a version before intervals already closed — this
    path cannot see those closed rows by design, so late corrections
    belong to ``scd2_rebuild`` over the corrected log. Equal-timestamp
    ties resolve open-row-first (the update wins the later interval),
    then by ``tiebreak_cols`` among updates.

    Invariant (tested): splitting any log at a time boundary and
    applying the suffix to the prefix's rebuild equals rebuilding the
    whole log.
    """
    scd_cols = [*key_cols, *attr_cols, "effective_from", "effective_to"]
    closed = current.where(F.col("effective_to").isNotNull()).select(*scd_cols)
    tb = tiebreak_cols or []
    open_as_log = (
        current.where(F.col("effective_to").isNull())
        .select(
            *key_cols,
            *attr_cols,
            F.col("effective_from").alias(ts_col),
        )
        .withColumn("_prio", F.lit(0))
    )
    for c in tb:
        open_as_log = open_as_log.withColumn(
            c, F.lit(None).cast(updates.schema[c].dataType)
        )
    upd = updates.select(*key_cols, *attr_cols, ts_col, *tb).withColumn(
        "_prio", F.lit(1)
    )
    rebuilt = scd2_rebuild(
        open_as_log.unionByName(upd),
        key_cols,
        ts_col,
        attr_cols,
        tiebreak_cols=["_prio", *tb],
    )
    return closed.unionByName(rebuilt.select(*scd_cols))


def export_orc(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Write a table as ORC — the interchange columnar format for
    consumers standardized on the Hive/Trino side of the house.
    Functionally parquet's peer here: columnar, splittable, per-stripe
    min/max zone maps, snappy by default; Spark's reader keeps
    predicate pushdown and column pruning (plan-asserted in tests), so
    an ORC warehouse scans like the parquet one. Partitioning carries
    over unchanged — directory-level pruning works identically.

    Stay on parquet unless a consumer requires ORC: every zone-map /
    clustering / compaction helper in this module targets parquet, and
    mixing formats in one warehouse costs more in tooling than the
    format differences are worth.
    """
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.orc(path)


def _zorder_bucket(col: F.Column, mn, mx, bits: int) -> F.Column:
    """Value-uniform bucket of a numeric/date/timestamp column into
    [0, 2^bits): floor((v - min) / (max - min) * 2^bits), clamped.
    NULLs land in bucket 0 (they sort first, as in a plain sort)."""
    v = col  # already normalized to double by the caller
    span = float(mx - mn) if mx > mn else 1.0
    frac = (v - F.lit(float(mn))) / F.lit(span)
    b = F.floor(frac * F.lit(float(1 << bits))).cast("long")
    # NULL must be handled by an explicit branch: greatest/least SKIP
    # nulls (greatest(0, least(max, NULL)) = max), so a trailing
    # coalesce would never fire and NULLs would land in the TOP bucket
    return F.when(v.isNull(), F.lit(0)).otherwise(
        F.greatest(F.lit(0), F.least(F.lit((1 << bits) - 1), b))
    )


def zorder_write(
    df: DataFrame,
    path: str,
    cluster_cols: list[str],
    n_files: int | None = None,
    bits: int = 8,
    mode: str = "overwrite",
) -> None:
    """MULTI-dimensional zone-map clustering: write parquet range-
    partitioned and sorted on the Z-VALUE (Morton code) of
    ``cluster_cols`` — bit-interleaved per-column buckets — so each
    file/row group covers a small hyper-rectangle of the key space and
    footer min/max pruning works on EVERY clustered column at once.

    This is the layout answer when two predicates matter
    (`cluster_write` on l_shipdate makes date scans near-free but
    leaves an orderkey scan reading every row group; z-order trades a
    little date locality for locality in both — measured in
    BENCHNOTES §23/§30 and pytest's footer-math assertions, the same
    trade Delta's OPTIMIZE ZORDER BY makes).

    Mechanics, all codegen: each column normalizes value-uniformly
    into 2^bits buckets against its global min/max (one 1-row
    aggregate; rank-uniform bucketing via sampled quantile boundaries
    is the upgrade for heavily skewed columns), buckets bit-interleave
    into one long, and the write is `cluster_write`'s range-partition
    + sort on that z column (dropped before the files land). Supports
    numeric, date, and timestamp columns; anything else raises —
    string keys need a rank mapping, not a value map.
    """
    ncols = len(cluster_cols)
    if ncols < 2:
        raise ValueError("zorder_write: need >= 2 columns (use cluster_write)")
    allowed = ("int", "bigint", "smallint", "tinyint", "double", "float",
               "date", "decimal")
    casts = []
    for c in cluster_cols:
        dt = dict(df.dtypes)[c]
        if not (dt.startswith(allowed) or dt.startswith("timestamp")):
            raise ValueError(
                f"zorder_write: column {c} has unsupported type {dt}"
            )
        if dt.startswith("timestamp"):
            casts.append(F.unix_timestamp(c).cast("double"))
        elif dt == "date":
            # ANSI forbids date -> numeric casts; days-since-epoch
            casts.append(F.unix_date(F.col(c)).cast("double"))
        else:
            casts.append(F.col(c).cast("double"))
    stats = df.agg(
        *[F.min(e).alias(f"mn{i}") for i, e in enumerate(casts)],
        *[F.max(e).alias(f"mx{i}") for i, e in enumerate(casts)],
    ).first()
    z = F.lit(0).cast("long")
    for i, e in enumerate(casts):
        mn, mx = stats[f"mn{i}"], stats[f"mx{i}"]
        if mn is None or mx is None:
            raise ValueError(
                f"zorder_write: column {cluster_cols[i]} is entirely NULL "
                "(or the frame is empty) — no value range to bucket"
            )
        bucket = _zorder_bucket(e, mn, mx, bits)
        for b in range(bits):
            bit = F.shiftright(bucket, b).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, b * ncols + (ncols - 1 - i)))
    n = n_files or df.sparkSession.sparkContext.defaultParallelism
    (
        df.withColumn("_zorder", z)
        .repartitionByRange(int(n), F.col("_zorder"))
        .sortWithinPartitions("_zorder")
        .drop("_zorder")
        .write.mode(mode)
        .parquet(path)
    )


def compact_partitions(
    spark: SparkSession,
    table_dir: str,
    partition_col: str = "race_date",
    target_bytes: int = 128 * 1024 * 1024,
    sort_cols: list[str] | None = None,
    _post_stage_hook=None,
) -> dict[str, int]:
    """Small-file compaction for a partitioned parquet table — the
    maintenance twin of the streams that append per epoch: each epoch
    of an ``_append_parquet`` sink (``stream_ingest_parquet``, the
    batch-operator streams' ``sink_dir``) or of ``stream_bm25_ingest``
    (its postings, one file per touched bucket) adds files, so a
    long-running stream steadily fragments its table and scan cost
    drifts from data-bound to file-open-bound. (``stream_ingest_boatrace``
    epochs replace each touched day's partition instead, so the
    warehouse tables do not fragment.) This rewrites each over-fragmented
    partition into ceil(bytes/target_bytes) files.

    A partition is over-fragmented when its file count exceeds what
    its byte size needs at ``target_bytes`` per file; right-sized
    partitions are left byte-for-byte untouched (their files are not
    rewritten — compaction must be re-runnable without churning the
    stable majority). ``sort_cols`` additionally clusters rows within
    the rewritten files (sortWithinPartitions — no extra shuffle), so
    parquet row-group min/max stats prune point lookups on those
    columns after compaction.

    Scale shape: each partition rewrite is an independent
    read-filter-repartition-overwrite cycle under dynamic partition
    overwrite (only that partition's directory is replaced; the
    staged rows are localCheckpoint'ed BEFORE the overwrite deletes
    the files they came from — the merge_upsert pattern). At 100 TB
    this runs as a background job over the partitions the ingest
    recently touched, not the whole table.

    Concurrency contract: a partition being ACTIVELY appended to must
    not be compacted — rows landing between the staged read and the
    overwrite would be deleted with the old files. Run compaction only
    on partitions the ingest has moved past (e.g. older than its
    watermark), or quiesce the ingest. As a belt-and-braces guard this
    re-lists the partition's files immediately before each overwrite
    and SKIPS the partition if the listing changed since staging (the
    next run picks it up); the window between re-list and overwrite is
    still the caller's contract, not this function's.

    Returns {partition_value: files_after} for rewritten partitions;
    raced/skipped partitions are absent.
    """
    from urllib.parse import unquote

    jpath, fs = _fs(spark, table_dir)
    prefix = f"{partition_col}="

    def _parquet_files(dir_status):
        return [
            f for f in fs.listStatus(dir_status.getPath())
            if f.getPath().getName().endswith(".parquet")
        ]

    def _snapshot(files):
        return sorted(
            (f.getPath().getName(), f.getLen(), f.getModificationTime())
            for f in files
        )

    rewritten: dict[str, int] = {}
    for st in fs.listStatus(jpath):
        if not st.isDirectory():
            continue
        name = st.getPath().getName()
        if not name.startswith(prefix):
            continue
        # directory names are Hive/URI-escaped (e.g. ':' -> '%3A');
        # unescape so the filter compares the actual partition VALUE
        value = unquote(name[len(prefix):])
        files = _parquet_files(st)
        part_bytes = sum(f.getLen() for f in files)
        needed = max(1, -(-part_bytes // target_bytes))  # ceil
        if len(files) <= needed:
            continue  # right-sized: leave untouched
        # filter on the NATIVE partition column (the string literal is
        # coerced to the column's inferred type) — casting the column
        # to string instead would both defeat partition pruning and
        # rewrite the table with a retyped partition column. The null
        # partition's directory carries Hive's sentinel name, which no
        # equality filter can match (NULL == anything is never true):
        # it needs an isNull filter.
        if value == "__HIVE_DEFAULT_PARTITION__":
            part_filter = F.col(partition_col).isNull()
        else:
            part_filter = F.col(partition_col) == F.lit(value)
        part = (
            spark.read.parquet(table_dir)
            .where(part_filter)
            .repartition(int(needed))
        )
        if sort_cols:
            part = part.sortWithinPartitions(*sort_cols)
        staged = part.localCheckpoint(eager=True)
        if staged.isEmpty():
            # the directory exists but the pruned read matched nothing:
            # value/type mismatch — overwriting would report a rewrite
            # that never replaced any files
            raise RuntimeError(
                f"compact_partitions: partition {name!r} of {table_dir} "
                f"matched no rows for {partition_col} == {value!r}; "
                "refusing to overwrite"
            )
        if _post_stage_hook is not None:
            # test seam: lets the race-guard contract be exercised by
            # injecting a concurrent append between staging and re-list
            _post_stage_hook(value)
        if _snapshot(_parquet_files(st)) != _snapshot(files):
            continue  # concurrent append landed since staging: skip
        # writer-scoped dynamic overwrite (a session conf.set would
        # leak and weaken later full-table overwrites)
        staged.write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy(partition_col).parquet(table_dir)
        rewritten[value] = int(needed)
    if rewritten:
        spark.catalog.refreshByPath(table_dir)
    return rewritten
