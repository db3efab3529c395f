"""Sources and sinks.

Sources: the driver's parquet tables by name, plus generic readers
(text / csv / json / parquet) and the whole-file source that backs the
reference's ``mapper(filename, content)`` contract
(/root/reference/lib/map_reduce/worker.ex:106-108 reads one whole file
per map task — ``wholeTextFiles`` is the exact Spark analog).

Sinks: task-commit-safe DataFrameWriter wrappers (the reference's
append-mode sinks, worker.ex:124,147, double-write on task retry; Spark's
output committer makes every sink here idempotent by construction).
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


def _parquet_has_nanos(path: str) -> bool:
    """Footer-only probe (no data read): does any column carry
    TIMESTAMP(NANOS)? Directory datasets are checked via their first
    fragment — parquet datasets are schema-uniform by contract."""
    try:
        import pyarrow.dataset as ds

        schema = ds.dataset(path, format="parquet").schema
        return any(str(t) == "timestamp[ns]" for t in schema.types)
    except Exception:
        # probe unavailable -> assume nanos (the safe legacy behavior
        # for the events table this guard exists for)
        return True


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one of the driver's parquet tables.

    Parquet scan → Catalyst gets column pruning + predicate pushdown for
    free on every downstream query.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        # events.ts is parquet TIMESTAMP(NANOS), which Spark's vectorized
        # reader rejects. Read it as raw nanos (runtime conf works) and
        # convert to a microsecond TimestampNTZ — µs is Spark's native
        # timestamp resolution; sub-µs detail is below every operator's
        # granularity here.
        #
        # DELIBERATE session-wide conf: the nanosAsLong flag cannot be
        # scoped per-read (it is consumed at scan execution, after this
        # function returns, so a set/restore window would race the lazy
        # plan). The engine's contract is therefore explicit: NANOS
        # columns anywhere in the session read as raw epoch-nanos longs
        # — the same convention this loader applies to events — rather
        # than erroring. Set only when the footer actually carries
        # nanos, so sessions that never touch such data are untouched.
        from pyspark.sql import functions as F

        if _parquet_has_nanos(path):
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        # ts_us (raw epoch microseconds) travels alongside the NTZ
        # timestamp so event-time arithmetic can stay session-timezone-
        # independent. The file's ts precision varies by driver vintage
        # (TIMESTAMP(NANOS) read as raw longs vs plain µs timestamps),
        # so dispatch on the scanned type; every path below is pure
        # calendar/epoch arithmetic with no session-TZ hop.
        ts_type = df.schema["ts"].dataType.simpleString()
        _EPOCH = "TIMESTAMP_NTZ '1970-01-01 00:00:00'"
        if ts_type == "bigint":  # nanosAsLong: raw epoch nanos
            return df.withColumn("ts_us", F.expr("ts div 1000")).withColumn(
                "ts",
                F.expr(f"timestampadd(MICROSECOND, ts div 1000, {_EPOCH})"),
            )
        if ts_type == "timestamp_ntz":  # µs file, NTZ inference on
            return df.withColumn(
                "ts_us", F.expr(f"timestampdiff(MICROSECOND, {_EPOCH}, ts)")
            )
        # TIMESTAMP (LTZ): unix_micros reads its epoch directly (TZ-free);
        # rebuild the NTZ rendering from the epoch for schema stability.
        return df.withColumn("ts_us", F.unix_micros("ts")).withColumn(
            "ts", F.expr(f"timestampadd(MICROSECOND, unix_micros(ts), {_EPOCH})")
        )
    return spark.read.parquet(path)


# (app_id, plan semantic hash) -> input partition count; the probe
# forces an analysis + RDD conversion on the driver, so pay it once per
# distinct plan per session, not once per query build. LRU-capped: a
# long-lived session building many distinct plans must not grow this
# without bound (move-to-end on hit, evict oldest past the cap).
from collections import OrderedDict

_NPART_CACHE: OrderedDict[tuple[str, int], int] = OrderedDict()
_NPART_CACHE_MAX = 256


def parallelize_if_narrow(df: DataFrame, *keys: str) -> DataFrame:
    """Repartition to the cluster's parallelism ONLY if the plan is
    narrower than the core count.

    Purpose: single-file/single-row-group inputs scan as one task; for
    compute-heavy per-row operators (shingling, hashing, decode) that
    serializes the whole job. On production data (many files, many row
    groups) the input is already wide and this is a no-op — no wasted
    shuffle at scale.

    Pass the downstream grouping ``keys`` when there is one: hash
    partitioning on the key both parallelizes the scan AND satisfies
    the later groupBy's distribution, so the aggregation needs no
    second shuffle (measured 2x on the MinHash pipeline).
    """
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    cache_key = (spark.sparkContext.applicationId, df.semanticHash())
    n = _NPART_CACHE.get(cache_key)
    if n is None:
        n = df.rdd.getNumPartitions()
    _NPART_CACHE[cache_key] = n
    _NPART_CACHE.move_to_end(cache_key)
    while len(_NPART_CACHE) > _NPART_CACHE_MAX:
        _NPART_CACHE.popitem(last=False)
    if n < target:
        return df.repartition(target, *keys) if keys else df.repartition(target)
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so ``spark.sql`` can be used."""
    for t in TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)


def whole_text_files(spark: SparkSession, directory: str) -> DataFrame:
    """Whole-file source: one row per file, ``(filename, content)``.

    The Spark analog of the reference's per-file map-task input split
    (master.ex:112-115 lists the dir; worker.ex:106-108 File.read!s one
    file per task). Each file becomes one partition element, so a
    downstream ``flatMap`` mapper sees exactly the reference's input
    granularity.
    """
    rdd = spark.sparkContext.wholeTextFiles(directory)
    return spark.createDataFrame(rdd, schema="filename string, content string")


def read_text(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.text(path)


def read_csv(spark: SparkSession, path: str, schema=None, header: bool = True) -> DataFrame:
    reader = spark.read.option("header", str(header).lower())
    if schema is not None:
        reader = reader.schema(schema)
    return reader.csv(path)


def read_json(spark: SparkSession, path: str, schema=None) -> DataFrame:
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_binary_files(spark: SparkSession, path: str, glob: str | None = None) -> DataFrame:
    """``binaryFile`` source: one row per file with (path,
    modificationTime, length, content) — the ingestion path for
    multimodal corpora (images/audio/video as opaque bytes + typed
    metadata, SURVEY §2.2 multimodal row). ``glob`` filters at listing
    time (``pathGlobFilter``), so unmatched files are never opened;
    the scan moves bytes, it never decodes."""
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC source (built into Spark; columnar with predicate pushdown
    like parquet)."""
    return spark.read.orc(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite", partition_by=None) -> None:
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.orc(path)


def read_xml(spark: SparkSession, path: str, row_tag: str, schema=None) -> DataFrame:
    """XML source (built into Spark 4): one row per ``row_tag``
    element, schema inferred or supplied."""
    reader = spark.read.format("xml").option("rowTag", row_tag)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.load(path)


def write_xml(df: DataFrame, path: str, row_tag: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).format("xml").option("rowTag", row_tag).save(path)


def read_avro(spark: SparkSession, path: str) -> DataFrame:
    """Avro source. With the spark-avro jar on the classpath this is
    the native (preferred) scan; without it — this image ships no
    external jars — it falls back to the engine's pure-Python
    object-container reader (``sources.avro_py``), a partition-parallel
    Python DataSource whose planner indexes block ranges without
    decompressing. Same rows either way; the fallback trades scan
    throughput for zero install footprint. Only the jar-absence failure
    falls back; any other native error re-raises."""
    try:
        return spark.read.format("avro").load(path)
    except Exception as e:  # jar absent -> Python path; else re-raise
        if not _is_missing_datasource(e):
            raise
        from map_reduce_spark.sources.avro_py import read_avro_py

        return read_avro_py(spark, path)


def read_sqlite(
    spark: SparkSession,
    db_path: str,
    table: str,
    partition_column: str | None = None,
    num_partitions: int = 8,
) -> DataFrame:
    """DB-resident source without jars: partition-parallel SQLite read
    through the Python DataSource (``sources.sqlite_py``) — JDBC-style
    stride ranges on ``partition_column`` plus real predicate pushdown
    into per-task WHERE clauses. The jar-less twin of ``read_jdbc``."""
    from map_reduce_spark.sources.sqlite_py import read_sqlite as _rs

    return _rs(spark, db_path, table, partition_column, num_partitions)


def read_jdbc(spark: SparkSession, url: str, table: str, **options) -> DataFrame:
    """JDBC source (gated): requires the vendor driver jar on the
    classpath; raises a clear error when absent (this image ships no
    JDBC drivers). For a jar-less DB read, see ``read_sqlite`` — the
    same partitioned-read semantics over a SQLite file."""
    try:
        reader = spark.read.format("jdbc").option("url", url).option("dbtable", table)
        for k, v in options.items():
            reader = reader.option(k, v)
        return reader.load()
    except Exception as e:  # driver jar missing in this environment
        raise NotImplementedError(
            "JDBC source needs the vendor driver jar on the Spark classpath"
        ) from e


def _is_missing_datasource(e: Exception) -> bool:
    """True only for the jar-absent failure shape (the registered-
    format lookup failing), NOT for genuine native-path errors — a bad
    config or corrupt table must surface as itself, not resurface as a
    misleading pure-Python error downstream."""
    s = str(e)
    return any(
        marker in s
        for marker in (
            "Failed to find data source",
            "DATA_SOURCE_NOT_FOUND",
            "Failed to find the data source",
            "ClassNotFoundException",
        )
    )


def read_delta(spark: SparkSession, path: str) -> DataFrame:
    """Delta Lake source. With the delta-spark jars on the classpath
    this is the native scan; without them — this image ships no
    external jars — it falls back to the engine's pure-Python
    transaction-log reader (``sources.delta_py``): log replay on the
    driver (metadata-sized), then a plain native parquet scan over the
    active file list, so pushdown/pruning/codegen are identical either
    way. Only the jar-absence failure falls back; any other native
    error re-raises."""
    try:
        return spark.read.format("delta").load(path)
    except Exception as e:  # jars absent -> Python path; else re-raise
        if not _is_missing_datasource(e):
            raise
        from map_reduce_spark.sources.delta_py import read_delta_py

        return read_delta_py(spark, path)


def read_iceberg(
    spark: SparkSession,
    path: str,
    snapshot_id: int | None = None,
    predicates=None,
) -> DataFrame:
    """Apache Iceberg source. With the iceberg-spark runtime jar this
    is the native scan; without it — this image ships no external jars
    — it falls back to the engine's pure-Python metadata reader
    (``sources.iceberg_py``): metadata.json -> manifest list ->
    manifests (Avro, decoded driver-side) -> a plain native parquet
    scan over the live file set. Same rows either way. Snapshot-pinned
    or predicate-pruned reads go straight to the Python path (the
    native format needs a catalog for time travel, and its own planner
    does the pruning natively); otherwise only the jar-absence failure
    falls back and any other native error re-raises.

    ``predicates`` (``[(column, op, literal)]``) engages the Python
    planner's hidden-partition + column-bounds pruning — ADVISORY:
    pruning only removes provably-dead files, the caller still applies
    the full row filter to the returned frame."""
    from map_reduce_spark.sources.iceberg_py import read_iceberg_py

    if snapshot_id is not None or predicates is not None:
        return read_iceberg_py(spark, path, snapshot_id, predicates=predicates)
    try:
        return spark.read.format("iceberg").load(path)
    except Exception as e:  # jar absent -> Python path; else re-raise
        if not _is_missing_datasource(e):
            raise
        return read_iceberg_py(spark, path, None)


def write_delta(
    df: DataFrame,
    path: str,
    mode: str = "append",
    partition_by=(),
    stats_cols=(),
) -> int:
    """Transactional Delta write (jar-less: the engine's pure-Python
    log codec — put-if-absent commits, checkpoints, per-file stats).
    Returns the committed version. See ``sources.delta_py`` for
    DELETE/MERGE/OPTIMIZE/vacuum/change-feed and the streaming sink."""
    from map_reduce_spark.sources.delta_py import write_delta_py

    return write_delta_py(
        df, path, mode=mode,
        partition_by=tuple(partition_by or ()),
        stats_cols=tuple(stats_cols or ()),
    )


def write_parquet(df: DataFrame, path: str, mode: str = "overwrite", partition_by=None) -> None:
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_text_lines(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Sink a single-string-column DataFrame as plain text lines.

    Descendant of the reference's text sink (worker.ex:137 writes
    ``"KEY count\\n"``) but overwrite-mode and task-commit safe.
    """
    if len(df.columns) != 1:
        raise ValueError("write_text_lines expects exactly one string column")
    df.write.mode(mode).text(path)


def write_csv(df: DataFrame, path: str, mode: str = "overwrite", sep: str = ",") -> None:
    df.write.mode(mode).option("header", "true").option("sep", sep).csv(path)


def write_bucketed(
    df: DataFrame, table: str, key: str, buckets: int, sort: bool = True
) -> None:
    """Persist ``df`` as a managed parquet table bucketed (and
    optionally sorted) by ``key``.

    Bucketing is the at-rest co-location strategy for 100 TB fact-fact
    joins: two tables bucketed by the same key into the same bucket
    count join with NO exchange on either side (asserted in
    tests/test_bucketing.py) — the shuffle is paid once at write time,
    then every downstream join/aggregation on that key is
    shuffle-free. ``sortBy`` additionally lets sort-merge join skip
    its per-partition sort."""
    writer = df.write.mode("overwrite").format("parquet").bucketBy(buckets, key)
    if sort:
        writer = writer.sortBy(key)
    writer.saveAsTable(table)


def compact_small_files(
    spark: SparkSession, path: str, target_mb: int = 128
) -> int:
    """Rewrite a parquet directory into ~``target_mb``-sized files.

    The small-files problem is the classic failure mode of incremental
    ingestion (every micro-batch appends a sliver; a year later the
    table is a million 200 KB files and listing dominates query time).
    Sizing from the CURRENT on-disk bytes keeps the rewrite a single
    narrow coalesce — no shuffle — and the overwrite goes through
    Spark's task-commit protocol, so a failed rewrite never clobbers
    the source (unlike the reference's append-mode sinks,
    worker.ex:124,147).

    Returns the file count written.
    """
    import glob as _glob

    total_bytes = sum(
        os.path.getsize(f)
        for f in _glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    )
    n_files = max(1, -(-total_bytes // (target_mb * 1024 * 1024)))
    df = spark.read.parquet(path)
    tmp = path.rstrip("/") + "__compacted"
    df.coalesce(int(n_files)).write.mode("overwrite").parquet(tmp)
    # swap by rename: each step is atomic, so a crash at any point
    # leaves the dataset reachable under either `path` or `path__old`
    # (rmtree-then-replace had a window with no dataset at `path`)
    import shutil

    old = path.rstrip("/") + "__old"
    shutil.rmtree(old, ignore_errors=True)
    os.replace(path, old)
    os.replace(tmp, path)
    shutil.rmtree(old)
    return int(n_files)
