"""Partition-parallel SQLite source over the Python DataSource API —
the engine's jar-less answer to the JDBC gate (``io.read_jdbc`` needs
a vendor driver jar this image doesn't ship; a SQLite file + the
stdlib ``sqlite3`` module needs nothing).

The read path reproduces Spark's own JDBC partitioned-read semantics
(JDBCRelation's partitionColumn/lowerBound/upperBound contract):

- the DRIVER probes ``MIN(pc), MAX(pc)`` once (a metadata query) and
  carves ``num_partitions`` half-open stride ranges over the column;
  the first range also catches NULLs and everything below the lower
  bound, the last everything above — exactly Spark JDBC's clause
  generation, so no row is read twice and none is dropped;
- one Spark task per range, each opening its own READ-ONLY connection
  (``mode=ro&immutable=1`` URI) and streaming rows with a cursor
  iterator — no buffering, no shared handles;
- **predicate pushdown is real** (``DataSourceReader.pushFilters``,
  Spark 4.1, gated on ``spark.sql.python.filterPushdown.enabled``):
  comparison / IN / IS NULL / LIKE-prefix-suffix-contains filters on
  top-level columns are translated to a WHERE fragment evaluated
  INSIDE sqlite per task, so filtered rows never cross the Python
  boundary. Unsupported shapes are returned to Spark, which re-applies
  them — pushdown here is an optimization, never a correctness
  dependency. Column pruning is not in the Python DataSource API yet;
  the scan reads all declared columns (documented cost).

Scale shape: the same as a production JDBC read — parallelism = key
ranges, per-task work = its range's rows, driver work = one 2-value
metadata query. On a real cluster the .db file must live on shared
storage (or be replicated per executor); in local[32] every task sees
the same file. Row-at-a-time Python decode is the priced cost of a
jar-less environment, same tier as the Avro fallback.

Schema comes from ``PRAGMA table_info`` declared types via SQLite's
public affinity rules (INT* -> bigint, REAL/FLOA/DOUB -> double,
CHAR/CLOB/TEXT -> string, BLOB -> binary); an undeclared or exotic
type raises at plan time rather than guessing.

Everything worker-side is defined inside the factory so cloudpickle
ships it by value (NOTES rule 6 — executors never import this module).

Reference parity: the reference engine reads only its local text files
(worker.ex:96-114); a DB-resident source is part of this engine's
widened source surface (SURVEY.md §2.2 scans/sources).
"""

from __future__ import annotations

import os
import sqlite3

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from map_reduce_spark.registry import register

_TYPE_MAP = (
    ("INT", "bigint"),
    ("CHAR", "string"),
    ("CLOB", "string"),
    ("TEXT", "string"),
    ("BLOB", "binary"),
    ("REAL", "double"),
    ("FLOA", "double"),
    ("DOUB", "double"),
)


def _spark_type(decl: str) -> str:
    d = (decl or "").upper()
    for frag, t in _TYPE_MAP:
        if frag in d:
            return t
    raise NotImplementedError(
        f"sqlite declared type {decl!r} has no supported Spark mapping "
        "(declare INTEGER/REAL/TEXT/BLOB affinities)"
    )


def table_schema(db_path: str, table: str) -> list[tuple[str, str]]:
    """[(column, spark type)] from the table's declared types."""
    with sqlite3.connect(f"file:{db_path}?mode=ro", uri=True) as con:
        info = con.execute(
            "SELECT name, type FROM pragma_table_info(?)", (table,)
        ).fetchall()
    if not info:
        raise ValueError(f"table {table!r} not found in {db_path!r}")
    return [(name, _spark_type(decl)) for name, decl in info]


def make_where_translator():
    """Build the self-contained filter->WHERE translator (everything it
    references is defined inside this factory, so cloudpickle ships it
    BY VALUE — the plan-time Python worker and the executors never need
    this module importable, NOTES rule 6)."""

    def quote_ident(name: str) -> str:
        return '"' + name.replace('"', '""') + '"'

    def sql_literal(v) -> str:
        if isinstance(v, bool):
            return "1" if v else "0"
        if isinstance(v, (int, float)):
            return repr(v)
        if isinstance(v, str):
            return "'" + v.replace("'", "''") + "'"
        raise NotImplementedError(f"unsupported literal {type(v).__name__}")

    def like_escape(s: str) -> str:
        return s.replace("\\", "\\\\").replace("%", "\\%").replace("_", "\\_")

    def translate(filters):
        """(fragments, unsupported): unsupported filters go back to
        Spark, which re-applies them above the scan — pushdown stays a
        pure optimization, never a correctness dependency."""
        from pyspark.sql.datasource import (
            EqualTo,
            GreaterThan,
            GreaterThanOrEqual,
            In,
            IsNotNull,
            IsNull,
            LessThan,
            LessThanOrEqual,
            StringContains,
            StringEndsWith,
            StringStartsWith,
        )

        ops = {
            EqualTo: "=",
            GreaterThan: ">",
            GreaterThanOrEqual: ">=",
            LessThan: "<",
            LessThanOrEqual: "<=",
        }
        frags, unsupported = [], []
        for f in filters:
            attr = getattr(f, "attribute", None)
            if attr is not None and len(attr) != 1:  # nested column: punt
                unsupported.append(f)
                continue
            col = quote_ident(attr[0]) if attr else None
            try:
                if type(f) in ops:
                    frags.append(f"{col} {ops[type(f)]} {sql_literal(f.value)}")
                elif isinstance(f, In):
                    vals = ", ".join(sql_literal(v) for v in f.value)
                    frags.append(f"{col} IN ({vals})")
                elif isinstance(f, IsNull):
                    frags.append(f"{col} IS NULL")
                elif isinstance(f, IsNotNull):
                    frags.append(f"{col} IS NOT NULL")
                elif isinstance(f, StringStartsWith):
                    frags.append(
                        f"{col} LIKE {sql_literal(like_escape(f.value) + '%')} ESCAPE '\\'"
                    )
                elif isinstance(f, StringEndsWith):
                    frags.append(
                        f"{col} LIKE {sql_literal('%' + like_escape(f.value))} ESCAPE '\\'"
                    )
                elif isinstance(f, StringContains):
                    frags.append(
                        f"{col} LIKE {sql_literal('%' + like_escape(f.value) + '%')} ESCAPE '\\'"
                    )
                else:  # Not(...), EqualNullSafe, anything newer
                    unsupported.append(f)
            except NotImplementedError:  # non-scalar literal (array, ...)
                unsupported.append(f)
        return frags, unsupported

    return translate


# driver-side importable handle (tests unit-test the translation); as a
# factory closure its qualname is non-importable, so captures of it
# still pickle by value
filters_to_where = make_where_translator()


def _quote_ident(name: str) -> str:
    return '"' + name.replace('"', '""') + '"'


def _partition_ranges(
    db_path: str, table: str, pc: str, num_partitions: int
) -> list[tuple[int | None, int | None]]:
    """JDBC-style stride ranges [(lo, hi), ...) over the partition
    column; (None, b) = unbounded below + NULLs, (b, None) = unbounded
    above. One driver-side 2-value metadata query."""
    with sqlite3.connect(f"file:{db_path}?mode=ro", uri=True) as con:
        lo, hi = con.execute(
            f"SELECT MIN({_quote_ident(pc)}), MAX({_quote_ident(pc)}) "
            f"FROM {_quote_ident(table)}"
        ).fetchone()
    if lo is None or num_partitions <= 1 or lo == hi:
        return [(None, None)]
    lo, hi = int(lo), int(hi)
    n = min(num_partitions, hi - lo + 1)
    stride = (hi - lo) // n or 1
    bounds = [lo + stride * i for i in range(1, n)]
    ranges: list[tuple[int | None, int | None]] = [(None, bounds[0])]
    ranges += [(bounds[i], bounds[i + 1]) for i in range(len(bounds) - 1)]
    ranges.append((bounds[-1], None))
    return ranges


def read_sqlite(
    spark: SparkSession,
    db_path: str,
    table: str,
    partition_column: str | None = None,
    num_partitions: int = 8,
    probe_dir: str | None = None,
) -> DataFrame:
    """Register + read the partition-parallel sqlite source (module
    docstring). ``probe_dir`` is a test seam: when set, each task
    drops a one-line file recording how many pushed-filter fragments
    its WHERE carried — the only executor-side observable that proves
    pushdown reached the per-task SQL.

    Session-conf note: ``spark.sql.python.filterPushdown.enabled`` is
    switched on here and deliberately LEFT on — the returned frame is
    lazy, so the conf must still hold when an action finally plans the
    scan; restoring it on return would silently disable the pushdown
    this source exists for. The flag only affects Python DataSources
    and is correctness-neutral (unsupported filters are re-applied by
    Spark above the scan either way)."""
    from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    cols = table_schema(db_path, table)
    if partition_column is not None:
        declared = dict(cols).get(partition_column)
        if declared is None:
            raise ValueError(
                f"partition column {partition_column!r} not in {table!r}"
            )
        if declared not in ("tinyint", "smallint", "int", "bigint"):
            # stride arithmetic needs integer affinity; a TEXT/REAL
            # column would fail later with a bare ValueError deep in
            # range math — gate up front with the real reason
            raise NotImplementedError(
                f"read_sqlite: integer partition column required; "
                f"{partition_column!r} is {declared}"
            )
    ddl = ", ".join(f"{name} {t}" for name, t in cols)
    ranges = (
        _partition_ranges(db_path, table, partition_column, num_partitions)
        if partition_column
        else [(None, None)]
    )
    col_sql = ", ".join(_quote_ident(c) for c, _ in cols)
    tbl_sql = _quote_ident(table)
    pc_sql = _quote_ident(partition_column) if partition_column else None
    to_where = make_where_translator()

    class _Range(InputPartition):
        def __init__(self, lo, hi):
            self.lo = lo
            self.hi = hi

    class _SqliteReader(DataSourceReader):
        def __init__(self):
            self.frags: list[str] = []

        def pushFilters(self, filters):
            self.frags, unsupported = to_where(filters)
            return unsupported

        def partitions(self):
            return [_Range(lo, hi) for lo, hi in ranges]

        def read(self, partition):
            where = list(self.frags)
            if pc_sql is not None:
                lo, hi = partition.lo, partition.hi
                if lo is None and hi is not None:
                    where.append(f"({pc_sql} < {hi} OR {pc_sql} IS NULL)")
                elif lo is not None and hi is not None:
                    where.append(f"({pc_sql} >= {lo} AND {pc_sql} < {hi})")
                elif lo is not None:
                    where.append(f"{pc_sql} >= {lo}")
            sql = f"SELECT {col_sql} FROM {tbl_sql}"
            if where:
                sql += " WHERE " + " AND ".join(where)
            if probe_dir:
                probe = os.path.join(
                    probe_dir, f"task-{partition.lo}-{partition.hi}-{os.getpid()}"
                )
                with open(probe, "w") as fh:
                    fh.write(str(len(self.frags)))
            con = sqlite3.connect(f"file:{db_path}?mode=ro&immutable=1", uri=True)
            try:
                yield from con.execute(sql)
            finally:
                con.close()

    class SqliteDataSource(DataSource):
        @classmethod
        def name(cls):
            return "sqlite_py"

        def schema(self):
            return ddl

        def reader(self, schema):
            return _SqliteReader()

    spark.dataSource.register(SqliteDataSource)
    return spark.read.format("sqlite_py").load()


def write_sqlite_table(rows, columns: list[tuple[str, str]], db_path: str, table: str) -> None:
    """Driver-side fixture writer: create ``table`` with the given
    (name, sqlite decltype) columns and bulk-insert rows."""
    con = sqlite3.connect(db_path)
    try:
        cols_sql = ", ".join(f"{_quote_ident(c)} {t}" for c, t in columns)
        con.execute(f"CREATE TABLE {_quote_ident(table)} ({cols_sql})")
        ph = ", ".join("?" for _ in columns)
        con.executemany(f"INSERT INTO {_quote_ident(table)} VALUES ({ph})", rows)
        con.commit()
    finally:
        con.close()


_SUPPLIER_COLS = [
    ("s_suppkey", "BIGINT"),
    ("s_name", "TEXT"),
    ("s_nationkey", "BIGINT"),
    ("s_acctbal", "DOUBLE"),
]


def ensure_sqlite_fixture(sf_dir: str) -> str:
    """Materialize ``<sf_dir>/supplier.parquet`` as a SQLite database
    under the system tmp dir, once per sf_dir (atomic-rename publish).
    The fixture is the stand-in for data that already LIVES in an
    operational database; the operator under measure is the
    partitioned, pushdown-capable read path."""
    import pyarrow.parquet as pq

    from map_reduce_spark.sources import lakecommit

    dest = lakecommit.fixture_dir("sqlite", sf_dir) + ".db"
    if os.path.isfile(dest):
        return dest
    tbl = pq.read_table(
        os.path.join(sf_dir, "supplier.parquet"),
        columns=[c for c, _ in _SUPPLIER_COLS],
    )
    rows = list(zip(*(tbl.column(c).to_pylist() for c, _ in _SUPPLIER_COLS)))
    tmp = lakecommit.fixture_tmp(dest)
    write_sqlite_table(rows, _SUPPLIER_COLS, tmp, "supplier")
    lakecommit.publish_fixture(tmp, dest)
    return dest


@register(
    "sqlite_scan",
    oracle="""
SELECT s_nationkey,
       COUNT(*) AS cnt,
       CAST(SUM(CAST(round(s_acctbal * 100, 0) AS BIGINT)) AS BIGINT) AS sum_cents,
       MIN(s_name) AS min_name
FROM supplier
WHERE s_acctbal >= 2000.0 AND s_nationkey IN (1, 5, 9, 13, 17, 21)
GROUP BY s_nationkey
""",
)
def sqlite_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read a SQLite-resident supplier table through the partitioned
    Python DataSource — 8 JDBC-style stride ranges on s_suppkey — with
    a conjunctive filter (>= on a double, IN on the nation key) pushed
    into per-task sqlite WHERE clauses, then aggregate per nation.
    Every surviving value is hash-certified against DuckDB reading the
    same rows from parquet (the fixture is converted from that exact
    table, so the parquet view IS the ground truth for the decode +
    partition-clause generation: a dropped/duplicated stride row or a
    mistranslated pushed filter mismatches instantly).

    Scale shape: module docstring — parallelism = key ranges, filters
    evaluated database-side, one metadata query on the driver. The
    double column crosses engines bit-exactly (sqlite REAL is IEEE
    binary64) and sums as exact cents (NOTES rule 1)."""
    db = ensure_sqlite_fixture(sf_dir)
    df = read_sqlite(spark, db, "supplier", partition_column="s_suppkey", num_partitions=8)
    return (
        df.filter(
            (F.col("s_acctbal") >= 2000.0)
            & F.col("s_nationkey").isin(1, 5, 9, 13, 17, 21)
        )
        .groupBy("s_nationkey")
        .agg(
            F.count("*").alias("cnt"),
            F.sum(F.round(F.col("s_acctbal") * 100, 0).cast("long")).alias("sum_cents"),
            F.min("s_name").alias("min_name"),
        )
    )
