"""SQL DML semantics of the copy-on-write core (``sources/rowlevel``),
checked once for both table formats, and a lock on the number of Spark
jobs each DML operation launches.

Every check runs through the public per-format entry points
(``delta_py.delete_where`` ... ``iceberg_py.merge_iceberg_upsert``), so a
format adapter that bends the shared semantics fails here for its own
format only."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

import map_reduce_spark.sources.delta_py as D
import map_reduce_spark.sources.iceberg_py as I

FORMATS = ("delta", "iceberg")
_SCHEMA = "id bigint, v bigint, tag string"

_WRITE = {
    "delta": lambda df, t: D.write_delta_py(df, t, stats_cols=("id",)),
    "iceberg": lambda df, t: I.append_iceberg_snapshot(df, t),
}
_READ = {"delta": D.read_delta_py, "iceberg": I.read_iceberg_py}
_HEAD = {
    "delta": D.latest_version,
    "iceberg": lambda t: I._pick_snapshot(I.load_table_metadata(t), None)["snapshot-id"],
}
_LOG_DIR = {"delta": "_delta_log", "iceberg": "metadata"}

# (format, operation): the six public DML entry points
_OPS = {
    ("delta", "delete"): lambda s, t, pred: D.delete_where(s, t, pred, stats_cols=("id",)),
    ("delta", "update"): lambda s, t, pred, sets: D.update_where(
        s, t, pred, sets, stats_cols=("id",)
    ),
    ("delta", "merge"): lambda s, t, src: D.merge_upsert(s, t, src, "id", stats_cols=("id",)),
    ("iceberg", "delete"): lambda s, t, pred: I.delete_iceberg_where(s, t, pred),
    ("iceberg", "update"): lambda s, t, pred, sets: I.update_iceberg_where(s, t, pred, sets),
    ("iceberg", "merge"): lambda s, t, src: I.merge_iceberg_upsert(s, t, src, "id"),
}


def _table(spark, tmp_path, fmt, rows):
    """One single-file table, so the victim file mixes predicate-TRUE,
    FALSE and NULL rows."""
    t = str(tmp_path / fmt)
    _WRITE[fmt](spark.createDataFrame(rows, _SCHEMA).coalesce(1), t)
    return t


def _rows(spark, fmt, t):
    return sorted(tuple(r) for r in _READ[fmt](spark, t).collect())


_NULLS = [(1, 10, "o"), (2, None, "o"), (3, 30, "o"), (4, None, "o"), (5, 50, "o")]


@pytest.mark.parametrize("fmt", FORMATS)
def test_delete_keeps_null_predicate_rows(spark, tmp_path, fmt):
    t = _table(spark, tmp_path, fmt, _NULLS)
    _OPS[fmt, "delete"](spark, t, F.col("v") > 20)  # NULL for ids 2 and 4
    assert [r[0] for r in _rows(spark, fmt, t)] == [1, 2, 4]


@pytest.mark.parametrize("fmt", FORMATS)
def test_update_leaves_null_predicate_rows_untouched(spark, tmp_path, fmt):
    t = _table(spark, tmp_path, fmt, _NULLS)
    _OPS[fmt, "update"](spark, t, F.col("v") > 20, {"tag": F.lit("U"), "v": F.col("v") + 1})
    assert _rows(spark, fmt, t) == [
        (1, 10, "o"), (2, None, "o"), (3, 31, "U"), (4, None, "o"), (5, 51, "U"),
    ]
    with pytest.raises(KeyError, match="unknown columns"):
        _OPS[fmt, "update"](spark, t, F.lit(True), {"nope": F.lit(1)})


@pytest.mark.parametrize("fmt", FORMATS)
def test_merge_refuses_bad_sources(spark, tmp_path, fmt):
    t = _table(spark, tmp_path, fmt, _NULLS)
    before = _rows(spark, fmt, t)
    dup = spark.createDataFrame([(7, 1, "a"), (7, 2, "b")], _SCHEMA)
    with pytest.raises(Exception, match="duplicate keys"):
        _OPS[fmt, "merge"](spark, t, dup)
    widened = spark.createDataFrame([(7, 1, "a")], "id bigint, v int, tag string")
    with pytest.raises(TypeError, match="schema must match"):
        _OPS[fmt, "merge"](spark, t, widened)
    assert _rows(spark, fmt, t) == before


@pytest.mark.parametrize("fmt", FORMATS)
def test_no_match_delete_writes_no_commit(spark, tmp_path, fmt):
    t = _table(spark, tmp_path, fmt, _NULLS)
    head = _HEAD[fmt](t)
    log = sorted(os.listdir(os.path.join(t, _LOG_DIR[fmt])))
    assert _OPS[fmt, "delete"](spark, t, F.col("id") > 100) == head
    assert _HEAD[fmt](t) == head
    assert sorted(os.listdir(os.path.join(t, _LOG_DIR[fmt]))) == log


# Spark jobs per DML operation on the two-commit table below, as a
# ``dagScheduler().nextJobId()`` delta (the count ``runlog.run_query``
# reports). The values were measured on the per-format bodies this core
# replaced; a change that adds a round to any operation fails here, and
# one that removes a round lowers the constant.
_JOB_LOCK = {
    ("delta", "delete"): 4,
    ("delta", "update"): 4,
    ("delta", "merge"): 9,
    ("iceberg", "delete"): 4,
    ("iceberg", "update"): 4,
    ("iceberg", "merge"): 9,
}


def _frame(spark, lo, n):
    return (
        spark.range(lo, lo + n)
        .select(
            F.col("id"),
            (F.col("id") % 5).alias("v"),
            (F.col("id") % 3).cast("string").alias("tag"),
        )
        .repartition(2)
    )


_LOCK_CALLS = {
    "delete": lambda spark: (F.col("id") < 15,),
    "update": lambda spark: (F.col("v") == 1, {"v": F.lit(-1).cast("long")}),
    "merge": lambda spark: (_frame(spark, 30, 40).withColumn("v", F.col("v") + 1),),
}


def dml_jobs(spark, tmp_path, fmt, op) -> int:
    """Spark jobs launched by one ``op`` on a fresh two-commit table."""
    t = str(tmp_path / f"lock_{fmt}_{op}")
    _WRITE[fmt](_frame(spark, 0, 40), t)
    _WRITE[fmt](_frame(spark, 40, 20), t)
    args = _LOCK_CALLS[op](spark)
    sched = spark.sparkContext._jsc.sc().dagScheduler()
    j0 = sched.nextJobId()
    _OPS[fmt, op](spark, t, *args)
    return sched.nextJobId() - j0


@pytest.mark.parametrize("fmt,op", sorted(_JOB_LOCK), ids=lambda v: v)
def test_dml_job_count_lock(spark, tmp_path, fmt, op):
    assert dml_jobs(spark, tmp_path, fmt, op) <= _JOB_LOCK[fmt, op]
