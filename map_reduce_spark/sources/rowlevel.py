"""Copy-on-write SQL DML written once for both pure-Python table
formats (``delta_py``, ``iceberg_py``): DELETE, UPDATE and MERGE.

Each operation is one optimistic retry loop (``lakecommit.retry_commit``)
whose attempt plans against ONE snapshot of the table and rewrites only
the data files that hold affected rows:

- victim discovery: the live files are scanned once under
  ``coalesce(pred, false)`` and the distinct scheme-stripped
  ``_metadata.file_path`` values are collected through
  ``control_plane_rows`` — SQL semantics on NULLs: only predicate-TRUE
  rows are deleted or updated, NULL-predicate rows are carried as they
  are (a bare ``~pred`` maps NULL to NULL and would drop them);
- DELETE rewrites the victims minus the matches; UPDATE rewrites them
  with ``set_exprs`` applied to the predicate-TRUE rows only;
- MERGE (upsert) checks the source schema exactly, weaves an
  ``assert_true`` duplicate-key guard into the key column, persists the
  guarded batch for its several consumers, and reads candidate files
  from the format's own metadata pruning over a bounded key plan
  (``KeyPlan``); matched rows take the source values, unmatched source
  rows insert (an anti-join against the candidates only — inclusive
  pruning puts every match in a candidate file).

What differs per format sits behind one ``View`` per attempt, which
the format's adapter (``open_view(op)``) builds: it takes the snapshot,
applies the format's rewrite gate, names the logical schema and the
live files, scans files of that same snapshot, picks merge candidates,
and stages + publishes the rewrite (returning the new id, or
``lakecommit.LOST`` after removing what it staged). Change-feed rows
reach ``publish`` as a callable, so a format without a change feed
never builds them (NOTES rule 61: every Column operation is a py4j
round trip).
"""

from __future__ import annotations

import os
from collections.abc import Callable
from functools import cached_property
from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType
from pyspark.sql.window import Window

from map_reduce_spark.sources import lakecommit

# how many file-granularity rows a control-plane collect may return
# before it refuses (a rewrite touching this many files at once is a
# full-table rewrite — use overwrite mode, which never lists rows)
CONTROL_PLANE_MAX = 100_000
# merge keys a candidate plan carries as an exact IN-list; past it, bounds
MERGE_INLIST_MAX = 10_000


def strip_scheme(col):
    # _metadata.file_path arrives as a file:-scheme URI from the scan
    return F.regexp_replace(col, "^file:(//)?", "")


def control_plane_rows(df: DataFrame, what: str) -> list:
    """THE package's sanctioned driver materialization site: a
    transactional commit must hold its action set on the driver —
    delta-core's OptimisticTransaction does the identical collect.
    Callers pass only FILE-granularity frames (distinct file paths of a
    rewrite set) or single-row aggregates (key bounds); a guard refuses
    anything row-proportional."""
    rows = df.limit(CONTROL_PLANE_MAX + 1).collect()
    if len(rows) > CONTROL_PLANE_MAX:
        raise RuntimeError(
            f"control-plane frame for {what} exceeded {CONTROL_PLANE_MAX} "
            "rows — this is a full-table rewrite; use mode='overwrite'"
        )
    return rows


class KeyPlan:
    """A merge source's keys as a candidate-file filter, collected once
    and only as far as an adapter asks: ``bounds`` is one single-row
    aggregate; ``predicates`` is the exact key IN-list while it holds at
    most ``MERGE_INLIST_MAX`` keys (it prices like a pruning literal
    set, not data), else the bounds — a billion-key source never
    collects its key set."""

    def __init__(self, src: DataFrame, key: str) -> None:
        self.src, self.key = src, key

    @cached_property
    def bounds(self) -> tuple:
        agg = self.src.agg(F.min(self.key).alias("lo"), F.max(self.key).alias("hi"))
        b = control_plane_rows(agg, "merge key bounds")[0]
        return b.lo, b.hi

    @cached_property
    def predicates(self) -> list[tuple] | None:
        """``[(column, op, literal)]`` conjuncts, or None for no key."""
        rows = control_plane_rows(
            self.src.select(F.col(self.key).alias("k")).distinct().limit(MERGE_INLIST_MAX + 1),
            "merge key set (bounded)",
        )
        if len(rows) > MERGE_INLIST_MAX:
            lo, hi = self.bounds
            return None if lo is None else [(self.key, ">=", lo), (self.key, "<=", hi)]
        keys = tuple(sorted(r.k for r in rows if r.k is not None))
        return [(self.key, "in", keys)] if keys else None


class View(NamedTuple):
    """One attempt's view of a table, pinned to the snapshot it planned
    on."""

    label: str  # "<public function> on <table>", for log lines and errors
    current: int  # the version / snapshot id a no-op returns
    schema: StructType  # logical columns
    files: list[str]  # live data files, absolute local paths
    scan: Callable[[list[str]], DataFrame]
    candidates: Callable[[KeyPlan], list[str]]
    # (victim files, rewrite rows, change rows) -> new id or LOST
    publish: Callable[[list[str], DataFrame, Callable[[], DataFrame]], object]


def _retry(view: View, open_view: Callable[[str], View], op: str, body) -> int:
    """``body(view)`` under the shared retry loop; the first attempt
    plans on ``view``, every replan on a fresh ``open_view(op)``.
    ``lakecommit.retry_commit`` is looked up per call (tests patch it
    there)."""
    pending = [view]

    def attempt():
        return body(pending.pop() if pending else open_view(op))

    return lakecommit.retry_commit(view.label, attempt)


def _changes(df: DataFrame, kind: str) -> DataFrame:
    return df.withColumn("_change_type", F.lit(kind))


def _victims(v: View, pred) -> list[str]:
    """Live files holding at least one predicate-TRUE row."""
    if not v.files:
        return []
    hits = (
        v.scan(v.files)
        .filter(pred)
        .select(strip_scheme(F.col("_metadata.file_path")).alias("fp"))
        .distinct()
    )
    return sorted({os.path.abspath(r.fp) for r in control_plane_rows(hits, "rewrite set")})


def delete(open_view: Callable[[str], View], predicate) -> int:
    """DELETE the predicate-TRUE rows; returns the committed id, or the
    current one when nothing matches (no commit)."""
    pred = F.coalesce(predicate, F.lit(False))

    def body(v: View):
        victims = _victims(v, pred)
        if not victims:
            return v.current
        rows = v.scan(victims)
        return v.publish(
            victims, rows.filter(~pred), lambda: _changes(rows.filter(pred), "delete")
        )

    return _retry(open_view("delete"), open_view, "delete", body)


def update(open_view: Callable[[str], View], predicate, set_exprs: dict) -> int:
    """UPDATE: ``set_exprs`` (column -> Column) applies to the
    predicate-TRUE rows of the victim files, every other row is carried
    unchanged; returns the committed id, or the current one when
    nothing matches (no commit)."""
    pred = F.coalesce(predicate, F.lit(False))

    def body(v: View):
        cols = v.schema.fieldNames()
        unknown = set(set_exprs) - set(cols)
        if unknown:
            raise KeyError(f"{v.label}: unknown columns {sorted(unknown)}")
        victims = _victims(v, pred)
        if not victims:
            return v.current
        rows = v.scan(victims)
        out = rows.select(
            *[
                F.when(pred, set_exprs[c]).otherwise(F.col(c)).alias(c)
                if c in set_exprs
                else F.col(c)
                for c in cols
            ]
        )

        def changes():
            matched = rows.filter(pred)
            post = matched.select(
                *[set_exprs[c].alias(c) if c in set_exprs else F.col(c) for c in cols]
            )
            return _changes(matched, "update_preimage").unionByName(
                _changes(post, "update_postimage")
            )

        return v.publish(victims, out, changes)

    return _retry(open_view("update"), open_view, "update", body)


def merge(open_view: Callable[[str], View], source: DataFrame, key: str) -> int:
    """MERGE (upsert) ``source`` into the table on ``key``; returns the
    committed id.

    The source must match the table schema exactly (a widened column
    would rewrite files the table schema can no longer read) and be
    key-unique (the SQL MERGE precondition) — enforced by weaving
    ``assert_true`` into the key expression itself (an unreferenced
    guard column would be pruned by Catalyst), so a bad source fails
    loudly, not by row multiplication. The guard's window shuffles only
    the batch-sized source."""
    view = open_view("merge")
    want = {f.name: f.dataType.simpleString() for f in view.schema.fields}
    got = dict(source.dtypes)
    if got != want:
        raise TypeError(
            "merge source schema must match the table exactly (a widened "
            "column would silently rewrite files the table schema can no "
            f"longer read): table {want}, source {got}"
        )
    guarded_key = F.when(
        F.count("*").over(Window.partitionBy(key)) > 1,
        F.assert_true(F.lit(False), F.lit("merge source has duplicate keys")).cast(got[key]),
    ).otherwise(F.col(key))
    # persist the guarded batch: it feeds the key plan, the rewrite
    # join, the insert anti-join and (with a change feed) the change
    # rows — without the barrier the source subtree (scan + dup-guard
    # window) re-executes once per consumer (NOTES rule 11). Batch-
    # sized at any table scale; released after the commit, which is
    # the materialization point.
    src = source.withColumn(key, guarded_key).persist()
    keys = KeyPlan(src, key)

    def body(v: View):
        cols = v.schema.fieldNames()
        cand = v.candidates(keys)
        if not cand:  # no file can hold a match: pure insert
            out = src.select(*cols)
            return v.publish([], out, lambda: _changes(out, "insert"))
        s = src.select(*[F.col(c).alias(f"__s_{c}") for c in cols])
        source_cols = [F.col(f"__s_{c}").alias(c) for c in cols]
        rows = v.scan(cand)
        joined = rows.join(s, rows[key] == s[f"__s_{key}"], "left")
        hit = F.col(f"__s_{key}").isNotNull()
        rewritten = joined.select(
            *[F.when(hit, F.col(f"__s_{c}")).otherwise(F.col(c)).alias(c) for c in cols]
        )
        inserts = s.join(
            rows.select(F.col(key).alias("__t_k")), s[f"__s_{key}"] == F.col("__t_k"), "left_anti"
        ).select(*source_cols)

        def changes():
            matched = joined.filter(hit)
            return (
                _changes(matched.select(*cols), "update_preimage")
                .unionByName(_changes(matched.select(*source_cols), "update_postimage"))
                .unionByName(_changes(inserts, "insert"))
            )

        return v.publish(cand, rewritten.unionByName(inserts), changes)

    try:
        return _retry(view, open_view, "merge", body)
    finally:
        src.unpersist(blocking=True)
