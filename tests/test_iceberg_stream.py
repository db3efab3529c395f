"""Iceberg exactly-once streaming sink: post-commit replay dedup, the
racing-incarnation window, ledger independence per appId, and
checkpoint-restart through the real foreachBatch path."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

import map_reduce_spark.sources.iceberg_py as I


def _batch(spark, lo, n):
    return spark.range(lo, lo + n).select(
        F.col("id"), (F.col("id") * 10).alias("v")
    )


def test_replayed_epoch_skips_without_duplicating(spark, tmp_path):
    tbl = str(tmp_path / "t")
    assert I.append_iceberg_stream_batch(_batch(spark, 0, 5), tbl, "app", 0) == 1
    assert I.append_iceberg_stream_batch(_batch(spark, 5, 5), tbl, "app", 1) == 2
    # crash-replay of epoch 1: skipped, nothing staged survives
    files_before = sorted(os.listdir(os.path.join(tbl, "data")))
    assert I.append_iceberg_stream_batch(_batch(spark, 5, 5), tbl, "app", 1) is None
    assert sorted(os.listdir(os.path.join(tbl, "data"))) == files_before
    got = I.read_iceberg_py(spark, tbl)
    assert got.count() == 10
    assert got.agg(F.sum("v")).first()[0] == sum(i * 10 for i in range(10))


def test_racing_incarnation_orphans_inside_loop(spark, tmp_path):
    """An old incarnation that passed the pre-check but lost the
    commit race to its successor's SAME epoch must orphan its staged
    files inside the loop, not double-land the batch."""
    tbl = str(tmp_path / "t")
    I.append_iceberg_stream_batch(_batch(spark, 0, 4), tbl, "app", 0)
    # simulate: stage files as the old incarnation would, then let the
    # new incarnation commit epoch 1, then drive the old one's commit
    descs = I._stage_parquet_files(_batch(spark, 4, 4), tbl, "s")
    for d in descs:
        d["content"] = 0
    I.append_iceberg_stream_batch(_batch(spark, 4, 4), tbl, "app", 1)  # winner
    out = I._commit_snapshot(
        tbl, descs, manifest_content=0, operation="append",
        dtypes=_batch(spark, 0, 1).dtypes, txn=("app", 1),
    )
    assert out is None
    for d in descs:  # loser's files orphaned
        assert not os.path.exists(d["file_path"])
    assert I.read_iceberg_py(spark, tbl).count() == 8


def test_ledgers_are_per_app(spark, tmp_path):
    tbl = str(tmp_path / "t")
    assert I.append_iceberg_stream_batch(_batch(spark, 0, 3), tbl, "a", 5) is not None
    # a different appId at a lower epoch is NOT a replay
    assert I.append_iceberg_stream_batch(_batch(spark, 3, 3), tbl, "b", 0) is not None
    assert I._txn_ledger(I.load_table_metadata(tbl), "a") == 5
    assert I._txn_ledger(I.load_table_metadata(tbl), "b") == 0
    assert I.read_iceberg_py(spark, tbl).count() == 6


def test_stream_restart_replays_clean(spark, tmp_path, sf_dir):
    """Run the real foreachBatch drain twice over the same source and
    checkpoint: the second run has nothing new and must not re-land
    rows (checkpoint handles offsets; the ledger guards the torn
    last batch)."""
    from map_reduce_spark.streaming.jobs import stream_events

    tbl = str(tmp_path / "t")
    chk = str(tmp_path / "chk")
    src = stream_events(spark, sf_dir).select("event_id", "event_type")
    I.write_stream_iceberg(src, tbl, app_id="app", checkpoint_dir=chk)
    n1 = I.read_iceberg_py(spark, tbl).count()
    assert n1 > 0
    src2 = stream_events(spark, sf_dir).select("event_id", "event_type")
    I.write_stream_iceberg(src2, tbl, app_id="app", checkpoint_dir=chk)
    assert I.read_iceberg_py(spark, tbl).count() == n1
    # and row identity, not just count: ids are unique
    assert (
        I.read_iceberg_py(spark, tbl).select("event_id").distinct().count() == n1
    )


def _drain(spark, table, out_dir, chk, expect):
    import time

    import map_reduce_spark.sources.iceberg_py as II

    def sink(df, epoch_id):
        df.write.mode("append").parquet(out_dir)

    q = (
        II.stream_iceberg_appends(spark, table)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", chk)
        .outputMode("append")
        .start()
    )
    try:
        deadline = time.time() + 120
        while True:
            if q.exception() is not None:
                raise q.exception()
            try:
                n = spark.read.parquet(out_dir).count()
            except Exception:
                n = 0
            if n >= expect:
                return
            if time.time() > deadline:
                raise RuntimeError("stream source stalled")
            time.sleep(0.2)
    finally:
        q.stop()
        q.awaitTermination(30)


def test_source_checkpoint_restart_no_duplicates(spark, tmp_path):
    """Restarting the source on the SAME checkpoint after a new append
    delivers exactly the new snapshot's rows — never a replayed old
    one."""
    tbl = str(tmp_path / "t")
    out = str(tmp_path / "out")
    chk = str(tmp_path / "chk")
    d = _batch(spark, 0, 30)
    I.append_iceberg_snapshot(d.filter("id < 10"), tbl)
    I.append_iceberg_snapshot(d.filter("id >= 10 and id < 20"), tbl)
    _drain(spark, tbl, out, chk, 20)
    I.append_iceberg_snapshot(d.filter("id >= 20"), tbl)
    _drain(spark, tbl, out, chk, 30)
    got = spark.read.parquet(out)
    assert got.count() == 30
    assert got.select("id").distinct().count() == 30  # no duplicates
    want = I.read_iceberg_py(spark, tbl)
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_source_refuses_delete_ranges(spark, tmp_path):
    """A snapshot range containing delete files must surface a loud
    error through the stream, not a silently-wrong increment."""
    from pyspark.sql import functions as FF

    tbl = str(tmp_path / "t")
    I.append_iceberg_snapshot(_batch(spark, 0, 20), tbl)
    I.commit_positional_deletes(spark, tbl, FF.col("id") < 3)
    import time

    q = (
        I.stream_iceberg_appends(spark, tbl)
        .writeStream.format("memory")
        .queryName("ice_refuse")
        .outputMode("append")
        .start()
    )
    try:
        deadline = time.time() + 60
        while q.exception() is None and time.time() < deadline:
            time.sleep(0.2)
        exc = q.exception()
        assert exc is not None and "delete" in str(exc).lower()
    finally:
        q.stop()


def test_source_replay_survives_compaction(spark, tmp_path):
    """A checkpoint replay of an old offset range must plan the SAME
    files forever, even after a compaction rewrote the live set (the
    planner reads the END-offset snapshot's immutable manifest list);
    a range CONTAINING the compaction snapshot is refused (rewritten
    rows would duplicate); an EXPIRED end offset refuses with a
    reset-the-checkpoint message."""
    import pytest as _pt

    tbl = str(tmp_path / "t")
    d = _batch(spark, 0, 30)
    I.append_iceberg_snapshot(d.filter("id < 10"), tbl)                # snap 1
    I.append_iceberg_snapshot(d.filter("id >= 10 and id < 20"), tbl)  # snap 2
    plan = I.make_appends_planner(os.path.abspath(tbl))
    snap2_files = sorted(plan(1, 2))
    assert snap2_files
    # an expired/unknown end offset refuses rather than guessing
    with _pt.raises(ValueError, match="reset the checkpoint"):
        plan(0, 99)
    I.compact_iceberg_files(spark, tbl, out_files=1)                  # snap 3
    # replaying (1, 2] after the compaction still plans snap 2's files
    assert sorted(plan(1, 2)) == snap2_files
    # a live range containing the replace snapshot is refused
    with _pt.raises(ValueError, match="append-only feed refuses"):
        plan(2, 3)


def test_source_refuses_offsets_in_rolled_back_range(spark, tmp_path):
    """rollback_iceberg logs (target, abandoned head); any stream
    offset inside the abandoned id range must refuse loudly — the
    consumer emitted rows the table no longer holds, and a later
    re-append would otherwise double-deliver relative to table state.
    Offsets at or below the rollback target keep working."""
    import pytest as _pt

    tbl = str(tmp_path / "t")
    d = _batch(spark, 0, 30)
    I.append_iceberg_snapshot(d.filter("id < 10"), tbl)               # snap 1
    I.append_iceberg_snapshot(d.filter("id >= 10 and id < 20"), tbl)  # snap 2
    plan = I.make_appends_planner(os.path.abspath(tbl))
    assert plan(1, 2)  # consumable before the rollback
    I.rollback_iceberg(tbl, 1)                                        # drop snap 2
    I.append_iceberg_snapshot(d.filter("id >= 20"), tbl)              # new head
    meta = I.load_table_metadata(tbl)
    head = meta["current-snapshot-id"]
    assert head > 2  # ids never reused
    # committed offset inside the abandoned range -> reset the checkpoint
    with _pt.raises(ValueError, match="rolled back"):
        plan(2, head)
    # a stale pending end offset inside the abandoned range also refuses
    with _pt.raises(ValueError, match="rolled back"):
        plan(1, 2)
    # a consumer at/below the target keeps reading lineage-only files
    files = plan(1, head)
    assert files
    import pyarrow.parquet as _pq

    got = sorted(
        v for f in files for v in _pq.read_table(f).column("id").to_pylist()
    )
    assert got == list(range(20, 30))  # snap 2's rows are NOT re-emitted


def test_change_planners_run_without_the_package(spark, tmp_path):
    """NOTES rule 39: both change-range planners are closures that
    pickle BY VALUE — unpickled in a fresh interpreter whose cwd is the
    temp dir and whose sys.path lacks the repo, each plans a two-commit
    range of a table without importing ``map_reduce_spark``."""
    import json
    import subprocess
    import sys
    import tempfile

    from pyspark import cloudpickle

    import map_reduce_spark.sources.delta_py as D

    dtbl, itbl = str(tmp_path / "d"), str(tmp_path / "i")
    d = _batch(spark, 0, 20)
    D.write_delta_py(d.filter("id < 10"), dtbl, mode="overwrite")  # v0
    D.write_delta_py(d.filter("id >= 10"), dtbl)  # v1
    I.append_iceberg_snapshot(d.filter("id < 10"), itbl)  # snap 1
    I.append_iceberg_snapshot(d.filter("id >= 10"), itbl)  # snap 2
    calls = [
        (D.make_change_planner(os.path.abspath(dtbl)), -1, 1),
        (I.make_appends_planner(os.path.abspath(itbl)), 0, 2),
    ]
    child = (
        "import importlib.util, json, sys\n"
        "from pyspark import cloudpickle\n"
        "assert importlib.util.find_spec('map_reduce_spark') is None\n"
        "out = []\n"
        "for plan, lo, hi in cloudpickle.loads(sys.stdin.buffer.read()):\n"
        "    out.append([repr(plan(lo, hi)), plan.latest()])\n"
        "print(json.dumps(out))\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    res = subprocess.run(
        [sys.executable, "-c", child],
        input=cloudpickle.dumps(calls),
        capture_output=True,
        cwd=tempfile.gettempdir(),
        env=env,
        timeout=120,
    )
    assert res.returncode == 0, res.stderr.decode()
    got = json.loads(res.stdout)
    assert got == [[repr(p(lo, hi)), p.latest()] for p, lo, hi in calls]
    (dfiles, _), ifiles = calls[0][0](-1, 1), calls[1][0](0, 2)
    assert {v for v, _, _ in dfiles} == {0, 1} and got[0][1] == 1
    assert len(ifiles) >= 2 and got[1][1] == 2
