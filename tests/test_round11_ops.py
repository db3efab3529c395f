"""Round-11 hardening: CDF completeness for the writers that used to
skip it (DV deletes, RESTORE), the column-mapping CDF read path, and
the flattened O(1)-in-commits CDF planner."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import map_reduce_spark.sources.delta_py as D


def _rows(spark, ids):
    return spark.createDataFrame([(i, i * 7) for i in sorted(ids)], "id long, v long")


def _feed(spark, tbl, since=-1, to=None):
    return {
        (r["_commit_version"], r["_change_type"], r["id"], r["v"])
        for r in D.read_delta_changes_cdf(spark, tbl, since, to).collect()
    }


def test_dv_delete_emits_cdc_when_cdf_enabled(spark, tmp_path):
    """A deletion-vector DELETE on a CDF-enabled table must stage cdc
    files (ADVICE r10): the feed shows exactly the newly-deleted rows,
    and a second stacking delete emits ONLY its own rows (the DV
    anti-join keeps already-deleted rows out of the change set)."""
    tbl = str(tmp_path / "t")
    D.write_delta_py(_rows(spark, range(10)), tbl, mode="overwrite")  # v0
    D.set_delta_table_property(tbl, "delta.enableChangeDataFeed", "true")  # v1
    v2 = D.delete_where_dv(spark, tbl, F.col("id") < 3)
    assert v2 == 2
    assert _feed(spark, tbl, since=1) == {
        (2, "delete", i, i * 7) for i in range(3)
    }
    v3 = D.delete_where_dv(spark, tbl, F.col("id") < 5)  # stacks on v2's DVs
    assert _feed(spark, tbl, since=2) == {
        (3, "delete", i, i * 7) for i in (3, 4)
    }
    assert v3 == 3
    # the surviving table agrees with the folded feed
    assert {r.id for r in D.read_delta_py(spark, tbl).collect()} == set(range(5, 10))


def test_cdf_on_column_mapped_table_projects_physical(spark, tmp_path):
    """CDF over a column-mapping table: the append leg (v0 CREATE's
    adds) must scan under PHYSICAL names and project back — the
    pre-fix logical-schema scan returned every mapped column NULL
    (ADVICE r10) — and a DV delete's cdc files round-trip through the
    same mapping."""
    tbl = str(tmp_path / "t")
    D.write_mapped_table(_rows(spark, range(8)), tbl, stats_cols=("id",))  # v0
    D.set_delta_table_property(tbl, "delta.enableChangeDataFeed", "true")  # v1
    D.delete_where_dv(spark, tbl, F.col("id") >= 6)  # v2, cdc under physical names
    feed = _feed(spark, tbl, since=-1)
    assert feed == {(0, "insert", i, i * 7) for i in range(8)} | {
        (2, "delete", i, i * 7) for i in (6, 7)
    }
    # logical column names on the way out
    cols = D.read_delta_changes_cdf(spark, tbl, -1).columns
    assert cols == ["id", "v", "_change_type", "_commit_version"]


def test_restore_emits_cdc_when_cdf_enabled(spark, tmp_path):
    """RESTORE on a CDF-enabled table stages row-level cdc (dropped
    files' rows as deletes, re-added files' rows as inserts) instead
    of silently committing a rewrite the feed then refuses
    (ADVICE r10)."""
    tbl = str(tmp_path / "t")
    D.write_delta_py(_rows(spark, range(4)), tbl, mode="overwrite")  # v0
    D.set_delta_table_property(tbl, "delta.enableChangeDataFeed", "true")  # v1
    D.write_delta_py(_rows(spark, range(4, 7)), tbl)  # v2 append
    v3 = D.restore_table(spark, tbl, 1)  # drops v2's files
    assert v3 == 3
    assert _feed(spark, tbl, since=2) == {
        (3, "delete", i, i * 7) for i in (4, 5, 6)
    }
    v4 = D.restore_table(spark, tbl, 2)  # re-adds them
    assert _feed(spark, tbl, since=3, to=v4) == {
        (4, "insert", i, i * 7) for i in (4, 5, 6)
    }
    # the whole feed still folds to the final state
    state: dict[int, int] = {}
    for cv, ct, rid, rv in sorted(_feed(spark, tbl)):
        if ct == "delete":
            assert state.pop(rid) == rv
        else:
            state[rid] = rv
    assert state == {r.id: r.v for r in D.read_delta_py(spark, tbl).collect()}


def test_restore_cdf_across_metadata_change_refuses(spark, tmp_path):
    """Restoring across a schema change with CDF enabled cannot render
    change rows under one schema — must refuse loudly, not commit a
    feed-breaking rewrite."""
    tbl = str(tmp_path / "t")
    D.write_delta_py(_rows(spark, range(3)), tbl, mode="overwrite")  # v0
    D.set_delta_table_property(tbl, "delta.enableChangeDataFeed", "true")  # v1
    wider = _rows(spark, range(3, 5)).withColumn("w", F.col("id") * 2)
    D.write_delta_py(wider, tbl, mode="overwrite")  # v2: schema change
    with pytest.raises(NotImplementedError, match="metadata change"):
        D.restore_table(spark, tbl, 1)


def test_cdf_many_commits_plans_two_scans(spark, tmp_path):
    """The flattened CDF reader (VERDICT r10 item 2): a long catch-up
    range plans ONE multi-file scan per leg (cdc + appends) with a
    broadcast file->version join — never a union leg per commit. 30
    commits must show exactly 2 parquet scans and constant-depth
    plans; per-commit attribution must still be exact."""
    tbl = str(tmp_path / "t")
    D.write_delta_py(_rows(spark, [0]), tbl, mode="overwrite")  # v0
    D.set_delta_table_property(tbl, "delta.enableChangeDataFeed", "true")  # v1
    n = 30
    for i in range(1, n + 1):
        D.write_delta_py(_rows(spark, [i]), tbl, checkpoint_interval=0)
    D.delete_where(spark, tbl, F.col("id") == 1)  # one cdc commit on top
    df = D.read_delta_changes_cdf(spark, tbl, since_version=1)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 2, plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    got = {
        (r["_commit_version"], r["_change_type"], r["id"]) for r in df.collect()
    }
    want = {(i + 1, "insert", i) for i in range(1, n + 1)}
    want.add((n + 2, "delete", 1))
    assert got == want


def _ice_ids(tbl):
    import map_reduce_spark.sources.iceberg_py as II

    meta = II.load_table_metadata(tbl)
    return [
        s["snapshot-id"]
        for s in sorted(
            meta.get("snapshots") or [], key=lambda s: s.get("sequence-number", 0)
        )
    ]


def test_changelog_over_rollback_skips_abandoned_lineage(spark, tmp_path):
    """A rolled-back-then-reappended history must net NO phantom
    changes against the abandoned head (ADVICE r10): the changelog
    diffs along the surviving chain only, and a range endpoint inside
    the abandoned interval refuses loudly."""
    import map_reduce_spark.sources.iceberg_py as II

    tbl = str(tmp_path / "t")
    II.append_iceberg_snapshot(_rows(spark, range(5)), tbl)
    II.append_iceberg_snapshot(_rows(spark, range(5, 9)), tbl)  # the bad write
    good, bad = _ice_ids(tbl)
    II.rollback_iceberg(tbl, good)
    II.append_iceberg_snapshot(_rows(spark, range(20, 23)), tbl)
    head = _ice_ids(tbl)[-1]
    feed = II.read_iceberg_changelog(spark, tbl, from_snapshot=0)
    rows = [
        (r["_change_type"], r["id"], r["_change_ordinal"]) for r in feed.collect()
    ]
    assert all(t == "INSERT" for t, _, _ in rows)  # no phantom DELETEs
    assert {(i, o) for _, i, o in rows} == {(i, 0) for i in range(5)} | {
        (i, 1) for i in (20, 21, 22)
    }
    assert head != bad
    with pytest.raises(ValueError, match="rolled-back"):
        II.read_iceberg_changelog(spark, tbl, from_snapshot=0, to_snapshot=bad)
    with pytest.raises(ValueError, match="rolled-back"):
        II.read_iceberg_changelog(spark, tbl, from_snapshot=bad)


def test_changelog_many_appends_plans_single_scan(spark, tmp_path):
    """The flattened changelog (VERDICT r10 item 2): a catch-up over a
    long run of appends plans ONE multi-file scan with a broadcast
    file->commit join — never a union leg per snapshot — and per-commit
    ordinal/snapshot attribution stays exact."""
    import map_reduce_spark.sources.iceberg_py as II

    tbl = str(tmp_path / "t")
    n = 25
    for i in range(n):
        II.append_iceberg_snapshot(_rows(spark, [i]), tbl)
    sids = _ice_ids(tbl)
    df = II.read_iceberg_changelog(spark, tbl, from_snapshot=0)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1, plan
    assert "BroadcastHashJoin" in plan
    got = {
        (r["id"], r["_change_ordinal"], r["_commit_snapshot_id"])
        for r in df.collect()
    }
    assert got == {(i, i, sids[i]) for i in range(n)}


def test_checkpoint_policy_v2_routes_auto_checkpoints(spark, tmp_path):
    """After enable_v2_checkpoints, _maybe_checkpoint must emit the
    uuid-manifest + sidecar layout (VERDICT r10 item 3) — and the
    table must read back identically from the checkpoint-only log
    after pre-checkpoint commits expire. Classic tables keep emitting
    classic checkpoints."""
    import os
    import re

    tbl = str(tmp_path / "t")
    D.write_delta_py(_rows(spark, range(6)), tbl, mode="overwrite",
                     checkpoint_interval=0)  # v0
    D.enable_v2_checkpoints(tbl)  # v1
    D.write_delta_py(_rows(spark, range(6, 9)), tbl, checkpoint_interval=2)  # v2
    log_d = os.path.join(tbl, "_delta_log")
    names = os.listdir(log_d)
    v2re = re.compile(r"^0*2\.checkpoint\.[0-9a-f-]{36}\.parquet$")
    assert any(v2re.match(n) for n in names), names
    assert not any(n.endswith(".checkpoint.parquet") for n in names), names
    assert os.path.isdir(os.path.join(log_d, "_sidecars"))
    # protocol declares the feature
    snap = D.snapshot(tbl)
    assert "v2Checkpoint" in (snap.protocol.get("readerFeatures") or [])
    # expire everything at/below the checkpoint; the read must seed
    # from the self-written manifest
    for n in os.listdir(log_d):
        if n.endswith(".json") and n[:20].isdigit() and int(n[:20]) <= 2:
            os.remove(os.path.join(log_d, n))
    D.write_delta_py(_rows(spark, [100]), tbl, checkpoint_interval=0)  # v3
    got = {r.id for r in D.read_delta_py(spark, tbl).collect()}
    assert got == set(range(9)) | {100}
    # a table WITHOUT the policy still cuts classic checkpoints
    tbl2 = str(tmp_path / "t2")
    D.write_delta_py(_rows(spark, [0]), tbl2, mode="overwrite",
                     checkpoint_interval=0)
    D.write_delta_py(_rows(spark, [1]), tbl2, checkpoint_interval=1)
    assert any(
        n.endswith(".checkpoint.parquet")
        for n in os.listdir(os.path.join(tbl2, "_delta_log"))
    )


def test_append_to_mapped_table_stages_physical_names(spark, tmp_path):
    """write_delta_py appending to a column-mapping table must stage
    PHYSICAL column names — a logical-named file reads back all-NULL
    under the physical scan — and overwrite must refuse rather than
    re-commit unmapped metaData."""
    tbl = str(tmp_path / "t")
    D.write_mapped_table(_rows(spark, range(4)), tbl, stats_cols=("id",))
    D.write_delta_py(_rows(spark, range(4, 6)), tbl)  # v1 append
    got = {(r.id, r.v) for r in D.read_delta_py(spark, tbl).collect()}
    assert got == {(i, i * 7) for i in range(6)}  # no NULLs, all rows
    with pytest.raises(NotImplementedError, match="column-mapping"):
        D.write_delta_py(_rows(spark, [9]), tbl, mode="overwrite")
    # the CDF insert leg renders the append under logical names too
    D.set_delta_table_property(tbl, "delta.enableChangeDataFeed", "true")
    D.write_delta_py(_rows(spark, [10]), tbl)  # v3
    assert _feed(spark, tbl, since=2) == {(3, "insert", 10, 70)}


def test_clean_delta_log_retention(spark, tmp_path):
    """clean_delta_log expires json commits and superseded checkpoints
    below the newest checkpoint, keeps the retain_last tail (CDF stays
    servable over it), and is a no-op on a checkpoint-less log."""
    import os

    tbl = str(tmp_path / "t")
    D.write_delta_py(_rows(spark, range(4)), tbl, mode="overwrite",
                     checkpoint_interval=0)  # v0
    # checkpoint-less: nothing to do
    assert D.clean_delta_log(tbl) == {
        "boundary": None, "json_removed": 0,
        "checkpoints_removed": 0, "sidecars_removed": 0,
    }
    D.set_delta_table_property(tbl, "delta.enableChangeDataFeed", "true")  # v1
    D.write_delta_py(_rows(spark, [10]), tbl, checkpoint_interval=2)  # v2 +ckpt
    D.write_delta_py(_rows(spark, [11]), tbl, checkpoint_interval=0)  # v3
    D.write_delta_py(_rows(spark, [12]), tbl, checkpoint_interval=4)  # v4 +ckpt
    stats = D.clean_delta_log(tbl, retain_last=1)
    assert stats["boundary"] == 4
    assert stats["json_removed"] == 4          # v0..v3 (floor = 3)
    assert stats["checkpoints_removed"] == 1   # the superseded v2 ckpt
    log_d = os.path.join(tbl, "_delta_log")
    assert not os.path.exists(os.path.join(log_d, f"{3:020d}.json"))
    assert os.path.exists(os.path.join(log_d, f"{4:020d}.json"))
    # current state reads from the surviving seed
    got = {r.id for r in D.read_delta_py(spark, tbl).collect()}
    assert got == set(range(4)) | {10, 11, 12}
    # the retained tail still serves CDF (range is (since, to])
    assert _feed(spark, tbl, since=3) == {(4, "insert", 12, 84)}
    # time travel below the seed is gone, loudly
    with pytest.raises((ValueError, FileNotFoundError)):
        D.snapshot(tbl, 1)


def test_clean_delta_log_sweeps_superseded_v2_sidecars(spark, tmp_path):
    """Two successive v2 checkpoints: cleanup removes the superseded
    manifest and (once aged past the stage window) its now-unreferenced
    sidecars, while every sidecar of the surviving manifest stays."""
    import os

    tbl = str(tmp_path / "t")
    D.write_delta_py(_rows(spark, range(3)), tbl, mode="overwrite",
                     checkpoint_interval=0)  # v0
    D.enable_v2_checkpoints(tbl)  # v1
    D.write_delta_py(_rows(spark, [5]), tbl, checkpoint_interval=2)  # v2 +v2ckpt
    sc_dir = os.path.join(tbl, "_delta_log", "_sidecars")
    old_sidecars = set(os.listdir(sc_dir))
    assert old_sidecars
    D.write_delta_py(_rows(spark, [6]), tbl, checkpoint_interval=3)  # v3 +v2ckpt
    # age everything: a racing checkpoint writer's fresh sidecars are
    # protected by mtime, so the test backdates to simulate quiescence
    for f in os.listdir(sc_dir):
        os.utime(os.path.join(sc_dir, f), (1, 1))
    stats = D.clean_delta_log(tbl)
    assert stats["boundary"] == 3
    assert stats["checkpoints_removed"] == 1  # the v2 manifest at v2
    assert stats["sidecars_removed"] == len(old_sidecars)
    survivors = set(os.listdir(sc_dir))
    assert survivors and not (survivors & old_sidecars)
    got = {r.id for r in D.read_delta_py(spark, tbl).collect()}
    assert got == {0, 1, 2, 5, 6}


def test_clean_delta_log_removes_expired_cdc_files(spark, tmp_path):
    """cdc files named only by expired commits go with them: no reader
    reaches them any more, and a later vacuum must find nothing to
    sweep on the cleaned table."""
    import os

    tbl = str(tmp_path / "t")
    D.write_delta_py(_rows(spark, range(4)), tbl, mode="overwrite",
                     checkpoint_interval=0)  # v0
    D.set_delta_table_property(tbl, "delta.enableChangeDataFeed", "true")  # v1
    D.delete_where(spark, tbl, F.col("id") == 1, checkpoint_interval=0)  # v2 +cdc
    cdc_dir = os.path.join(tbl, "_change_data")
    assert os.listdir(cdc_dir)
    D.write_delta_py(_rows(spark, [9]), tbl, checkpoint_interval=1)  # v3 +ckpt
    D.clean_delta_log(tbl, retain_last=0)  # expires json 0..3
    assert not [f for _, _, fs in os.walk(cdc_dir) for f in fs if f.endswith(".parquet")]
    assert D.vacuum_delta(tbl) == 0
    assert {r.id for r in D.read_delta_py(spark, tbl).collect()} == {0, 2, 3, 9}


def test_change_readers_refuse_expired_range(spark, tmp_path):
    """After clean_delta_log, a change range that dips below the
    retained tail must REFUSE (silently skipping expired commits would
    hand the consumer a hole in the feed); in-tail ranges still
    serve."""
    tbl = str(tmp_path / "t")
    D.write_delta_py(_rows(spark, [0]), tbl, mode="overwrite",
                     checkpoint_interval=0)  # v0
    D.set_delta_table_property(tbl, "delta.enableChangeDataFeed", "true")  # v1
    D.write_delta_py(_rows(spark, [1]), tbl, checkpoint_interval=0)  # v2
    D.write_delta_py(_rows(spark, [2]), tbl, checkpoint_interval=0)  # v3
    D.write_delta_py(_rows(spark, [3]), tbl, checkpoint_interval=4)  # v4 +ckpt
    stats = D.clean_delta_log(tbl, retain_last=1)
    assert stats["json_removed"] == 4  # v0..v3 expired
    with pytest.raises(RuntimeError, match="expired commits"):
        D.read_delta_changes(spark, tbl, since_version=0)
    with pytest.raises(RuntimeError, match="expired commits"):
        D.read_delta_changes_cdf(spark, tbl, since_version=0)
    # the retained tail still serves both feeds
    got = {r.id for r in D.read_delta_changes(spark, tbl, 3).collect()}
    assert got == {3}
    assert _feed(spark, tbl, since=3) == {(4, "insert", 3, 21)}


def test_cdf_stream_refuses_cleaned_history(spark, tmp_path):
    """A FRESH CDF stream on a log whose early commits were expired by
    clean_delta_log must fail loudly instead of silently serving only
    the retained tail as if it were the whole history."""
    import time

    tbl = str(tmp_path / "t")
    D.write_delta_py(_rows(spark, range(4)), tbl, mode="overwrite",
                     checkpoint_interval=0)  # v0
    D.set_delta_table_property(tbl, "delta.enableChangeDataFeed", "true")  # v1
    D.write_delta_py(_rows(spark, [10]), tbl, checkpoint_interval=2)  # v2 +ckpt
    D.clean_delta_log(tbl)  # expires json 0..2
    D.write_delta_py(_rows(spark, [11]), tbl, checkpoint_interval=0)  # v3
    out_dir = str(tmp_path / "out")
    q = (
        D.stream_delta_cdf(spark, tbl)
        .writeStream.foreachBatch(lambda df, eid: df.write.mode("append").parquet(out_dir))
        .option("checkpointLocation", str(tmp_path / "chk"))
        .outputMode("append")
        .start()
    )
    try:
        deadline = time.time() + 120
        while q.exception() is None:
            assert time.time() < deadline, "stream neither failed nor..."
            time.sleep(0.2)
        assert "expired commits" in str(q.exception())
    finally:
        q.stop()
        try:
            q.awaitTermination(30)
        except Exception:
            pass  # the failed query re-raises its own exception here


def test_vacuum_after_log_cleanup_keeps_checkpoint_referenced_files(
    spark, tmp_path
):
    """vacuum_delta must seed its reference set from surviving
    CHECKPOINTS too: after clean_delta_log the base data's adds exist
    only in the checkpoint, and the pre-fix json-only sweep deleted
    the table's live files. Genuine orphans (crashed stagings) still
    go, and a DV carried through the checkpoint stays resolvable."""
    import os

    tbl = str(tmp_path / "t")
    D.write_delta_py(_rows(spark, range(6)), tbl, mode="overwrite",
                     checkpoint_interval=0)  # v0
    D.delete_where_dv(spark, tbl, F.col("id") < 2)  # v1: DV on a v0 file
    D.write_delta_py(_rows(spark, [10]), tbl, checkpoint_interval=2)  # v2 +ckpt
    D.clean_delta_log(tbl)  # expires json 0..2
    D.write_delta_py(_rows(spark, [11]), tbl, checkpoint_interval=0)  # v3
    # a genuine orphan: an unreferenced parquet dropped into the table
    orphan = os.path.join(tbl, "part-99999-orphan.parquet")
    import shutil as _sh
    src = next(
        os.path.join(tbl, f) for f in os.listdir(tbl) if f.endswith(".parquet")
    )
    _sh.copyfile(src, orphan)
    n = D.vacuum_delta(tbl)
    assert n == 1, "exactly the orphan goes"
    assert not os.path.exists(orphan)
    got = {r.id for r in D.read_delta_py(spark, tbl).collect()}
    assert got == set(range(2, 6)) | {10, 11}  # DV still applied, data intact
