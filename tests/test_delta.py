"""Delta Lake codec tests: transaction-log replay, time travel,
checkpoint seeding, the put-if-absent commit protocol under crashes
and races, selective DELETE/MERGE rewrites with log-level data
skipping, vacuum, partition pruning, and the capability-gate fallback
in ``io.read_delta``."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

import map_reduce_spark.sources.delta_py as D


@pytest.fixture()
def tbl(tmp_path):
    return str(tmp_path / "t")


def _mk(spark, n=300, parts=3):
    return (
        spark.range(n)
        .withColumn("y", (F.col("id") % 3).cast("string"))
        .withColumn("v", F.col("id") * 2)
        .repartitionByRange(parts, "id")
    )


def test_append_overwrite_roundtrip(spark, tbl):
    df = _mk(spark)
    assert D.write_delta_py(df, tbl, mode="overwrite", stats_cols=("id",)) == 0
    assert D.read_delta_py(spark, tbl).count() == 300
    extra = _mk(spark).withColumn("id", F.col("id") + 300).withColumn("v", F.col("id") * 2)
    assert D.write_delta_py(extra, tbl, mode="append", stats_cols=("id",)) == 1
    got = D.read_delta_py(spark, tbl)
    assert got.count() == 600
    assert got.agg(F.sum("v")).first()[0] == sum(2 * i for i in range(600))
    # overwrite replaces everything
    assert D.write_delta_py(_mk(spark, 10), tbl, mode="overwrite") == 2
    assert D.read_delta_py(spark, tbl).count() == 10


def test_time_travel_and_checkpoint_equivalence(spark, tbl):
    """Snapshots seeded from the parquet checkpoint must reconcile to
    the same state as pure JSON replay, and version pins must see
    exactly their history."""
    for i in range(5):  # v0..v4, checkpoints at v2 and v4
        D.write_delta_py(
            _mk(spark, 50).withColumn("id", F.col("id") + 50 * i),
            tbl,
            mode="append",
            stats_cols=("id",),
            checkpoint_interval=2,
        )
    js, cps = D._list_log(tbl)
    assert js == [0, 1, 2, 3, 4] and cps == [2, 4]
    for v in range(5):
        assert D.read_delta_py(spark, tbl, version=v).count() == 50 * (v + 1)
    # checkpoint-seeded vs JSON-only replay of the same version
    seeded = D.snapshot(tbl, 3)  # seeds from cp@2, replays v3
    os.remove(D._checkpoint_path(tbl, 2))
    pure = D.snapshot(tbl, 3)  # no usable checkpoint left below 3... cp@4 > 3
    assert seeded.adds.keys() == pure.adds.keys()
    assert seeded.metadata["schemaString"] == pure.metadata["schemaString"]


@pytest.mark.parametrize("writer", ["write_checkpoint", "write_checkpoint_v2"])
def test_checkpoint_durable_before_pointer(spark, tbl, monkeypatch, writer):
    """Every checkpoint file (and sidecar) and its directory are
    fsynced before ``_last_checkpoint`` is replaced — the pointer must
    never name bytes that did not reach disk."""
    D.write_delta_py(_mk(spark, 30), tbl, mode="overwrite", checkpoint_interval=0)
    events = []
    real_fsync, real_replace = os.fsync, os.replace

    def fsync(fd):
        st = os.fstat(fd)
        events.append(("fsync", (st.st_dev, st.st_ino)))
        return real_fsync(fd)

    def replace(src, dst):
        events.append(("replace", os.path.basename(dst)))
        return real_replace(src, dst)

    monkeypatch.setattr(os, "fsync", fsync)
    monkeypatch.setattr(os, "replace", replace)
    getattr(D, writer)(tbl, D.snapshot(tbl))
    monkeypatch.undo()
    log = os.path.join(tbl, "_delta_log")
    ckpts = [
        os.path.join(root, f)
        for root, _, fs in os.walk(log)
        for f in fs
        if f.endswith(".parquet")
    ]
    assert ckpts
    ptr = events.index(("replace", "_last_checkpoint"))
    synced = {key for kind, key in events[:ptr] if kind == "fsync"}
    for p in ckpts + [log]:
        st = os.stat(p)
        assert (st.st_dev, st.st_ino) in synced, p


def test_uncommitted_files_invisible(spark, tbl):
    """The crash window: data files that reached the table directory
    without their commit JSON must never be read."""
    D.write_delta_py(_mk(spark, 100), tbl, mode="overwrite")
    # simulate a crashed writer: staged AND moved parquet, no commit
    moved = D._stage_and_move(_mk(spark, 999), tbl, ())
    assert moved  # files are physically in the table dir
    assert D.read_delta_py(spark, tbl).count() == 100
    # a torn commit temp file is ignored by the log listing too
    with open(os.path.join(D._log_dir(tbl), ".00000000000000000001.json.tmp1"), "w") as fh:
        fh.write('{"add": {"pa')  # torn mid-write
    assert D.latest_version(tbl) == 0
    assert D.read_delta_py(spark, tbl).count() == 100
    # vacuum sweeps the orphaned data files, readers unaffected
    assert D.vacuum_delta(tbl) == len(moved)
    assert D.read_delta_py(spark, tbl).count() == 100


def test_put_if_absent_race(spark, tbl):
    D.write_delta_py(_mk(spark, 10), tbl, mode="overwrite")
    a1 = [{"commitInfo": {"operation": "NOOP"}}]
    assert D.try_commit(tbl, 1, a1) is True
    assert D.try_commit(tbl, 1, a1) is False  # version taken
    assert D.latest_version(tbl) == 1


def test_put_if_absent_reentrant_race(spark, tbl, monkeypatch):
    """Two writers of one process race for the same version: a second
    commit lands between the first one's fsync and its link. The first
    must report the lost race, not crash on a temp file it shared."""
    D.write_delta_py(_mk(spark, 10), tbl, mode="overwrite")
    real_link = os.link
    winner = [{"commitInfo": {"operation": "WINNER"}}]

    def link_once(src, dst):
        monkeypatch.setattr(os, "link", real_link)
        assert D.try_commit(tbl, 1, winner) is True
        return real_link(src, dst)

    monkeypatch.setattr(os, "link", link_once)
    assert D.try_commit(tbl, 1, [{"commitInfo": {"operation": "LOSER"}}]) is False
    assert D.latest_version(tbl) == 1
    assert D._read_commit(tbl, 1) == winner


def test_delete_rewrites_only_victims(spark, tbl):
    D.write_delta_py(_mk(spark, 300, parts=3), tbl, mode="overwrite", stats_cols=("id",))
    before = set(D.snapshot(tbl).adds)
    assert len(before) == 3
    # ids 0..99 live in one range-clustered file
    v = D.delete_where(spark, tbl, F.col("id") < 100, stats_cols=("id",))
    assert v == 1
    after = D.snapshot(tbl)
    # the two untouched files keep their identity (no gratuitous rewrite)
    survivors = before & set(after.adds)
    assert len(survivors) == 2
    assert D.read_delta_py(spark, tbl).count() == 200
    assert D.read_delta_py(spark, tbl).agg(F.min("id")).first()[0] == 100


def test_delete_retries_after_lost_race(spark, tbl, monkeypatch):
    """Deterministic lost race: the first commit attempt is beaten by a
    competing writer; delete must re-derive against the NEW snapshot
    and land on the next version."""
    D.write_delta_py(_mk(spark, 300, parts=3), tbl, mode="overwrite", stats_cols=("id",))
    real = D.try_commit
    state = {"raced": False}

    def racing(table, version, actions):
        if not state["raced"]:
            state["raced"] = True
            real(table, version, [{"commitInfo": {"operation": "COMPETITOR"}}])
        return real(table, version, actions)

    monkeypatch.setattr(D, "try_commit", racing)
    v = D.delete_where(spark, tbl, F.col("id") >= 250, stats_cols=("id",))
    assert state["raced"] and v == 2  # competitor took v1
    assert D.read_delta_py(spark, tbl).count() == 250


def test_merge_skips_files_and_upserts(spark, tbl):
    D.write_delta_py(_mk(spark, 400, parts=4), tbl, mode="overwrite", stats_cols=("id",))
    snap = D.snapshot(tbl)
    # source keys 350..420: updates in the top file, inserts beyond max
    src = (
        spark.range(350, 421)
        .withColumn("y", F.lit("zz"))
        .withColumn("v", F.lit(-5).cast("long"))
    )
    cand = D.skip_files(snap, "id", 350, 420)
    assert 0 < len(cand) < len(snap.adds)  # stats skipping engaged
    D.merge_upsert(spark, tbl, src, "id", stats_cols=("id",))
    after = D.snapshot(tbl)
    # non-candidate files untouched
    untouched = set(snap.adds) & set(after.adds)
    assert len(untouched) == len(snap.adds) - len(cand)
    got = D.read_delta_py(spark, tbl)
    assert got.count() == 421
    assert got.filter(F.col("v") == -5).count() == 71
    assert got.filter((F.col("id") == 10) & (F.col("v") == 20)).count() == 1


def test_merge_guards(spark, tbl):
    D.write_delta_py(_mk(spark, 50), tbl, mode="overwrite", stats_cols=("id",))
    # schema mismatch: widened column type must refuse loudly
    bad = spark.range(5).withColumn("y", F.lit("a")).withColumn("v", F.lit(1).cast("int"))
    with pytest.raises(TypeError, match="schema must match"):
        D.merge_upsert(spark, tbl, bad, "id")
    # duplicate source keys must fail, not multiply rows
    dup = (
        spark.range(2)
        .select(
            F.lit(7).cast("long").alias("id"),
            F.lit("a").alias("y"),
            F.lit(1).cast("long").alias("v"),
        )
    )
    with pytest.raises(Exception, match="duplicate keys"):
        D.merge_upsert(spark, tbl, dup, "id")
    assert D.read_delta_py(spark, tbl).count() == 50  # table unchanged


def test_protocol_gate(spark, tmp_path):
    # deletionVectors + columnMapping (r9) + v2Checkpoint (r10) are
    # SUPPORTED reader features; anything beyond them still gates loudly
    tbl2 = str(tmp_path / "gated")
    acts = [
        {"protocol": {"minReaderVersion": 3, "readerFeatures": ["timestampNtz"]}},
        D._meta_action(_mk(spark, 1).schema, tbl2, ()),
    ]
    assert D.try_commit(tbl2, 0, acts)
    with pytest.raises(NotImplementedError, match="minReaderVersion"):
        D.snapshot(tbl2)
    tbl_v2c = str(tmp_path / "v2c_ok")
    acts = [
        {"protocol": {"minReaderVersion": 3, "readerFeatures": ["v2Checkpoint"]}},
        D._meta_action(_mk(spark, 1).schema, tbl_v2c, ()),
    ]
    assert D.try_commit(tbl_v2c, 0, acts)
    assert D.snapshot(tbl_v2c).version == 0  # reads fine since r10
    tbl3 = str(tmp_path / "dv_ok")
    acts = [
        {"protocol": {"minReaderVersion": 3, "readerFeatures": ["deletionVectors"]}},
        D._meta_action(_mk(spark, 1).schema, tbl3, ()),
    ]
    assert D.try_commit(tbl3, 0, acts)
    assert D.snapshot(tbl3).version == 0  # reads fine


def test_partition_pruning_plan(spark, sf_dir):
    """The fixture's o_year filter must prune at PLAN time — hive
    layout + the log's schema make partition filters free."""
    df = D.read_delta_py(spark, D.ensure_delta_fixture(spark, sf_dir))
    plan = df.filter(F.col("o_year") == "1995")._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "o_year" in plan.split("PartitionFilters")[1][:200]


def test_io_read_delta_falls_back(spark, sf_dir):
    """No delta-spark jars in this image: io.read_delta must serve the
    table through the Python log-replay path transparently."""
    from map_reduce_spark.io import read_delta

    fixture = D.ensure_delta_fixture(spark, sf_dir)
    df = read_delta(spark, fixture)
    assert df.columns == [
        "o_orderkey", "o_custkey", "o_orderstatus",
        "price_cents", "o_orderpriority", "o_year",
    ]
    assert df.count() > 0


def test_clone_then_mutate_leaves_source_intact(spark, tbl, tmp_path):
    D.write_delta_py(_mk(spark, 100), tbl, mode="overwrite", stats_cols=("id",))
    clone = str(tmp_path / "clone")
    D.clone_delta_table(tbl, clone)
    D.delete_where(spark, clone, F.col("id") < 50, stats_cols=("id",))
    assert D.read_delta_py(spark, clone).count() == 50
    assert D.read_delta_py(spark, tbl).count() == 100
    assert D.latest_version(tbl) == 0 and D.latest_version(clone) == 1


def test_checkpoint_tombstones_roundtrip(spark, tbl):
    """Remove tombstones survive the checkpoint (spec retention): a
    checkpoint cut right after a delete must not resurrect the file."""
    D.write_delta_py(_mk(spark, 200, parts=2), tbl, mode="overwrite", stats_cols=("id",))
    D.delete_where(spark, tbl, F.col("id") < 100, stats_cols=("id",), checkpoint_interval=1)
    js, cps = D._list_log(tbl)
    assert cps == [1]
    snap = D.snapshot(tbl, 1)  # seeded from cp@1
    assert D.read_delta_py(spark, tbl, 1).count() == 100
    assert all("id" in json.loads(a["stats"])["minValues"] for a in snap.adds.values())
    assert snap.removes  # tombstones carried


def test_stats_survive_checkpoint_for_skipping(spark, tbl):
    D.write_delta_py(
        _mk(spark, 400, parts=4), tbl, mode="overwrite",
        stats_cols=("id",), checkpoint_interval=1,
    )
    D.write_delta_py(
        _mk(spark, 10, parts=1).withColumn("id", F.col("id") + 1000), tbl,
        mode="append", stats_cols=("id",), checkpoint_interval=1,
    )
    snap = D.snapshot(tbl)  # seeded from cp@1
    assert len(D.skip_files(snap, "id", 1000, 1009)) == 1


def test_partition_prune_plan(spark, sf_dir):
    """The o_year predicate must prune at PLAN time: the FileScan's
    partition filters carry it, and the scanned file count equals the
    two matching years' directories, not the table."""
    from map_reduce_spark.sources.delta_py import (
        ensure_delta_part_fixture,
        read_delta_py,
        snapshot,
    )

    table = ensure_delta_part_fixture(spark, sf_dir)
    df = read_delta_py(spark, table).filter(F.col("o_year").isin("1996", "1997"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "o_year" in plan.split(
        "PartitionFilters"
    )[1].split("]")[0]
    snap = snapshot(table)
    matching = [
        r for r, a in snap.adds.items()
        if a["partitionValues"].get("o_year") in ("1996", "1997")
    ]
    assert 0 < len(matching) < len(snap.adds)
    assert df.count() > 0
