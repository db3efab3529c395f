"""Iceberg compaction: merge-on-read resolution folds delete files
back into data files; state is byte-moved, never row-changed; the COW
gates reopen; time travel keeps the pre-compaction MOR view."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

import map_reduce_spark.sources.iceberg_py as I


def _mk(spark, n=100):
    return spark.range(n).select(
        F.col("id"), (F.col("id") * 100).alias("cents")
    )


def test_compact_resolves_mor_and_reopens_gates(spark, tmp_path):
    tbl = str(tmp_path / "t")
    I.append_iceberg_snapshot(_mk(spark).repartition(6), tbl)
    I.commit_positional_deletes(spark, tbl, F.col("id") % 10 == 0)
    want = sorted(
        r["id"] for r in I.read_iceberg_py(spark, tbl).collect()
    )
    assert len(want) == 90
    meta = I.load_table_metadata(tbl)
    pre_snap = I._pick_snapshot(meta, None)["snapshot-id"]
    I.compact_iceberg_files(spark, tbl, out_files=2)
    meta2 = I.load_table_metadata(tbl)
    snap2 = I._pick_snapshot(meta2, None)
    plan = I.scan_plan_for_snapshot(tbl, meta2, snap2)
    assert not plan["delete_files"] and not plan["eq_deletes"]
    got = sorted(r["id"] for r in I.read_iceberg_py(spark, tbl).collect())
    assert got == want  # bytes moved, rows identical
    # the COW gates reopen: a delete that was refused pre-compaction runs
    I.delete_iceberg_where(spark, tbl, F.col("id") < 5)
    assert I.read_iceberg_py(spark, tbl).count() == 90 - 4  # 1,2,3,4 (0 gone)
    # time travel still sees the MOR view of the pre-compaction snapshot
    old = I.read_iceberg_py(spark, tbl, snapshot_id=pre_snap)
    assert sorted(r["id"] for r in old.collect()) == want


def test_compact_reduces_files_and_keeps_partitioning(spark, tmp_path):
    tbl = str(tmp_path / "t")
    d = _mk(spark).withColumn("g", F.col("id") % 3)
    I.append_iceberg_snapshot(d.repartition(8), tbl, [("g", "identity")])
    I.append_iceberg_snapshot(d.withColumn("id", F.col("id") + 100).repartition(8), tbl)
    meta = I.load_table_metadata(tbl)
    snap = I._pick_snapshot(meta, None)
    n_before = len(I.scan_plan_for_snapshot(tbl, meta, snap)["data_files"])
    I.compact_iceberg_files(spark, tbl, out_files=1)
    meta2 = I.load_table_metadata(tbl)
    snap2 = I._pick_snapshot(meta2, None)
    plan = I.scan_plan_for_snapshot(tbl, meta2, snap2)
    assert len(plan["data_files"]) < n_before
    # partition pruning still engages on the compacted layout
    pruned = I.scan_plan_for_snapshot(
        tbl, meta2, snap2, predicates=[("g", "=", 1)]
    )
    assert pruned["files_pruned"] > 0
    assert I.read_iceberg_py(spark, tbl).count() == 200
    # every compacted data file landed inside THIS table's tree (no
    # hardlink-shared bytes are mutated on a clone)
    for p in plan["data_files"]:
        assert p.startswith(os.path.realpath(tbl)) or p.startswith(tbl)


def test_sorted_rewrite_buys_pruning(spark, tmp_path):
    """After a sorted rewrite on v, per-file bounds become disjoint:
    a range predicate must keep strictly fewer files than on the
    shuffled layout, rows identical, sort order recorded."""
    import random

    tbl = str(tmp_path / "t")
    vals = list(range(400))
    random.Random(7).shuffle(vals)
    d = spark.createDataFrame([(i, v) for i, v in enumerate(vals)], "id bigint, v bigint")
    I.append_iceberg_snapshot(d.repartition(8), tbl)
    meta = I.load_table_metadata(tbl)
    snap = I._pick_snapshot(meta, None)
    preds = [("v", ">=", 360)]
    before = I.scan_plan_for_snapshot(tbl, meta, snap, predicates=preds)
    want = sorted(r["id"] for r in I.read_iceberg_py(spark, tbl).filter("v >= 360").collect())
    I.compact_iceberg_files(spark, tbl, out_files=8, order_by=("v",))
    meta2 = I.load_table_metadata(tbl)
    snap2 = I._pick_snapshot(meta2, None)
    after = I.scan_plan_for_snapshot(tbl, meta2, snap2, predicates=preds)
    # shuffled layout: every file spans ~full range -> nothing pruned;
    # sorted layout: only the top range file(s) survive
    assert len(after["data_files"]) < max(1, len(before["data_files"]))
    assert after["files_pruned"] >= after["files_total"] - 2
    got = sorted(
        r["id"]
        for r in I.read_iceberg_py(spark, tbl, predicates=preds)
        .filter("v >= 360")
        .collect()
    )
    assert got == want
    assert meta2["default-sort-order-id"] == 1
    so = [o for o in meta2["sort-orders"] if o["order-id"] == 1][0]
    assert [f["transform"] for f in so["fields"]] == ["identity"]
    # a later append keeps the recorded order as the table default
    I.append_iceberg_snapshot(d.limit(5), tbl)
    meta3 = I.load_table_metadata(tbl)
    assert meta3["default-sort-order-id"] == 1
    assert [o for o in meta3["sort-orders"] if o["order-id"] == 1] == [so]


def test_every_commit_kind_keeps_table_uuid(spark, tmp_path):
    """Each commit derives its metadata from the state it planned
    against: no commit kind re-mints the table's identity, also on a
    clone whose root differs from the path the uuid was minted from."""
    src, tbl = str(tmp_path / "src"), str(tmp_path / "clone")
    I.append_iceberg_snapshot(_mk(spark).repartition(4), src)
    uuid = I.load_table_metadata(src)["table-uuid"]
    I.clone_iceberg_table(src, tbl)
    commits = [
        lambda: I.append_iceberg_snapshot(
            _mk(spark, 10).withColumn("id", F.col("id") + 1000), tbl
        ),
        lambda: I.commit_positional_deletes(spark, tbl, F.col("id") % 10 == 0),
        lambda: I.compact_iceberg_files(spark, tbl, out_files=2),
        lambda: I.delete_iceberg_where(spark, tbl, F.col("id") < 5),
        lambda: I.merge_iceberg_upsert(
            spark, tbl, _mk(spark, 3).withColumn("id", F.col("id") + 51), "id"
        ),
    ]
    versions = []
    for commit in commits:
        commit()
        meta, version = I._load_meta_versioned(tbl)
        assert meta["table-uuid"] == uuid
        versions.append(version)
    assert versions == list(range(2, 2 + len(commits)))  # each one committed
    assert I.read_iceberg_py(spark, tbl).count() == 100 + 10 - 11 - 4
