"""Delta column-mapping tests: physical-name scan + logical rename,
hive partition dirs under physical names, checkpoint round-trip of the
mapping mode, DV composition with the feature-carrying protocol
upgrade, stats skipping through the name translation, and the rewrite
gates."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

import map_reduce_spark.sources.delta_py as D


@pytest.fixture()
def tbl(tmp_path):
    return str(tmp_path / "t")


def _mk(spark, n=60):
    return (
        spark.range(n)
        .withColumn("y", (F.col("id") % 3).cast("string"))
        .withColumn("v", F.col("id") * 7)
        .repartitionByRange(2, "id")
    )


def test_mapped_roundtrip_physical_on_disk(spark, tbl):
    D.write_mapped_table(_mk(spark, 60), tbl, partition_by=("y",), stats_cols=("id",))
    got = D.read_delta_py(spark, tbl)
    assert set(got.columns) == {"id", "y", "v"}
    assert got.count() == 60
    assert got.agg(F.sum("v")).first()[0] == sum(7 * i for i in range(60))
    # disk carries ONLY physical names: partition dirs + parquet columns
    dirs = [d for d in os.listdir(tbl) if "=" in d]
    assert dirs and all(d.split("=")[0].startswith("col-") for d in dirs)
    import pyarrow.parquet as pq

    f = glob.glob(os.path.join(tbl, "col-*", "*.parquet"))[0]
    names = pq.ParquetFile(f).schema_arrow.names
    assert all(n.startswith("col-") for n in names)
    assert not {"id", "y", "v"} & set(names)


def test_mapped_append_feed_reads_logical_values(spark, tbl):
    """The append-only change feed scans a column-mapped table under
    its PHYSICAL names and projects back, like the CDF reader."""
    D.write_mapped_table(_mk(spark, 20), tbl, stats_cols=("id",))  # v0
    feed = D.read_delta_changes(spark, tbl, since_version=-1)
    assert feed.columns == ["id", "y", "v"]
    assert sorted((r.id, r.v) for r in feed.collect()) == [(i, 7 * i) for i in range(20)]


def test_mapped_skip_files_translates_logical_col(spark, tbl):
    D.write_mapped_table(_mk(spark, 100), tbl, stats_cols=("id",))
    snap = D.snapshot(tbl)
    pruned = D.skip_files(snap, "id", 0, 10)
    assert len(pruned) < len(snap.adds)  # range clustering -> real pruning
    sub = D.read_delta_py(spark, tbl, files=pruned)
    assert sub.filter(F.col("id") <= 10).count() == 11


def test_mapped_mode_survives_checkpoint(spark, tbl):
    D.write_mapped_table(_mk(spark, 40), tbl)
    assert D.delete_where_dv(spark, tbl, F.col("id") == 0, checkpoint_interval=0) == 1
    D.write_checkpoint(tbl, D.snapshot(tbl))
    # metadata-cleanup shape: the pre-checkpoint commit is gone, the
    # checkpoint is the only source of v0 state
    os.remove(D._json_path(tbl, 0))
    snap = D.snapshot(tbl)
    assert snap.column_mapping() is not None
    got = D.read_delta_py(spark, tbl)
    assert got.count() == 39 and set(got.columns) == {"id", "y", "v"}
    # a NULL-free column proves physical names resolved (a logical-name
    # scan of physical files would render all NULLs)
    assert got.filter(F.col("v").isNull()).count() == 0


def test_mapped_dv_delete_carries_both_features(spark, tbl):
    D.write_mapped_table(_mk(spark, 80), tbl, partition_by=("y",))
    v = D.delete_where_dv(spark, tbl, F.col("id") < 20)
    assert v == 1
    snap = D.snapshot(tbl)
    assert set(snap.protocol["readerFeatures"]) == {"columnMapping", "deletionVectors"}
    got = D.read_delta_py(spark, tbl)
    assert got.count() == 60
    assert got.agg(F.min("id")).first()[0] == 20
    # NULL-predicate semantics hold through the mapping projection
    D.delete_where_dv(
        spark, tbl,
        F.when(F.col("id") < 30, F.lit(None).cast("boolean")).otherwise(F.col("id") >= 70),
    )
    got = D.read_delta_py(spark, tbl)
    assert got.count() == 50  # 70..79 deleted; NULL rows (20..29) kept


def test_mapped_rewrite_ops_gate(spark, tbl):
    D.write_mapped_table(_mk(spark, 20), tbl)
    with pytest.raises(NotImplementedError, match="column-mapping"):
        D.delete_where(spark, tbl, F.col("id") < 5)
    with pytest.raises(NotImplementedError, match="column-mapping"):
        D.optimize_compact(spark, tbl)
    with pytest.raises(ValueError, match="already exists"):
        D.write_mapped_table(_mk(spark, 5), tbl)


def test_unknown_mapping_mode_gates(spark, tbl):
    import json

    D.write_mapped_table(_mk(spark, 10), tbl)
    acts = D._read_commit(tbl, 0)
    for a in acts:
        if "metaData" in a:
            a["metaData"]["configuration"]["delta.columnMapping.mode"] = "exotic"
    with open(D._json_path(tbl, 0), "w") as fh:
        for a in acts:
            fh.write(json.dumps(a) + "\n")
    with pytest.raises(NotImplementedError, match="columnMapping mode"):
        D.read_delta_py(spark, tbl)


def test_cm_fixture_query_matches_predicate(spark, sf_dir):
    tbl = D.ensure_delta_cm_fixture(spark, sf_dir)
    snap = D.snapshot(tbl)
    assert snap.column_mapping() and any(
        a.get("deletionVector") for a in snap.adds.values()
    )
    got = D.read_delta_py(spark, tbl)
    d = D._orders_frame(spark, sf_dir)
    expected = d.filter(~(D._bucket(F.col("o_orderkey"), 16) == 7))
    assert got.exceptAll(expected).count() == 0
    assert expected.exceptAll(got).count() == 0


def test_cm_with_dv_through_v2_checkpoint(spark, sf_dir, tmp_path):
    """The hardest checkpoint combination: a column-mapping + DV table
    seeded from a V2 checkpoint (json log expired below it) must read
    identically — mapping mode, physical names, and DV references all
    survive the manifest+sidecar roundtrip."""
    import os
    import shutil as _sh

    base = D.ensure_delta_cm_fixture(spark, sf_dir)
    tbl = str(tmp_path / "t")
    D.clone_delta_table(base, tbl)
    before = D.read_delta_py(spark, tbl)
    want = {tuple(r) for r in before.collect()}
    snap = D.snapshot(tbl)
    D.write_checkpoint_v2(tbl, snap)
    logd = os.path.join(tbl, "_delta_log")
    for f in list(os.listdir(logd)):
        expired = (
            f.endswith(".json") and f[:20].isdigit() and not D._V2_CKPT_RE.match(f)
        ) or f.endswith(".checkpoint.parquet")
        if expired and int(f[:20]) <= snap.version:
            os.remove(os.path.join(logd, f))
    back = D.snapshot(tbl)
    assert back.column_mapping() == snap.column_mapping()
    assert any(a.get("deletionVector") for a in back.adds.values())
    got = {tuple(r) for r in D.read_delta_py(spark, tbl).collect()}
    assert got == want
    _sh.rmtree(tbl, ignore_errors=True)


def test_mapped_cdf_stream_matches_batch_feed(spark, tbl, tmp_path):
    """The CDF stream source reads a column-mapped table's change files
    under their PHYSICAL names and renames to logical: drained to a
    memory sink, it serves exactly the rows the batch CDF reader
    serves over the same range (cdc files and appended files both)."""
    D.write_mapped_table(_mk(spark, 20), tbl, stats_cols=("id",))  # v0
    D.set_delta_table_property(tbl, "delta.enableChangeDataFeed", "true")  # v1
    D.delete_where_dv(spark, tbl, F.col("id") < 5, checkpoint_interval=0)  # v2
    D.write_delta_py(  # v3: mapped append
        _mk(spark, 25).filter(F.col("id") >= 20), tbl, mode="append",
        checkpoint_interval=0,
    )
    q = (
        D.stream_delta_cdf(spark, tbl)
        .writeStream.format("memory")
        .queryName("mapped_cdf_stream")
        .option("checkpointLocation", str(tmp_path / "chk"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = spark.table("mapped_cdf_stream").collect()
    finally:
        q.stop()
    want = D.read_delta_changes_cdf(spark, tbl, since_version=-1).collect()
    cols = ["id", "y", "v", "_change_type", "_commit_version"]
    assert len(want) == 30
    assert sorted(tuple(r[c] for c in cols) for r in got) == sorted(
        tuple(r[c] for c in cols) for r in want
    )
