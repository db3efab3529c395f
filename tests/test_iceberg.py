"""Iceberg reader tests: the generic Avro codec (nested records,
maps, unions, both container codecs), the metadata chain (version
hint, snapshot pinning, deleted-entry filtering), the v2 gates
(delete manifests, future format versions), and table relocation."""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

import map_reduce_spark.sources.iceberg_py as I

NESTED_SCHEMA = {
    "type": "record",
    "name": "outer",
    "fields": [
        {"name": "a", "type": "long"},
        {"name": "b", "type": ["null", "string"]},
        {
            "name": "inner",
            "type": {
                "type": "record",
                "name": "r1",
                "fields": [
                    {"name": "x", "type": "double"},
                    {"name": "tags", "type": {"type": "map", "values": "long"}},
                    {"name": "arr", "type": {"type": "array", "items": "r1_item"}},
                ],
            },
        },
    ],
}
# named-type reference target must exist before use: inline it instead
NESTED_SCHEMA["fields"][2]["type"]["fields"][2]["type"]["items"] = {
    "type": "record",
    "name": "kv",
    "fields": [{"name": "k", "type": "string"}, {"name": "v", "type": ["null", "long"]}],
}

ROWS = [
    {"a": 1, "b": "one", "inner": {"x": 1.5, "tags": {"p": 1, "q": 2},
                                   "arr": [{"k": "a", "v": 10}, {"k": "b", "v": None}]}},
    {"a": -7, "b": None, "inner": {"x": -0.25, "tags": {},
                                   "arr": []}},
]


@pytest.mark.parametrize("codec", ["null", "deflate"])
def test_generic_avro_roundtrip(tmp_path, codec):
    av = I.make_generic_avro()
    p = str(tmp_path / f"n_{codec}.avro")
    av.write_file(p, NESTED_SCHEMA, ROWS, codec=codec)
    schema, rows = av.read_file(p)
    assert schema == NESTED_SCHEMA
    assert rows == ROWS


def test_generic_avro_reads_columnar_writer_output(tmp_path, spark):
    """The two codecs share the container spec: files written by the
    certified columnar writer must decode identically here."""
    from map_reduce_spark.sources.avro_py import write_avro_file

    schema = {
        "type": "record", "name": "t",
        "fields": [{"name": "a", "type": "long"},
                   {"name": "b", "type": ["null", "string"]}],
    }
    p = str(tmp_path / "flat.avro")
    write_avro_file(p, schema, [(1, "x"), (2, None)], codec="deflate")
    _, rows = I.make_generic_avro().read_file(p)
    assert rows == [{"a": 1, "b": "x"}, {"a": 2, "b": None}]


def _mk(spark, n, base=0):
    return spark.range(base, base + n).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v")
    )


def test_snapshots_and_travel(spark, tmp_path):
    tbl = str(tmp_path / "t")
    assert I.append_iceberg_snapshot(_mk(spark, 100), tbl) == 1
    assert I.append_iceberg_snapshot(_mk(spark, 50, base=100), tbl) == 2
    cur = I.read_iceberg_py(spark, tbl)
    assert cur.count() == 150
    assert cur.agg(F.sum("v")).first()[0] == sum(3 * i for i in range(150))
    assert I.read_iceberg_py(spark, tbl, snapshot_id=1).count() == 100
    with pytest.raises(ValueError, match="not found"):
        I.read_iceberg_py(spark, tbl, snapshot_id=99)


def test_empty_append_writes_nothing(spark, tmp_path):
    """A zero-row append to an existing table publishes nothing and
    returns the current snapshot; creation from an empty frame, an
    empty append that adds a column, and an empty stream batch (its
    epoch must land in the ledger) still commit."""
    tbl = str(tmp_path / "t")
    mdir = os.path.join(tbl, "metadata")
    assert I.append_iceberg_snapshot(_mk(spark, 0), tbl) == 1
    assert I.append_iceberg_snapshot(_mk(spark, 20), tbl) == 2
    before = sorted(os.listdir(mdir))
    assert I.append_iceberg_snapshot(_mk(spark, 0), tbl) == 2
    assert I.append_iceberg_snapshot(_mk(spark, 0).select("k"), tbl) == 2
    assert sorted(os.listdir(mdir)) == before
    wider = _mk(spark, 0).withColumn("w", F.lit(1))
    assert I.append_iceberg_snapshot(wider, tbl) == 3
    assert I.append_iceberg_stream_batch(wider, tbl, "app", 0) == 4
    assert I._txn_ledger(I.load_table_metadata(tbl), "app") == 0
    assert I.read_iceberg_py(spark, tbl).count() == 20


def test_version_hint_fallback(spark, tmp_path):
    tbl = str(tmp_path / "t")
    I.append_iceberg_snapshot(_mk(spark, 30), tbl)
    I.append_iceberg_snapshot(_mk(spark, 30, base=30), tbl)
    os.remove(os.path.join(tbl, "metadata", "version-hint.text"))
    assert I.read_iceberg_py(spark, tbl).count() == 60  # highest vN wins


def _first_manifest(tbl):
    av = I.make_generic_avro()
    meta = I.load_table_metadata(tbl)
    snap = I._pick_snapshot(meta, None)
    _, manifests = av.read_file(snap["manifest-list"])
    return av, meta, snap, manifests


def test_deleted_entries_are_filtered(spark, tmp_path):
    """A manifest entry with status=2 (DELETED) must not be scanned."""
    tbl = str(tmp_path / "t")
    I.append_iceberg_snapshot(_mk(spark, 40), tbl)
    av, meta, snap, manifests = _first_manifest(tbl)
    mpath = manifests[0]["manifest_path"]
    mschema, entries = av.read_file(mpath)
    n_files = len(entries)
    assert n_files >= 1
    entries[0]["status"] = 2
    av.write_file(mpath, mschema, entries)
    files = I.data_files_for_snapshot(tbl, meta, snap)
    assert len(files) == n_files - 1


def test_malformed_equality_delete_gate(spark, tmp_path):
    """Equality deletes now read (round 9) — but a content=2 entry
    WITHOUT equality_ids is malformed and still gates loudly rather
    than guessing."""
    tbl = str(tmp_path / "t")
    I.append_iceberg_snapshot(_mk(spark, 10), tbl)
    av, meta, snap, manifests = _first_manifest(tbl)
    mpath = manifests[0]["manifest_path"]
    mschema, entries = av.read_file(mpath)
    entries[0]["data_file"]["content"] = 2  # equality delete file
    entries[0]["data_file"]["equality_ids"] = None
    av.write_file(mpath, mschema, entries)
    with pytest.raises(NotImplementedError, match="equality_ids"):
        I.read_iceberg_py(spark, tbl)


def test_format_version_gate(spark, tmp_path):
    tbl = str(tmp_path / "t")
    I.append_iceberg_snapshot(_mk(spark, 10), tbl)
    mpath = os.path.join(tbl, "metadata", "v1.metadata.json")
    meta = json.load(open(mpath))
    meta["format-version"] = 3
    json.dump(meta, open(mpath, "w"))
    with pytest.raises(NotImplementedError, match="format-version"):
        I.read_iceberg_py(spark, tbl)


def test_relocated_table_reads(spark, tmp_path):
    """The spec stores absolute paths; a moved/cloned table must still
    read via location re-anchoring."""
    src = str(tmp_path / "orig")
    I.append_iceberg_snapshot(_mk(spark, 25), src)
    moved = str(tmp_path / "elsewhere")
    shutil.move(src, moved)
    assert I.read_iceberg_py(spark, moved).count() == 25


def test_io_read_iceberg_falls_back(spark, sf_dir):
    from map_reduce_spark.io import read_iceberg

    fixture = I.ensure_iceberg_fixture(spark, sf_dir)
    df = read_iceberg(spark, fixture)
    assert df.columns == [
        "l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus",
        "price_cents", "qty_cents",
    ]
    assert df.count() > 0


def test_incremental_snapshot_diff(spark, tmp_path):
    """The snapshot-diff read returns exactly the rows each range
    added; manifests predating the range are skipped without reading."""
    tbl = str(tmp_path / "t")
    I.append_iceberg_snapshot(_mk(spark, 100), tbl)           # snap 1
    I.append_iceberg_snapshot(_mk(spark, 50, base=100), tbl)  # snap 2
    I.append_iceberg_snapshot(_mk(spark, 25, base=150), tbl)  # snap 3
    assert I.read_iceberg_changes(spark, tbl, from_snapshot=1).count() == 75
    assert I.read_iceberg_changes(spark, tbl, from_snapshot=2).count() == 25
    assert I.read_iceberg_changes(spark, tbl, from_snapshot=3).count() == 0
    mid = I.read_iceberg_changes(spark, tbl, from_snapshot=1, to_snapshot=2)
    assert {r.k for r in mid.collect()} == set(range(100, 150))


def test_rename_column_with_name_mapping(spark, tmp_path):
    """Metadata-only column rename: same field id under a new name,
    plus spec name mapping so PRE-rename files (Spark parquet carries
    no Iceberg field ids) resolve by their historical column name.
    Post-rename appends land under the new name; both eras coalesce
    into one column in one native scan. Time travel to a pre-rename
    snapshot still renders the old name."""
    import map_reduce_spark.sources.iceberg_py as II
    from pyspark.sql import functions as FF

    tbl = str(tmp_path / "t")
    d0 = spark.createDataFrame([(1, 10), (2, 20)], "id bigint, v bigint")
    II.append_iceberg_snapshot(d0, tbl)
    sid = II.rename_iceberg_column(tbl, "v", "value")
    assert sid == 1
    meta = II.load_table_metadata(tbl)
    nm = II._name_mapping(meta)
    fid = next(f["id"] for f in meta["schemas"][-1]["fields"] if f["name"] == "value")
    assert set(nm[fid]) == {"v", "value"}
    # pre-rename files resolve through the mapping
    got = II.read_iceberg_py(spark, tbl)
    assert got.columns == ["id", "value"]
    assert {r["id"]: r["value"] for r in got.collect()} == {1: 10, 2: 20}
    # post-rename append under the NEW name joins the same column
    d1 = spark.createDataFrame([(3, 30)], "id bigint, value bigint")
    II.append_iceberg_snapshot(d1, tbl)
    got2 = II.read_iceberg_py(spark, tbl)
    assert {r["id"]: r["value"] for r in got2.collect()} == {1: 10, 2: 20, 3: 30}
    # pinned pre-rename snapshot renders ITS schema (old name)
    meta2 = II.load_table_metadata(tbl)
    first_snap = (meta2.get("snapshots") or [])[0]["snapshot-id"]
    old = II.read_iceberg_py(spark, tbl, snapshot_id=first_snap)
    assert old.columns == ["id", "v"]
    assert {r["id"]: r["v"] for r in old.collect()} == {1: 10, 2: 20}
    # predicate reads survive the rename (filter on the renamed col)
    pred = II.read_iceberg_py(spark, tbl).filter(FF.col("value") >= 20)
    assert sorted(r["id"] for r in pred.collect()) == [2, 3]


def test_cow_rewrites_on_renamed_table(spark, tmp_path):
    """COW DELETE/UPDATE and MERGE on a renamed table must resolve
    BOTH file eras through the name mapping — a by-name-only victim
    scan would read the other era's column as NULL and corrupt the
    rewrite (the r10 _mapped_parquet_scan unification)."""
    import map_reduce_spark.sources.iceberg_py as II
    from pyspark.sql import functions as FF

    tbl = str(tmp_path / "t")
    d0 = spark.createDataFrame([(i, i * 10) for i in range(10)], "id bigint, v bigint")
    II.append_iceberg_snapshot(d0, tbl)
    II.rename_iceberg_column(tbl, "v", "value")
    d1 = spark.createDataFrame(
        [(i, i * 10) for i in range(10, 20)], "id bigint, value bigint"
    )
    II.append_iceberg_snapshot(d1, tbl)
    # DELETE hits rows in BOTH eras
    II.delete_iceberg_where(spark, tbl, FF.col("value") % 20 == 0)
    got = {r["id"]: r["value"] for r in II.read_iceberg_py(spark, tbl).collect()}
    assert got == {i: i * 10 for i in range(20) if (i * 10) % 20 != 0}
    # UPDATE across both eras
    II.update_iceberg_where(
        spark, tbl, FF.col("id") < 12, {"value": FF.col("value") + 1}
    )
    got2 = {r["id"]: r["value"] for r in II.read_iceberg_py(spark, tbl).collect()}
    want = {
        i: (i * 10 + 1 if i < 12 else i * 10)
        for i in range(20)
        if (i * 10) % 20 != 0
    }
    assert got2 == want


def test_changes_feed_resolves_renamed_files(spark, tmp_path):
    """Incremental snapshot-diff reads of PRE-rename appends must
    resolve the renamed column through the mapping (rendered under the
    range's snapshot schema)."""
    import map_reduce_spark.sources.iceberg_py as II

    tbl = str(tmp_path / "t")
    d0 = spark.createDataFrame([(1, 10), (2, 20)], "id bigint, v bigint")
    II.append_iceberg_snapshot(d0, tbl)  # snap 1 (pre-rename files)
    II.rename_iceberg_column(tbl, "v", "value")
    d1 = spark.createDataFrame([(3, 30)], "id bigint, value bigint")
    II.append_iceberg_snapshot(d1, tbl)  # snap (post-rename)
    meta = II.load_table_metadata(tbl)
    snaps = [s["snapshot-id"] for s in meta["snapshots"]]
    ch = II.read_iceberg_changes(spark, tbl, 0, snaps[-1])
    vals = {(r[0], r[1]) for r in ch.select(ch.columns[0], ch.columns[1]).collect()}
    assert (1, 10) in vals and (3, 30) in vals  # neither era NULLed


def test_changes_feed_refuses_cow_delete_range(spark, tmp_path):
    """A copy-on-write delete rewrites its victim file: the rewritten
    but unchanged rows must not surface as fresh inserts."""
    tbl = str(tmp_path / "t")
    I.append_iceberg_snapshot(_mk(spark, 25).coalesce(1), tbl)  # snap 1
    I.delete_iceberg_where(spark, tbl, F.col("k") < 5)  # snap 2: 20 rows rewritten
    with pytest.raises(ValueError, match="append-only feed refuses"):
        I.read_iceberg_changes(spark, tbl, from_snapshot=1)


def test_changes_feed_refuses_compaction_range(spark, tmp_path):
    """A compaction ('replace') re-adds every live row in new files: a
    range holding it must refuse, not re-serve the whole table."""
    tbl = str(tmp_path / "t")
    I.append_iceberg_snapshot(_mk(spark, 100), tbl)  # snap 1
    I.append_iceberg_snapshot(_mk(spark, 50, base=100), tbl)  # snap 2
    I.compact_iceberg_files(spark, tbl, out_files=1)  # snap 3
    with pytest.raises(ValueError, match="append-only feed refuses"):
        I.read_iceberg_changes(spark, tbl, from_snapshot=2)


def test_changes_feed_refuses_rolled_back_end(spark, tmp_path):
    """An end snapshot abandoned by a rollback holds rows that are no
    longer table state: the batch feed refuses it like the stream."""
    tbl = str(tmp_path / "t")
    I.append_iceberg_snapshot(_mk(spark, 20), tbl)  # snap 1
    I.append_iceberg_snapshot(_mk(spark, 10, base=20), tbl)  # snap 2
    I.rollback_iceberg(tbl, 1)
    with pytest.raises(ValueError, match="rolled back"):
        I.read_iceberg_changes(spark, tbl, from_snapshot=1, to_snapshot=2)


def test_migrate_and_stream_gate_on_renamed_tables(spark, tmp_path):
    """Handing field-id-less files to by-NAME consumers must refuse on
    a renamed table; a compaction (rewrites under current names)
    unlocks migration."""
    import pytest as _pt

    import map_reduce_spark.sources.delta_py as DD
    import map_reduce_spark.sources.iceberg_py as II

    tbl = str(tmp_path / "t")
    d0 = spark.createDataFrame([(1, 10), (2, 20)], "id bigint, v bigint")
    II.append_iceberg_snapshot(d0, tbl)
    II.rename_iceberg_column(tbl, "v", "value")
    dst = str(tmp_path / "delta_out")
    with _pt.raises(NotImplementedError, match="compact_iceberg_files first"):
        II.migrate_iceberg_to_delta(spark, tbl, dst)
    with _pt.raises(NotImplementedError, match="compact_iceberg_files first"):
        II.stream_iceberg_appends(spark, tbl)
    II.compact_iceberg_files(spark, tbl, out_files=1)
    II.migrate_iceberg_to_delta(spark, tbl, dst)
    got = {r["id"]: r["value"] for r in DD.read_delta_py(spark, dst).collect()}
    assert got == {1: 10, 2: 20}


def test_changelog_nets_cow_rewrites_and_skips_compaction(spark, tmp_path):
    """Changelog: appends are INSERTs, a COW delete nets to exactly the
    deleted rows as DELETEs (carried rows cancel), compaction
    contributes nothing, MOR delete files in range refuse, and
    _change_ordinal orders the commits."""
    import pytest as _pt

    import map_reduce_spark.sources.iceberg_py as II
    from pyspark.sql import functions as FF

    tbl = str(tmp_path / "t")
    d = spark.createDataFrame([(i, i * 10) for i in range(12)], "id bigint, v bigint")
    II.append_iceberg_snapshot(d.repartition(2), tbl)
    II.delete_iceberg_where(spark, tbl, FF.col("id") % 4 == 1)
    II.compact_iceberg_files(spark, tbl, out_files=1)
    II.append_iceberg_snapshot(
        spark.createDataFrame([(100, 1)], "id bigint, v bigint"), tbl
    )
    feed = II.read_iceberg_changelog(spark, tbl, from_snapshot=0)
    rows = [(r["_change_type"], r["id"], r["_change_ordinal"]) for r in feed.collect()]
    inserts = {(i, o) for t, i, o in rows if t == "INSERT"}
    deletes = {(i, o) for t, i, o in rows if t == "DELETE"}
    assert inserts == {(i, 0) for i in range(12)} | {(100, 2)}
    assert deletes == {(i, 1) for i in range(12) if i % 4 == 1}
    # compaction emitted nothing: ordinals are 0,1,2 with none for it
    assert {o for _, _, o in rows} == {0, 1, 2}
    # MOR delete files in range refuse
    tbl2 = str(tmp_path / "t2")
    II.append_iceberg_snapshot(d, tbl2)
    II.commit_positional_deletes(spark, tbl2, FF.col("id") < 2)
    with _pt.raises(NotImplementedError, match="compact_iceberg_files"):
        II.read_iceberg_changelog(spark, tbl2, from_snapshot=0)


def test_orphan_sweep_spares_every_referenced_era(spark, tmp_path):
    """remove_orphan_iceberg_files removes only never-referenced
    debris: files named solely by OLDER snapshots (status=2 in the
    head) survive, so time travel keeps working after the sweep."""
    import map_reduce_spark.sources.iceberg_py as II
    from pyspark.sql import functions as FF

    tbl = str(tmp_path / "t")
    d = spark.createDataFrame([(i, i) for i in range(10)], "id bigint, v bigint")
    II.append_iceberg_snapshot(d, tbl)
    II.delete_iceberg_where(spark, tbl, FF.col("id") < 5)  # rewrites files
    meta = II.load_table_metadata(tbl)
    first = meta["snapshots"][0]["snapshot-id"]
    # plant debris
    data_dir = os.path.join(tbl, "data")
    some = next(f for f in os.listdir(data_dir) if f.endswith(".parquet"))
    import shutil as _sh

    _sh.copy(os.path.join(data_dir, some), os.path.join(data_dir, "junk.parquet"))
    assert II.remove_orphan_iceberg_files(tbl) == 1
    # head reads clean; the PRE-delete snapshot still time-travels
    assert II.read_iceberg_py(spark, tbl).count() == 5
    assert II.read_iceberg_py(spark, tbl, snapshot_id=first).count() == 10
    # idempotent: nothing left to sweep
    assert II.remove_orphan_iceberg_files(tbl) == 0


def test_changelog_folds_to_final_state(spark, tmp_path):
    """Model-based changelog property: folding INSERT/DELETE rows in
    _change_ordinal order over an empty state reproduces the final
    table exactly — across appends, COW deletes, an UPDATE (nets to
    DELETE old + INSERT new), and a compaction (contributes
    nothing)."""
    import map_reduce_spark.sources.iceberg_py as II
    from pyspark.sql import functions as FF

    tbl = str(tmp_path / "t")
    d = spark.createDataFrame([(i, i * 7) for i in range(20)], "id bigint, v bigint")
    II.append_iceberg_snapshot(d.filter("id < 12").repartition(2), tbl)
    II.delete_iceberg_where(spark, tbl, FF.col("id") % 3 == 0)
    II.append_iceberg_snapshot(d.filter("id >= 12").repartition(2), tbl)
    II.update_iceberg_where(
        spark, tbl, FF.col("id") >= 15, {"v": FF.col("v") + 1}
    )
    II.compact_iceberg_files(spark, tbl, out_files=1)
    feed = II.read_iceberg_changelog(spark, tbl, from_snapshot=0)
    by_ord: dict[int, list] = {}
    for r in feed.collect():
        by_ord.setdefault(r["_change_ordinal"], []).append(
            (r["_change_type"], r["id"], r["v"])
        )
    state: dict[int, int] = {}
    for o in sorted(by_ord):
        for ct, rid, rv in by_ord[o]:
            if ct == "DELETE":
                assert state.pop(rid) == rv, (o, rid)
            else:
                # an UPDATE nets to DELETE+INSERT of the same id within
                # one ordinal; DELETEs applied first above
                state[rid] = rv
    want = {
        r.id: r.v for r in II.read_iceberg_py(spark, tbl).collect()
    }
    assert state == want
    assert want == {
        **{i: i * 7 for i in range(12) if i % 3 != 0 and i < 15},
        **{i: i * 7 for i in range(12, 15)},
        **{i: i * 7 + 1 for i in range(15, 20)},
    }


def test_rename_races_with_appends(spark, tmp_path):
    """REAL two-thread race: a column rename and an old-name append
    contend on the version slot. Legal outcomes: append first → both
    land and all rows read under the renamed column; rename first →
    the old-name append REFUSES loudly (the new 'v' would collide
    with the name-mapping alternate of the renamed field — a silent
    by-name ambiguity otherwise). Either way the table stays
    readable and the rename lands."""
    import threading

    import map_reduce_spark.sources.iceberg_py as II

    tbl = str(tmp_path / "t")
    d0 = spark.createDataFrame([(1, 10)], "id bigint, v bigint")
    II.append_iceberg_snapshot(d0, tbl)
    errs = []
    barrier = threading.Barrier(2)

    def do_rename():
        try:
            barrier.wait()
            II.rename_iceberg_column(tbl, "v", "value")
        except Exception as e:  # noqa: BLE001
            errs.append(("rename", e))

    def do_append():
        try:
            barrier.wait()
            II.append_iceberg_snapshot(
                spark.createDataFrame([(2, 20)], "id bigint, v bigint"), tbl
            )
        except Exception as e:  # noqa: BLE001
            errs.append(("append", e))

    ts = [threading.Thread(target=do_rename), threading.Thread(target=do_append)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    rename_errs = [e for tag, e in errs if tag == "rename"]
    append_errs = [e for tag, e in errs if tag == "append"]
    assert not rename_errs, rename_errs
    meta = II.load_table_metadata(tbl)
    cur = next(
        s for s in meta["schemas"] if s["schema-id"] == meta["current-schema-id"]
    )
    names = [f["name"] for f in cur["fields"]]
    assert names == ["id", "value"]  # the rename landed either way
    got = II.read_iceberg_py(spark, tbl)
    vals = {r["id"]: r["value"] for r in got.collect()}
    if append_errs:  # rename won: old-name append must have refused loudly
        assert "collides with a name-mapping alternate" in str(append_errs[0])
        assert vals == {1: 10}
    else:  # append won: both rows resolve under the renamed column
        assert vals == {1: 10, 2: 20}


def test_metadata_tables(spark, tmp_path):
    """files/snapshots metadata tables: record counts reconcile with
    the data, pinned snapshots render THEIR file set, operations and
    monotone sequence numbers appear in the snapshots table."""
    import map_reduce_spark.sources.iceberg_py as II
    from pyspark.sql import functions as FF

    tbl = str(tmp_path / "t")
    d = spark.createDataFrame([(i, i % 3) for i in range(30)], "id bigint, g bigint")
    II.append_iceberg_snapshot(d.repartition(2), tbl, [("g", "identity")])
    II.delete_iceberg_where(spark, tbl, FF.col("id") < 10)
    files = II.iceberg_files_table(spark, tbl)
    assert files.agg(FF.sum("record_count")).first()[0] == 20
    per_g = {
        int(r["g"]): r["n"]
        for r in files.select(
            FF.element_at("partition", "g").cast("long").alias("g"), "record_count"
        ).groupBy("g").agg(FF.sum("record_count").alias("n")).collect()
    }
    want = {g: sum(1 for i in range(10, 30) if i % 3 == g) for g in range(3)}
    assert per_g == want
    meta = II.load_table_metadata(tbl)
    first = meta["snapshots"][0]["snapshot-id"]
    pinned = II.iceberg_files_table(spark, tbl, snapshot_id=first)
    assert pinned.agg(FF.sum("record_count")).first()[0] == 30
    snaps = II.iceberg_snapshots_table(spark, tbl).orderBy("sequence_number")
    ops = [r["operation"] for r in snaps.collect()]
    assert ops == ["append", "delete"]
    seqs = [r["sequence_number"] for r in snaps.collect()]
    assert seqs == sorted(seqs)
