"""The shared table-format commit core (``sources/lakecommit``): the
fixture publish, the retry budget and its log lines, and one
deterministic lost-race matrix over every Delta and Iceberg write
entry point the lakehouse workload drives.

The matrix lets the FIRST put-if-absent publish of an operation lose
to a competing no-op commit of the same version, then checks that the
operation replans onto the next version with the same rows a no-race
run produces, and that nothing the losing attempt staged is
referenced by the final snapshot or left on disk."""

from __future__ import annotations

import logging
import os
import re
import urllib.parse

import pytest
from pyspark.sql import functions as F

import map_reduce_spark.sources.delta_py as D
import map_reduce_spark.sources.iceberg_py as I
from map_reduce_spark.sources import lakecommit as L


def test_retry_commit_logs_each_loss_and_gives_up(caplog):
    caplog.set_level(logging.INFO, logger=L.__name__)
    with pytest.raises(RuntimeError, match=r"merge on 't' lost 20 commit races"):
        L.retry_commit("merge on 't'", lambda: L.LOST)
    lines = [r.getMessage() for r in caplog.records if r.name == L.__name__]
    assert len(lines) == L.COMMIT_ATTEMPTS
    assert lines[0] == "merge on 't' lost commit race (attempt 1 of 20)"
    assert L.retry_commit("noop", lambda: None) is None


def test_publish_fixture_swallows_only_lost_races(tmp_path):
    dest = tmp_path / "fixture"
    dest.mkdir()
    (dest / "theirs").write_text("x")
    tmp = tmp_path / "fixture.tmp1"
    tmp.mkdir()
    (tmp / "ours").write_text("y")
    L.publish_fixture(str(tmp), str(dest))  # lost the race: theirs stays
    assert not tmp.exists()
    assert os.listdir(dest) == ["theirs"]
    with pytest.raises(FileNotFoundError):
        L.publish_fixture(str(tmp_path / "never-built"), str(tmp_path / "d2"))


def _frame(spark, lo, n):
    return (
        spark.range(lo, lo + n)
        .select(
            F.col("id"),
            (F.col("id") % 5).alias("k"),
            (F.col("id") * 10).alias("v"),
        )
        .repartition(2)
    )


def _delta_base(spark, t):
    D.write_delta_py(_frame(spark, 0, 40), t, mode="overwrite", stats_cols=("id",))
    D.write_delta_py(_frame(spark, 40, 20), t, mode="append", stats_cols=("id",))


def _iceberg_base(spark, t):
    I.append_iceberg_snapshot(_frame(spark, 0, 40), t)
    I.append_iceberg_snapshot(_frame(spark, 40, 20), t)


def _upsert_src(spark):
    return _frame(spark, 30, 40).withColumn("v", F.col("v") + 1)


# (format, operation): the 13 write entry points of the lakehouse workload
_OPS = {
    ("delta", "write_delta_py"): lambda s, t: D.write_delta_py(
        _frame(s, 100, 10), t, mode="append", stats_cols=("id",)
    ),
    ("delta", "append_stream_batch"): lambda s, t: D.append_stream_batch(
        _frame(s, 100, 10), t, "app", 0
    ),
    ("delta", "merge_upsert"): lambda s, t: D.merge_upsert(
        s, t, _upsert_src(s), "id", stats_cols=("id",)
    ),
    ("delta", "update_where"): lambda s, t: D.update_where(
        s, t, F.col("k") == 1, {"v": F.lit(-1).cast("long")}
    ),
    ("delta", "delete_where"): lambda s, t: D.delete_where(
        s, t, F.col("id") < 15, stats_cols=("id",)
    ),
    ("delta", "optimize_compact"): lambda s, t: D.optimize_compact(s, t),
    ("iceberg", "append_iceberg_snapshot"): lambda s, t: I.append_iceberg_snapshot(
        _frame(s, 100, 10), t
    ),
    ("iceberg", "append_iceberg_stream_batch"): lambda s, t: (
        I.append_iceberg_stream_batch(_frame(s, 100, 10), t, "app", 0)
    ),
    ("iceberg", "merge_iceberg_upsert"): lambda s, t: I.merge_iceberg_upsert(
        s, t, _upsert_src(s), "id"
    ),
    ("iceberg", "update_iceberg_where"): lambda s, t: I.update_iceberg_where(
        s, t, F.col("k") == 1, {"v": F.lit(-1).cast("long")}
    ),
    ("iceberg", "delete_iceberg_where"): lambda s, t: I.delete_iceberg_where(
        s, t, F.col("id") < 15
    ),
    ("iceberg", "commit_positional_deletes"): lambda s, t: (
        I.commit_positional_deletes(s, t, F.col("id") < 15)
    ),
    ("iceberg", "compact_iceberg_files"): lambda s, t: I.compact_iceberg_files(
        s, t, out_files=1
    ),
}


def _noop_payload(path: str) -> str:
    """A competing commit of the same version that changes nothing:
    an info-only Delta commit, or Iceberg's previous metadata again."""
    name = os.path.basename(path)
    if name.endswith(".json") and name[:20].isdigit():
        return '{"commitInfo":{"operation":"COMPETITOR"}}\n'
    m = re.fullmatch(r"v(\d+)\.metadata\.json", name)
    assert m, path
    prev = os.path.join(os.path.dirname(path), f"v{int(m.group(1)) - 1}.metadata.json")
    with open(prev) as fh:
        return fh.read()


def _files(table: str) -> set[str]:
    return {
        os.path.abspath(os.path.join(root, n))
        for root, _, names in os.walk(table)
        for n in names
    }


def _referenced(fmt: str, table: str) -> set[str]:
    if fmt == "delta":
        snap = D.snapshot(table)
        return {
            os.path.abspath(os.path.join(table, urllib.parse.unquote(p)))
            for p in snap.adds
        }
    meta = I.load_table_metadata(table)
    local = I._make_localizer(table, meta)
    av = I.make_generic_avro()
    mlist = local(I._pick_snapshot(meta, None)["manifest-list"])
    refs = {mlist}
    for m in av.read_file(mlist)[1]:
        refs.add(local(m["manifest_path"]))
        for e in av.read_file(local(m["manifest_path"]))[1]:
            refs.add(local(e["data_file"]["file_path"]))
    return {os.path.abspath(p) for p in refs}


def _rows(spark, fmt: str, table: str) -> list:
    df = D.read_delta_py(spark, table) if fmt == "delta" else I.read_iceberg_py(spark, table)
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("fmt,op", sorted(_OPS), ids=lambda v: v)
def test_first_publish_loses_race(spark, tmp_path, monkeypatch, caplog, fmt, op):
    base = _delta_base if fmt == "delta" else _iceberg_base
    calm, raced = str(tmp_path / "calm"), str(tmp_path / "raced")
    base(spark, calm)
    base(spark, raced)
    calm_result = _OPS[fmt, op](spark, calm)

    real_publish, real_retry = L.publish_if_absent, L.retry_commit
    seen: dict = {}

    def retry(what, attempt):
        seen.setdefault("attempt_start", _files(raced))
        return real_retry(what, attempt)

    def publish(path, payload):
        if "loser_staged" not in seen:
            seen["loser_staged"] = _files(raced) - seen["attempt_start"]
            assert real_publish(path, _noop_payload(path))
        return real_publish(path, payload)

    monkeypatch.setattr(L, "retry_commit", retry)
    monkeypatch.setattr(L, "publish_if_absent", publish)
    caplog.set_level(logging.INFO, logger=L.__name__)
    raced_result = _OPS[fmt, op](spark, raced)
    monkeypatch.undo()

    assert "loser_staged" in seen, "the operation never published"
    assert [r for r in caplog.records if raced in r.getMessage()], "loss not logged"
    if isinstance(calm_result, int):
        assert raced_result == calm_result + 1  # the competitor took a version
    assert _rows(spark, fmt, raced) == _rows(spark, fmt, calm)
    loser = seen["loser_staged"]
    assert not loser & _referenced(fmt, raced)
    assert not loser & _files(raced), "the losing attempt left staged files behind"


def test_token_width_does_not_follow_the_pid(monkeypatch):
    """Tokens land in stored manifest, log and data paths, so their
    length must not move with the pid's digit count."""
    import itertools

    monkeypatch.setattr(L, "_SEQ", itertools.count(10))
    monkeypatch.setattr(L.os, "getpid", lambda: 7)
    short = L.token()
    monkeypatch.setattr(L.os, "getpid", lambda: 4194303)
    long_ = L.token()
    assert len(short) == len(long_)
    assert short != long_
