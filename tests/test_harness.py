"""The shared query harness: ``runlog.run_query``/``time_roster``, the
oracle replay loop in ``scripts/replay.py``, and bench.py's output
step — the code every timing and replay script now runs through."""

from __future__ import annotations

import glob
import importlib.util
import json
import os
import py_compile

import pytest

import bench
from map_reduce_spark import session
from map_reduce_spark.runlog import run_query, time_roster

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CHEAP = ["q1_pricing_summary", "dedup_exact"]


def test_run_query_record(spark, sf_dir):
    rec = run_query(spark, "q1_pricing_summary", sf_dir)
    assert set(rec) == {"build_s", "exec_s", "total_s", "jobs"}
    assert rec["build_s"] + rec["exec_s"] == pytest.approx(rec["total_s"], abs=0.002)
    assert rec["jobs"] >= 1
    assert spark.sparkContext._jsc.getPersistentRDDs().isEmpty()
    assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None


def test_time_roster_refuses_zero_warm_passes(spark, sf_dir):
    with pytest.raises(ValueError, match="warm"):
        time_roster(spark, CHEAP, sf_dir, warm=0)


def test_replay_oracled_and_rows_only(spark, sf_dir):
    spec = importlib.util.spec_from_file_location(
        "replay_script", os.path.join(ROOT, "scripts", "replay.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    # dedup_exact has a DuckDB oracle, agg_approx_distinct (HLL) has none
    assert mod.replay(spark, ["dedup_exact", "agg_approx_distinct"], sf_dir) == (1, 1, [])


def test_bench_output_tail(spark, sf_dir, tmp_path, monkeypatch, capsys):
    """bench.main on a 2-query roster: the summary is the last line and
    the positional per-query line sits right before it; both fit the
    driver's 2000-char tail even when the full roster's values are
    projected in at their widest."""
    full_roster = len(bench.HEADLINE)
    monkeypatch.setattr(bench, "HEADLINE", CHEAP)
    monkeypatch.setattr(bench, "SF_DIR", sf_dir)
    monkeypatch.setattr(bench, "_calibrate", lambda s: 1.0)
    monkeypatch.setattr(bench, "_calibrate_shuffle", lambda s: 1.0)
    monkeypatch.setattr(bench, "__file__", str(tmp_path / "bench.py"))
    monkeypatch.setattr(session, "get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(type(spark), "stop", lambda self: None)
    bench.main()
    lines = capsys.readouterr().out.strip().splitlines()
    pos, summary = json.loads(lines[-2]), json.loads(lines[-1])
    assert summary["metric"] == "headline_queries_total_sec"
    assert summary["n_queries"] == 2 and len(summary["pass_totals_sec"]) == 3
    assert pos["metric"] == "per_query_warm" and len(pos["v"]) == 2
    detail = json.loads((tmp_path / "BENCH_DETAIL.json").read_text())
    assert pos["v"] == [round(detail["queries"][n], 2) for n in CHEAP]
    assert set(detail["records"]) == set(CHEAP)
    widest = (full_roster - 2) * len(",999.99")
    assert len(lines[-2]) + len(lines[-1]) + widest <= 2000


@pytest.mark.parametrize(
    "path",
    [os.path.join(ROOT, "bench.py"), *sorted(glob.glob(os.path.join(ROOT, "scripts", "*.py")))],
    ids=os.path.basename,
)
def test_scripts_compile(path, tmp_path):
    py_compile.compile(path, cfile=str(tmp_path / "out.pyc"), doraise=True)


def test_all_queries_refuses_unregistered_priority_name(monkeypatch):
    """A renamed or deleted query must not silently shrink the driver
    window: ``all_queries`` names every missing ``_PRIORITY`` entry."""
    from map_reduce_spark import registry

    monkeypatch.setattr(
        registry, "_PRIORITY", ("mr_pipeline", "no_such_query", "gone_too")
    )
    with pytest.raises(KeyError, match="no_such_query.*gone_too"):
        registry.all_queries()
