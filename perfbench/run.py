#!/usr/bin/env python3
"""The repository's benchmark: one run of one workload.

    python3 perfbench/run.py --workload corpus_pipeline --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 15 --trace 0

Run from the repository root. A run generates its inputs from ``--seed``
into a private scratch directory, starts the engine's Spark session,
warms up, runs timed passes for ``--seconds``, checks every output
against an independent oracle, and prints a report. Its last stdout
line is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` — the ``end_to_end`` metrics of BENCHMARK.json with
``--trace 0``, its ``per_layer`` metrics with ``--trace 1``. Spans of a
traced run are written to ``.perfbench_traces/``. ``--workload all``
runs every workload, each in its own process.

Isolation: each run points TMPDIR, SPARK_LOCAL_DIRS, the JVM temp dir
and SPARK_GRAFT_WAREHOUSE into its scratch directory, deletes it at
exit (also on failure), and fails if a new ``mr_spark_*`` entry appears
in the system temp directory.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import importlib.util  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from inputs import Scale, write_tables, write_text_corpus  # noqa: E402

# Row counts keep one run of every workload inside the benchmark's time
# budget (JVM start, warm-up, the timed window and the output checks).
WORKLOADS = {
    "corpus_pipeline": Scale.tpch(0.001),
    "lakehouse_rw": Scale.tpch(0.01),
}


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    args = ap.parse_args(argv)
    if not 1 <= args.seconds <= 600:
        ap.error("--seconds must be between 1 and 600")
    if not 0 <= args.seed < 2**32:
        ap.error("--seed must be between 0 and 2**32 - 1")
    return args


def host_settings() -> dict[str, str]:
    """Engine settings sized to this host, through the engine's env knobs."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_gb = int(fh.readline().split()[1]) / 2**20
    return {
        "SPARK_GRAFT_CPUS": str(cpus),
        # the engine's 16g default can exceed RAM; the inputs are small
        "SPARK_GRAFT_DRIVER_MEM": f"{max(1, min(4, int(mem_gb // 4)))}g",
        "DUCKDB_THREADS": str(cpus),
    }


def isolate(work: str, settings: dict[str, str]) -> None:
    """Point every temp/scratch location of Python, Spark and the engine
    into ``work`` before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, d))
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
        # Python workers import map_reduce_spark by reference
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_SUBMIT_ARGS": (
            "--conf spark.ui.showConsoleProgress=false "
            f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" pyspark-shell'
        ),
        "SPARK_GRAFT_CPUS": settings["SPARK_GRAFT_CPUS"],
        "SPARK_GRAFT_DRIVER_MEM": settings["SPARK_GRAFT_DRIVER_MEM"],
    })
    tempfile.tempdir = None  # re-read TMPDIR


def mr_spark_entries(d: str) -> set[str]:
    return {n for n in os.listdir(d) if n.startswith("mr_spark_")}


def stop_spark() -> None:
    """Stop the session and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gw is None:
        return
    SparkContext._gateway = SparkContext._jvm = None
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def cpu_times() -> tuple[int, int]:
    with open("/proc/stat") as fh:
        v = [int(x) for x in fh.readline().split()[1:]]
    return v[7], sum(v)


def pct(values: list[float], q: float) -> float:
    """Linear-interpolated percentile ``q`` in [0, 1]."""
    v = sorted(values)
    if not v:
        return 0.0
    k = (len(v) - 1) * q
    lo = math.floor(k)
    return v[lo] + (v[min(lo + 1, len(v) - 1)] - v[lo]) * (k - lo)


def end_to_end(res, ctx) -> tuple[dict, list[str]]:
    """End-to-end metrics of an untraced run, plus report lines."""
    passes = [s for s, traced in res.passes if not traced]
    lat = [dt for _, _, dt, _ in res.ops]
    per_item: dict = {}
    for item, _, dt, _ in res.ops:
        per_item.setdefault(item, []).append(dt)
    medians = [statistics.median(v) for v in per_item.values()]
    m = {
        "setup_s": res.setup_end - T_START - ctx.inputs_s - res.oracle_s,
        "pass_s": statistics.median(passes),
        "query_geomean_s": math.exp(statistics.fmean(math.log(x) for x in medians)),
    }
    lines = [
        f"samples: {len(passes)} timed passes, {len(lat)} ops over {len(per_item)} roster items",
        f"inputs_s {ctx.inputs_s:.3f} s (ungated, before the clock)",
        "setup phases: " + ", ".join(f"{k} {v:.2f} s" for k, v in res.extra.items()),
    ]
    for kind in ("write", "read"):
        v = [dt for _, k, dt, _ in res.ops if k == kind]
        if not v:
            continue
        lines.append(f"{kind}_p50_s {pct(v, 0.5):.4f} s, {kind}_p90_s {pct(v, 0.9):.4f} s "
                     f"(n={len(v)}, ops of kind {kind})")
    lines.append("passes: " + " ".join(f"{s:.3f}" for s in passes))
    for item, v in sorted(per_item.items()):
        lines.append(f"  {item}: median {statistics.median(v):.4f} s of " + " ".join(f"{x:.3f}" for x in v))
    return m, lines


def per_layer(res, ctx, names: list[str], host: dict) -> dict:
    """Per-layer metrics of a traced run; a layer the workload bypasses
    reads 0."""
    traced = [s for s, t in res.passes if t]
    untraced = [s for s, t in res.passes if not t]
    m: dict = dict.fromkeys(names, 0.0)
    for k in {k for layer in res.layers for k in layer if k != "_latencies"}:
        m[k] = statistics.median(layer.get(k, 0.0) for layer in res.layers)
    lat: dict = {}
    for layer in res.layers:
        for k, v in layer.get("_latencies", {}).items():
            lat.setdefault(k, []).extend(v)
    for k, v in lat.items():
        if k.endswith(".scan_exec_s"):
            m[k] = statistics.median(v)
        else:
            m[f"{k}.p50_s"], m[f"{k}.p90_s"], m[f"{k}.count"] = pct(v, .5), pct(v, .9), len(v)
    for kind in ("write", "read"):
        v = [dt for _, k, dt, _ in res.ops if k == kind]
        m[f"ops.{kind}_p50_s"], m[f"ops.{kind}_p90_s"] = pct(v, .5), pct(v, .9)
        m[f"ops.{kind}s"] = len(v)
    m.update(res.extra)
    m.update(host)
    m["inputs.gen_s"] = ctx.inputs_s
    m["trace.pass_s"] = statistics.median(traced)
    m["trace.untraced_pass_s"] = statistics.median(untraced)
    m["trace.overhead_s"] = m["trace.pass_s"] - m["trace.untraced_pass_s"]
    unknown = set(m) - set(names)
    if unknown:
        raise KeyError(f"per-layer metrics missing from BENCHMARK.json: {sorted(unknown)}")
    return m


def run_all(args) -> int:
    """Every workload in its own process, one summary line each."""
    rc = 0
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=False)
        last = out.stdout.strip().splitlines()[-1] if out.stdout.strip() else "{}"
        print(out.stdout, end="")
        print(f"== {name} exit {out.returncode}: {last}")
        rc = rc or out.returncode
    return rc


def main(argv=None) -> int:
    args = parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if not os.path.isfile(os.path.join(ROOT, "map_reduce_spark", "__init__.py")):
        print("perfbench: map_reduce_spark not found next to perfbench/", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    settings = host_settings()
    sys_tmp = tempfile.gettempdir()
    tmp_before = mr_spark_entries(sys_tmp)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        isolate(work, settings)
        return run(args, spec, work, settings, sys_tmp, tmp_before)
    finally:
        try:
            stop_spark()
        finally:
            shutil.rmtree(work, ignore_errors=True)
            parent = os.path.dirname(work)
            if not os.listdir(parent):
                os.rmdir(parent)


def run(args, spec, work, settings, sys_tmp, tmp_before) -> int:
    import duckdb

    from tracing import Tracer
    from workloads import Ctx, run_corpus, run_lakehouse

    t0 = time.perf_counter()
    tables = os.path.join(work, "tables")
    write_tables(tables, args.seed, WORKLOADS[args.workload])
    corpus = os.path.join(work, "corpus")
    if args.workload == "corpus_pipeline":
        write_text_corpus(tables, corpus)
    inputs_s = time.perf_counter() - t0

    load0 = os.getloadavg()[0]
    t0 = time.perf_counter()
    from map_reduce_spark.session import get_spark

    spark = get_spark("perfbench")
    get_spark_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    from map_reduce_spark import registry

    queries = registry.queries()
    queries_s = time.perf_counter() - t0

    from map_reduce_spark.io import TABLES

    duck = duckdb.connect(config={"threads": int(settings["DUCKDB_THREADS"])})
    for t in TABLES:
        duck.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables}/{t}.parquet')")
    oracle_path = os.path.join(ROOT, "tests", "oracle.py")
    canon_spec = importlib.util.spec_from_file_location("perfbench_oracle", oracle_path)
    canon = importlib.util.module_from_spec(canon_spec)
    canon_spec.loader.exec_module(canon)

    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    tracer = Tracer(spark, False, run_id)
    ctx = Ctx(spark=spark, tracer=tracer, work=work, tables=tables, seed=args.seed,
              seconds=args.seconds, trace=bool(args.trace), inputs_s=inputs_s,
              duck=duck, canon=canon)
    steal0 = cpu_times()
    if args.workload == "lakehouse_rw":
        res = run_lakehouse(ctx, WORKLOADS["lakehouse_rw"].orders)
    else:
        res = run_corpus(ctx, queries, corpus)
    steal1 = cpu_times()
    host = {
        "host.steal_pct": 100.0 * (steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1),
        "host.loadavg_1m_start": load0,
        "host.loadavg_1m_end": os.getloadavg()[0],
    }
    res.extra["session.get_spark_s"] = get_spark_s
    res.extra["registry.queries_s"] = queries_s
    if args.trace:
        import bench  # the repository's frozen shuffle probe

        host["host.calib_shuffle_s"] = bench._calibrate_shuffle(spark)
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{jvm_pid}/status") as fh:
            hwm = next(int(x.split()[1]) for x in fh if x.startswith("VmHWM"))
        res.extra["session.jvm_peak_rss_mb"] = hwm / 1024
        res.extra["session.python_peak_rss_mb"] = (
            resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024)

    stop_spark()
    leaked = sorted(mr_spark_entries(sys_tmp) - tmp_before)
    res.attempted += 1
    if leaked:
        res.failed += 1
        print(f"[perfbench] FAILED isolation: new entries in {sys_tmp}: {leaked}", file=sys.stderr)

    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "settings": settings, "inputs": WORKLOADS[args.workload].__dict__}
    print("run record: " + json.dumps(record))
    if args.trace:
        names = [x["name"] for x in spec["per_layer"]]
        units = {x["name"]: x["unit"] for x in spec["per_layer"]}
        values = per_layer(res, ctx, names, host)
        lines = []
        trace_dir = os.path.join(ROOT, ".perfbench_traces")
        os.makedirs(trace_dir, exist_ok=True)
        tracer.dump(os.path.join(trace_dir, f"{run_id}.jsonl"))
    else:
        names = [x["name"] for x in spec["end_to_end"]]
        units = {x["name"]: x["unit"] for x in spec["end_to_end"]}
        values, lines = end_to_end(res, ctx)
        lines += [f"{k} {v:.3f}" for k, v in host.items()]
    for line in lines:
        print(line)
    metrics = {n: {"value": float(values[n]), "unit": units[n]} for n in names}
    for n in names:
        print(f"{n:40s} {values[n]:14.6f} {units[n]}")
    print(json.dumps({"correct": res.failed == 0, "attempted": res.attempted,
                      "failed": res.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
