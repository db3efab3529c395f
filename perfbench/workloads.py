"""The benchmark's workloads.

Each workload gets a prepared ``Ctx``, runs one untimed warm-up pass,
then timed passes until the window closes, and checks its outputs.
It returns a ``Result`` of per-op latencies and per-layer counters; the
caller turns those into metrics. Ops that raise are logged with their
traceback and counted as failed, never retried, and the run goes on.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
import traceback
from collections import defaultdict
from dataclasses import dataclass, field
from urllib.parse import urlparse

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


WORD_COUNT = "mapreduce.word_count"
WORD_COUNT_R = 8  # reduce partitions, the reference's R

# The ROADMAP item-4 corpus queries that fit one run's time budget;
# health_report_fold (25 exchanges, 31 jobs) is the scheduling-bound one.
CORPUS_ROSTER = ["health_report_fold", "quality_classifier", "count_min_freq"]


@dataclass
class Ctx:
    spark: object
    tracer: object
    work: str  # private scratch of this run
    tables: str  # generated parquet tables
    seed: int
    seconds: float
    trace: bool  # traced run: some timed passes record spans and counters
    inputs_s: float
    duck: object  # DuckDB connection with a view per table
    canon: object  # tests/oracle.py (_canon, _key)


@dataclass
class Result:
    setup_end: float = 0.0
    passes: list = field(default_factory=list)  # (seconds, traced)
    ops: list = field(default_factory=list)  # (item, kind, seconds, pass_no)
    attempted: int = 0
    failed: int = 0
    layers: list = field(default_factory=list)  # one counter dict per traced pass
    oracle_s: float = 0.0  # the checks' own time before the clock, kept out of setup_s
    extra: dict = field(default_factory=dict)  # run-level per-layer values


def _fail(res: Result, what: str) -> None:
    res.failed += 1
    print(f"[perfbench] FAILED {what}", file=sys.stderr)
    traceback.print_exc(file=sys.stderr)


def _run_window(ctx: Ctx, res: Result, run_pass) -> None:
    """Warm up once, then run timed passes until ``ctx.seconds`` pass.
    The traced run makes at least four passes in the order untraced,
    traced, traced, untraced, so one run gives both the per-layer
    counters and the tracing overhead, with the warm-up trend cancelled."""
    t0 = time.perf_counter()
    run_pass(-1, False)
    res.setup_end = time.perf_counter()
    res.extra["setup.warmup_s"] = res.setup_end - t0
    p = 0
    while True:
        traced = ctx.trace and p % 4 in (1, 2)
        t0 = time.perf_counter()
        run_pass(p, traced)
        res.passes.append((time.perf_counter() - t0, traced))
        p += 1
        elapsed = time.perf_counter() - res.setup_end
        need_traced = ctx.trace and p < 4
        if elapsed >= ctx.seconds and not need_traced:
            break


def frames_match(canon, got, want) -> bool:
    """Order-insensitive value equality through tests/oracle.py's
    canonicalizer (the harness every oracle row is checked with)."""
    a, b = canon._canon(got), canon._canon(want)
    if list(a.columns) != list(b.columns) or len(a) != len(b):
        return False
    ka = sorted(canon._key(r) for r in a.itertuples(index=False, name=None))
    kb = sorted(canon._key(r) for r in b.itertuples(index=False, name=None))
    return ka == kb


# --- corpus_pipeline -----------------------------------------------------------


def run_corpus(ctx: Ctx, queries: dict, corpus_dir: str) -> Result:
    """CORPUS_ROSTER plus the reference's word count over the same
    documents, in a seeded order per pass. Timed passes build each query,
    run it through the noop sink and release its stage caches. The
    untimed warm-up pass doubles as the output check: it collects every
    result and compares it with its oracle, which keeps one run inside
    the benchmark's time budget."""
    from map_reduce_spark import registry
    from map_reduce_spark.mapreduce import word_count
    from map_reduce_spark.session import release_caches

    res = Result()
    tr = ctx.tracer
    missing = [q for q in CORPUS_ROSTER if q not in queries]
    if missing:
        raise KeyError(f"queries not registered: {missing}")
    oracles = registry.oracle_sql()
    items = CORPUS_ROSTER + [WORD_COUNT]
    rng = np.random.default_rng(ctx.seed)
    spark = ctx.spark

    def check(name: str) -> None:
        """Collect one output and compare it with its oracle; the oracle's
        own time is kept out of setup_s."""
        if name == WORD_COUNT:
            got = dict(word_count(spark, corpus_dir, WORD_COUNT_R).collect())
            t0 = time.perf_counter()
            same = got == _sequential_word_count(corpus_dir)
        else:
            got = queries[name](spark, ctx.tables).toPandas()
            release_caches()
            t0 = time.perf_counter()
            same = name not in oracles or frames_match(
                ctx.canon, got, ctx.duck.execute(oracles[name]).fetchdf())
        res.oracle_s += time.perf_counter() - t0
        if not same:
            raise AssertionError(f"{name}: output differs from its oracle")

    def query_op(name: str, g: str, acc: dict) -> float:
        t0 = time.perf_counter()
        with tr.span(f"operators.build:{name}", group=f"{g}:build"):
            df = queries[name](spark, ctx.tables)
        t1 = time.perf_counter()
        with tr.span(f"spark_exec.exec:{name}", group=f"{g}:exec"):
            df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        with tr.span("session.release_caches"):
            released = release_caches()
        t3 = time.perf_counter()
        if tr.enabled:
            acc["operators.build_s"] += t1 - t0
            acc["operators.build_jobs"] += tr.stage_totals(f"{g}:build")["jobs"]
            acc["spark_exec.exec_s"] += t2 - t1
            for k, v in tr.stage_totals(f"{g}:exec").items():
                acc[f"spark_exec.{k}"] += v
            acc["session.release_caches_s"] += t3 - t2
            acc["session.released_frames"] += released
        return t3 - t0

    def word_count_op(g: str, acc: dict) -> float:
        t0 = time.perf_counter()
        with tr.span(WORD_COUNT, group=g):
            word_count(spark, corpus_dir, WORD_COUNT_R).count()
        dt = time.perf_counter() - t0
        if tr.enabled:
            acc["mapreduce.word_count_s"] += dt
            for k, v in tr.stage_totals(g).items():
                acc[f"mapreduce.{k}"] += v
        return dt

    def run_pass(p: int, traced: bool) -> None:
        tr.enabled = traced
        acc: dict = defaultdict(float)
        with tr.span(f"pass:{p}"):
            for name in rng.permutation(items):
                name = str(name)
                res.attempted += 1
                g = f"p{p}:{name}"
                try:
                    if p < 0:
                        check(name)
                        continue
                    with tr.span(f"op:{name}"):
                        dt = word_count_op(g, acc) if name == WORD_COUNT else query_op(name, g, acc)
                except Exception:
                    release_caches()
                    _fail(res, f"{name} ({'check' if p < 0 else f'pass {p}'})")
                    continue
                res.ops.append((name, "query", dt, p))
        if traced:
            res.layers.append(dict(acc))
        tr.enabled = False

    _run_window(ctx, res, run_pass)
    res.extra["verify.checks_s"] = res.oracle_s
    return res


def _sequential_word_count(corpus_dir: str) -> dict:
    """The reference's sequential job: mapper per file, group, reducer."""
    from map_reduce_spark.mapreduce import word_count_mapper, word_count_reducer

    groups: dict = defaultdict(list)
    for fname in sorted(os.listdir(corpus_dir)):
        path = os.path.join(corpus_dir, fname)
        with open(path, encoding="utf-8") as fh:
            for k, v in word_count_mapper(path, fh.read()):
                groups[k].append(v)
    return {k: word_count_reducer(k, vs) for k, vs in groups.items()}


# --- lakehouse_rw --------------------------------------------------------------

_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "price_cents", "o_orderpriority"]
_SCHEMA_DDL = (
    "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
    "price_cents bigint, o_orderpriority string"
)
# Base keys are o_orderkey * KEY_STRIDE, so an upsert can insert fresh keys
# inside the key window it updates and stay as file-selective as the rest.
KEY_STRIDE = 4
_BASE_SQL = (
    f"SELECT o_orderkey * {KEY_STRIDE} AS o_orderkey, o_custkey, o_orderstatus, "
    "CAST(round(o_totalprice * 100, 0) AS BIGINT) AS price_cents, o_orderpriority "
    "FROM orders"
)
# The op log, in order; a predicate read follows every second write.
# "mor_delete" is Iceberg's merge-on-read commit_positional_deletes; Delta
# applies the same delete copy-on-write (delete_where).
WRITES = ["append", "merge", "update", "delete", "mor_delete", "compact"]
BASE_COMMITS = 2  # the seed tables' history; a pass's commits then reach the
APPEND_BATCHES = 4  # Delta checkpoint interval (10) from a fresh clone
BATCH_ROWS = 200  # rows per micro-batch; each micro-batch is one commit
MERGE_ROWS = 60


def make_op_log(rng, n_orders: int, batch_dir: str) -> list[dict]:
    """The seeded op log every pass applies: appends, a keyed upsert, an
    update, deletes and one compaction, each touching a seeded key
    window so rewrites stay file-selective. Append micro-batches and the
    merge source are parquet files written here, before the clock; every
    key they insert is fresh, so the table stays key-unique."""
    os.makedirs(batch_dir, exist_ok=True)
    next_key = n_orders * KEY_STRIDE  # appends land above every base key
    width = n_orders // 100  # base rows per key window
    log: list[dict] = []

    def rows(keys: np.ndarray, tag: str) -> pa.Table:
        n = len(keys)
        return pa.table({
            "o_orderkey": pa.array(keys, pa.int64()),
            "o_custkey": pa.array(rng.integers(0, max(n_orders // 10, 1), n), pa.int64()),
            "o_orderstatus": rng.choice(["O", "F", "P"], n).tolist(),
            "price_cents": pa.array(rng.integers(100_000, 50_000_000, n), pa.int64()),
            "o_orderpriority": [tag] * n,
        })

    def window_start() -> int:
        return int(rng.integers(0, n_orders - width)) * KEY_STRIDE

    def window() -> str:
        lo = window_start()
        return f"o_orderkey BETWEEN {lo} AND {lo + width * KEY_STRIDE}"

    for i, kind in enumerate(WRITES):
        op: dict = {"kind": kind}
        if kind == "append":
            op["files"] = []
            for b in range(APPEND_BATCHES):
                path = os.path.join(batch_dir, f"append{i}_{b}.parquet")
                pq.write_table(rows(np.arange(next_key, next_key + BATCH_ROWS), "STREAM"), path)
                next_key += BATCH_ROWS
                op["files"].append(path)
        elif kind == "merge":
            lo = window_start()
            old = lo + KEY_STRIDE * rng.choice(width, MERGE_ROWS // 2, replace=False)
            new = lo + 1 + KEY_STRIDE * rng.choice(width, MERGE_ROWS // 2, replace=False)
            op["file"] = os.path.join(batch_dir, f"merge{i}.parquet")
            pq.write_table(rows(np.concatenate([old, new]), "MERGED"), op["file"])
        elif kind == "update":
            op["pred"] = f"{window()} AND o_orderstatus = 'O'"
            op["set"] = {"price_cents": f"price_cents + {int(rng.integers(1, 999))}",
                         "o_orderpriority": "'UPDATED'"}
        elif kind == "delete":
            op["pred"] = f"{window()} AND o_orderstatus = 'F'"
        elif kind == "mor_delete":
            op["pred"] = f"{window()} AND o_orderpriority = '5-LOW'"
        log.append(op)
        if i % 2 == 1:
            lo = int(rng.integers(0, n_orders)) * KEY_STRIDE
            log.append({"kind": "read", "pred": f"o_orderkey BETWEEN {lo} AND {lo + n_orders}"})
    return log


class _Format:
    """The op log's calls into one table format's public functions."""

    def __init__(self, name: str, mod, spark) -> None:
        self.name, self.mod, self.spark = name, mod, spark
        self.delta = name == "delta_py"

    def create(self, df, table: str) -> None:
        if self.delta:
            self.mod.write_delta_py(df, table, stats_cols=("o_orderkey",))
        else:
            self.mod.append_iceberg_snapshot(df, table)

    def clone(self, src: str, dest: str) -> None:
        (self.mod.clone_delta_table if self.delta else self.mod.clone_iceberg_table)(src, dest)

    def read(self, table: str):
        if self.delta:
            return "read_delta_py", self.mod.read_delta_py(self.spark, table)
        return "read_iceberg_py", self.mod.read_iceberg_py(self.spark, table)

    def apply(self, op: dict, table: str, stream_dir: str, chk_dir: str) -> str:
        """Run one write op; returns the public function's name."""
        from pyspark.sql import functions as F

        m, spark, kind = self.mod, self.spark, op["kind"]
        stats = {"stats_cols": ("o_orderkey",)} if self.delta else {}
        if kind == "append":
            for f in op["files"]:
                os.link(f, os.path.join(stream_dir, os.path.basename(f)))
            src = (spark.readStream.schema(_SCHEMA_DDL).option("maxFilesPerTrigger", 1)
                   .parquet(stream_dir))
            fn = m.write_stream_delta if self.delta else m.write_stream_iceberg
            fn(src, table, "ingest", chk_dir)
            return fn.__name__
        if kind == "merge":
            src = spark.read.schema(_SCHEMA_DDL).parquet(op["file"])
            fn = m.merge_upsert if self.delta else m.merge_iceberg_upsert
            fn(spark, table, src, "o_orderkey", **stats)
            return fn.__name__
        if kind == "update":
            sets = {c: F.expr(e) for c, e in op["set"].items()}
            fn = m.update_where if self.delta else m.update_iceberg_where
            fn(spark, table, F.expr(op["pred"]), sets, **stats)
            return fn.__name__
        if kind == "delete" or (kind == "mor_delete" and self.delta):
            fn = m.delete_where if self.delta else m.delete_iceberg_where
            fn(spark, table, F.expr(op["pred"]), **stats)
            return fn.__name__
        if kind == "mor_delete":
            m.commit_positional_deletes(spark, table, F.expr(op["pred"]))
            return "commit_positional_deletes"
        if kind == "compact":
            if self.delta:
                m.optimize_compact(spark, table, **stats)
                return "optimize_compact"
            m.compact_iceberg_files(spark, table, out_files=4)
            return "compact_iceberg_files"
        raise ValueError(f"unknown op kind {kind!r}")


def _tree(table: str) -> dict[str, int]:
    out = {}
    for root, _dirs, names in os.walk(table):
        for n in names:
            p = os.path.join(root, n)
            out[p] = os.stat(p).st_size
    return out


def _write_counts(fmt: str, table: str, before: dict, after: dict) -> dict[str, float]:
    """Exact counts of what one op wrote, from a diff of the table tree."""
    new = {p: s for p, s in after.items() if p not in before}
    acc: dict = defaultdict(float)
    for p, size in new.items():
        rel = os.path.relpath(p, table)
        if fmt == "delta_py":
            if rel.startswith("_delta_log"):
                acc["log_bytes_written"] += size
                name = os.path.basename(p)
                if name.endswith(".json") and name[:-5].isdigit():
                    acc["commits"] += 1
                elif ".checkpoint." in name:
                    acc["checkpoints_written"] += 1
            elif p.endswith(".parquet"):
                acc["data_bytes_written"] += size
        else:
            if rel.startswith("metadata"):
                acc["metadata_bytes_written"] += size
                if p.endswith(".metadata.json"):
                    acc["commits"] += 1
            elif p.endswith(".parquet"):
                acc["data_bytes_written"] += size
    return acc


def run_lakehouse(ctx: Ctx, n_orders: int) -> Result:
    from pyspark.sql import functions as F

    from map_reduce_spark.sources import delta_py, iceberg_py

    res = Result()
    tr = ctx.tracer
    spark = ctx.spark
    rng = np.random.default_rng(ctx.seed)
    log = make_op_log(rng, n_orders, os.path.join(ctx.work, "oplog"))
    fmts = [_Format("delta_py", delta_py, spark), _Format("iceberg_py", iceberg_py, spark)]
    orders = (spark.read.parquet(os.path.join(ctx.tables, "orders.parquet"))
              .select((F.col("o_orderkey") * KEY_STRIDE).alias("o_orderkey"),
                      "o_custkey", "o_orderstatus",
                      F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("price_cents"),
                      "o_orderpriority"))
    bases = {}
    t0 = time.perf_counter()
    for f in fmts:
        bases[f.name] = os.path.join(ctx.work, "base", f.name)
        with tr.span(f"{f.name}.create"):
            for b in range(BASE_COMMITS):  # one key range per commit
                lo, hi = (KEY_STRIDE * b * n_orders // BASE_COMMITS,
                          KEY_STRIDE * (b + 1) * n_orders // BASE_COMMITS)
                f.create(orders.filter((F.col("o_orderkey") >= lo) & (F.col("o_orderkey") < hi))
                         .repartitionByRange(2, "o_orderkey"), bases[f.name])
    res.extra["setup.tables_s"] = time.perf_counter() - t0
    reads: dict = {}  # (pass, op index, format) -> (count, sum)
    last_tables: dict = {}

    def run_pass(p: int, traced: bool) -> None:
        tr.enabled = traced
        acc: dict = defaultdict(float)
        lat: dict = defaultdict(list)
        pdir = os.path.join(ctx.work, f"pass{p}")
        tables = {}
        with tr.span(f"pass:{p}"):
            for f in fmts:
                tables[f.name] = os.path.join(pdir, f.name)
                os.makedirs(os.path.join(pdir, f"stream_{f.name}"))
                with tr.span(f"{f.name}.clone"):
                    f.clone(bases[f.name], tables[f.name])
            for i, op in enumerate(log):
                for f in fmts:
                    res.attempted += 1
                    table = tables[f.name]
                    before = _tree(table) if traced else None
                    try:
                        t0 = time.perf_counter()
                        if op["kind"] == "read":
                            fn, df = f.read(table)
                            t1 = time.perf_counter()
                            with tr.span(f"{f.name}.{fn}", group=f"p{p}:{i}:{f.name}"):
                                row = (df.filter(F.expr(op["pred"]))
                                       .agg(F.count("*"), F.sum("price_cents")).collect()[0])
                            dt = time.perf_counter() - t0
                            reads[(p, i, f.name)] = (int(row[0]), int(row[1] or 0))
                            kind = "read"
                            if traced:
                                lat[f"{f.name}.{fn}.scan_exec_s"].append(time.perf_counter() - t1)
                        else:
                            with tr.span(f"{f.name}.{op['kind']}", group=f"p{p}:{i}:{f.name}"):
                                fn = f.apply(op, table, os.path.join(pdir, f"stream_{f.name}"),
                                             os.path.join(pdir, f"chk_{f.name}"))
                            dt = time.perf_counter() - t0
                            kind = "write"
                    except Exception:
                        _fail(res, f"{f.name} {op['kind']} op {i} (pass {p})")
                        continue
                    if p >= 0:
                        res.ops.append((f"{f.name}.{fn}", kind, dt, p))
                    if traced:
                        lat[f"{f.name}.{fn}"].append(dt)
                        if kind == "write":
                            for k, v in _write_counts(f.name, table, before, _tree(table)).items():
                                acc[f"{f.name}.{k}"] += v
            if traced:
                for f in fmts:
                    _, df = f.read(tables[f.name])
                    live = df.inputFiles()
                    live_bytes = sum(os.path.getsize(urlparse(x).path) for x in live)
                    acc[f"{f.name}.live_files"] = len(live)
                    acc[f"{f.name}.space_amp"] = sum(_tree(tables[f.name]).values()) / live_bytes
        if traced:
            acc["_latencies"] = dict(lat)
            res.layers.append(dict(acc))
        tr.enabled = False
        if last_tables:  # only the latest pass's tables are checked
            shutil.rmtree(os.path.dirname(next(iter(last_tables.values()))))
        last_tables.update(tables)

    _run_window(ctx, res, run_pass)
    t0 = time.perf_counter()
    _verify_lakehouse(ctx, res, log, fmts, reads, last_tables)
    res.extra["verify.checks_s"] = time.perf_counter() - t0
    return res


def _verify_lakehouse(ctx: Ctx, res: Result, log, fmts, reads, tables) -> None:
    """Replay the op log in DuckDB; every timed read and both final
    tables must equal the replay."""
    con = ctx.duck
    con.execute(f"CREATE OR REPLACE TABLE lake AS {_BASE_SQL}")
    want_reads = {}
    for i, op in enumerate(log):
        kind = op["kind"]
        if kind == "append":
            files = ", ".join(f"'{f}'" for f in op["files"])
            con.execute(f"INSERT INTO lake SELECT {', '.join(_COLS)} FROM read_parquet([{files}])")
        elif kind == "merge":
            src = f"read_parquet('{op['file']}')"
            con.execute(f"DELETE FROM lake WHERE o_orderkey IN (SELECT o_orderkey FROM {src})")
            con.execute(f"INSERT INTO lake SELECT {', '.join(_COLS)} FROM {src}")
        elif kind == "update":
            sets = ", ".join(f"{c} = {e}" for c, e in op["set"].items())
            con.execute(f"UPDATE lake SET {sets} WHERE {op['pred']}")
        elif kind in ("delete", "mor_delete"):
            con.execute(f"DELETE FROM lake WHERE {op['pred']}")
        elif kind == "read":
            c, s = con.execute(
                f"SELECT count(*), coalesce(sum(price_cents), 0) FROM lake WHERE {op['pred']}"
            ).fetchone()
            want_reads[i] = (int(c), int(s))
    for (p, i, fmt), got in sorted(reads.items()):
        if p < 0:
            continue
        res.attempted += 1
        if got != want_reads[i]:
            res.failed += 1
            print(f"[perfbench] FAILED read {i} on {fmt} (pass {p}): {got} != {want_reads[i]}",
                  file=sys.stderr)
    want = con.execute(f"SELECT {', '.join(_COLS)} FROM lake").fetchdf()
    for f in fmts:
        res.attempted += 1
        try:
            _, df = f.read(tables[f.name])
            if not frames_match(ctx.canon, df.select(*_COLS).toPandas(), want):
                raise AssertionError(f"final {f.name} table differs from the DuckDB replay")
        except Exception:
            _fail(res, f"verify final {f.name} state")
