#!/usr/bin/env python
"""Benchmark: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints the machine-read JSON line LAST — compact (totals +
calibration; it must fit the driver's stdout tail capture, which the
round-9 per-query maps outgrew):
  {"metric": "...", "value": <total sec>, "unit": "sec", "sf": ...,
   "calib_sec": ..., "calib_shuffle_sec": ..., ...}

Immediately before it comes the warm per-query map in positional form,
{"metric": "per_query_warm", "roster": <8 hex of sha1(",".join(HEADLINE))>,
"cpus": ..., "sf": ..., "v": [warm sec per HEADLINE entry, 2 decimals]};
the two lines together stay under the driver's 2000-char tail.

The full per-query maps ({"queries": {q: sec}, "queries_norm":
{q: sec/calib_shuffle_sec}, "cold": {...}, "records": {q: best warm
run record}}) are written to BENCH_DETAIL.json AND to a per-run
stamped file (BENCH_DETAIL_cpus<N>_sf<sf>.json, so a second run at a
different core count cannot clobber the first run's detail), and
printed once as a single detail line.

Every query runs through ``map_reduce_spark.runlog.time_roster``: one
cold pass, then three warm passes, min per query (noop sink: full
execution, no driver-side collection cost).
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# headline set: the flagship pipeline + one representative per operator
# family (agg, star join, fact join, window, sessionization, dedup
# exact+fuzzy, similarity, text analysis, event analytics, graph)
HEADLINE = [
    "mr_pipeline",
    "q1_pricing_summary",
    "q5_region_revenue",
    "join_fact_fact",
    "window_row_number_topk",
    "window_tumbling",
    "session_window",
    "dedup_exact",
    "dedup_minhash_lsh",
    "embedding_topk",
    "ivf_assign",
    "asof_join",
    "text_quality",
    "pivot_event_counts",
    "funnel_analysis",
    "textrank_keywords",
    "dedup_simhash_portable",
    "doc_chunking",
    "bm25_rank",
    "dq_checks",
    # round 3 additions: oracle-verified ANN twin + real-PNG-codec chain
    # + IVF probe search + product quantization
    "ann_lsh_topk_portable",
    "multimodal_pipeline",
    "ivf_topk",
    "pq_encode",
    # round 3 additions: sub-document dedup + CCNet-style curation
    "dedup_spans",
    "boilerplate_dedup",
    "quality_classifier",
    # round 3 additions: semantic dedup, portable CMS, BPE training,
    # band-blocked record linkage
    "dedup_semantic",
    "count_min_freq",
    "bpe_train_merges",
    "entity_resolution",
    # round 3 additions: kNN graph, sorted-neighborhood linkage,
    # winsorization, linear-counting sketch
    "knn_graph",
    "sorted_neighborhood_pairs",
    "winsorize_values",
    "distinct_linear_counting",
    # round 4 additions: DSIR importance weighting, fuzzy (MinHash)
    # benchmark decontamination, the composed decontaminate-and-select
    # pipeline, the re-keyed cell-blocked cosine dedup, and the two
    # hourly resamplers (interpolate carried an O(range^2) window frame
    # until r4 — keep it visible)
    "dsir_weights",
    "contamination_minhash",
    "select_pretraining_data",
    "dedup_embedding_cosine",
    "gap_fill_hourly",
    "interpolate_hourly",
    # round 5 additions: incremental batch-vs-index dedup, and the
    # mixed-media decode ladder now that it does real PNG/GIF/JPEG
    # raster decode (codec throughput belongs in the headline)
    "dedup_incremental",
    "multimodal_features",
    # round 6 addition: incremental IVF/PQ index maintenance (the other
    # daily-batch fold; pairs with dedup_incremental)
    "ann_index_upsert",
    "centroid_retrain",
    # round 6 additions: the corpus-monitoring family (per-drop PSI
    # drift, cross-source trigram overlap, first-drop curation funnel)
    "drift_psi",
    "source_overlap",
    "curation_funnel",
    # round 7 additions: the two fold operators completing the
    # incremental stories (N-delta ANN metadata compaction; the
    # admission report as a fold over per-batch state)
    "ann_index_compact",
    "health_report_fold",
    # round 7 additions: signature-index compaction (the dedup mirror
    # of ann_index_compact) and the IVF recall gate that closes the
    # maintenance loop
    "dedup_index_compact",
    "ann_recall_eval",
    # round 8 additions: the un-gated source/table-format families —
    # Avro container decode, Delta log-replay scan + transactional
    # MERGE + txn-deduped stream ingest, and the pushdown DB source
    # (fixture conversion happens in the warm-up pass: "data already
    # lives there" is each operator's contract)
    "avro_scan",
    "delta_scan",
    "delta_merge_upsert",
    "streaming_delta_sink",
    "sqlite_scan",
    "iceberg_scan",
    # round 9 additions: the merge-on-read read paths (positional
    # deletes / deletion vectors applied as metadata-column anti-joins)
    "iceberg_mor_scan",
    "delta_dv_scan",
    # later round 9: partitioned-Iceberg plan pruning (hidden partitions
    # + footer bounds), the COW merge/delete pair, the exactly-once
    # Iceberg stream sink, and the plain-format scans
    "iceberg_partition_prune",
    "iceberg_minmax_prune",
    "iceberg_merge_upsert",
    "iceberg_delete_where",
    "streaming_iceberg_sink",
    "orc_scan",
    "csv_scan",
    "json_scan",
    # later round 9: MOR-resolving compaction, spec evolution, and the
    # zero-copy Delta->Iceberg migration
    "iceberg_compact_mor",
    "iceberg_partition_evolution",
    "migrate_delta_to_iceberg",
    "migrate_iceberg_to_delta",
    "iceberg_production_loop",
    "delta_partition_prune",
    "iceberg_rewrite_sorted",
    "streaming_iceberg_source",
    "delta_update_where",
    "delta_restore",
    "iceberg_update_where",
    "iceberg_rollback",
    # round 10 additions: v2-checkpoint-seeded Delta read (expired
    # json log, sidecar chase) and the name-mapping Iceberg read
    # across a column rename
    "delta_v2_checkpoint_scan",
    "iceberg_name_mapping_scan",
    "iceberg_bucket_time_prune",
    "delta_cdf_scan",
    "iceberg_changelog_scan",
    "iceberg_orphan_sweep",
    "streaming_delta_cdf",
    "iceberg_files_metadata",
    "delta_history_metadata",
    # round 11 additions: the automatic v2-checkpoint-policy write
    # path read back through its own manifest, and CDF over a
    # column-mapped + DV-deleted table
    "delta_v2_checkpoint_policy_scan",
    "delta_cdf_mapped_dv_scan",
    "delta_log_retention_scan",
]


def _calibrate(spark) -> float:
    """Fixed-cost VM-drift probe: a FROZEN plan (literal range + hash
    agg, no testdata, no repo operators) whose cost can only move with
    the machine. Round-over-round, BENCH_rN.calib_sec / BENCH_rM
    .calib_sec measures host drift directly, so query deltas can be
    normalized instead of asserted away (round-3 verdict item 3).

    This probe is map-only (32 partial aggs, one tiny final reduce):
    it reads raw per-core CPU speed but is nearly blind to shuffle-
    machinery pressure and to co-tenant core stealing that shows up
    only when all 32 cores contend — see ``_calibrate_shuffle``."""
    import time as _t

    best = float("inf")
    for _ in range(3):
        t0 = _t.perf_counter()
        # bit_xor, not sum: summing 200M hashes overflows long under ANSI
        spark.range(0, 200_000_000, 1, 32).selectExpr(
            "bit_xor(xxhash64(id)) AS h"
        ).write.format("noop").mode("overwrite").save()
        best = min(best, _t.perf_counter() - t0)
    return round(best, 3)


def _calibrate_shuffle(spark) -> float:
    """Parallel CONTENTION probe (round-5 verdict item 1): a FROZEN
    32->32 shuffle + wide hash-agg plan that exercises exactly what the
    headline queries exercise — all 32 cores at once, exchange
    serialization, shuffle spill files, and the final-agg fan-in.

    The map-only ``calib_sec`` probe rated the r5 driver VM *faster*
    than r4's while 40 untouched queries ran 10-30% slower: a co-tenant
    stealing cores barely moves a 0.2 s map-only burst but stretches
    every multi-stage query. This probe moves WITH that contention, so
    BENCH_rN.calib_shuffle_sec / BENCH_rM.calib_shuffle_sec normalizes
    query deltas for the contention component, not just CPU drift."""
    import time as _t

    best = float("inf")
    for _ in range(3):
        t0 = _t.perf_counter()
        # 50M rows hashed onto 4096 keys, full exchange, 32-way final
        # agg: partial agg -> shuffle write -> shuffle read -> final agg
        # is the canonical headline-query stage shape.
        spark.range(0, 50_000_000, 1, 32).selectExpr(
            "pmod(xxhash64(id), 4096) AS k", "id"
        ).groupBy("k").agg(
            F.expr("bit_xor(xxhash64(id)) AS h")
        ).write.format("noop").mode("overwrite").save()
        best = min(best, _t.perf_counter() - t0)
    return round(best, 3)


def _host_load() -> list[float]:
    """1/5/15-minute load averages — a direct co-tenant/contention
    reading taken outside Spark entirely. On the 32-core bench host a
    1-minute load already >5 before the first query is the smoking gun
    the r5 artifact lacked."""
    try:
        return [round(x, 2) for x in os.getloadavg()]
    except (OSError, AttributeError):  # platform without getloadavg
        return []


def _proc_stat() -> tuple[int, int] | None:
    """(steal, total) jiffies from /proc/stat. The bench host is a
    shared VM (cumulative steal is nonzero); hypervisor steal accrues
    exactly when this guest wants cycles it doesn't get, so the steal
    fraction OVER THE BENCH WINDOW is the definitive co-tenant
    contention reading — it cannot be confounded by our own load the
    way load averages can."""
    try:
        v = list(map(int, open("/proc/stat").readline().split()[1:]))
        return v[7], sum(v)
    except (OSError, IndexError, ValueError):
        return None


def main() -> None:
    from map_reduce_spark.runlog import time_roster
    from map_reduce_spark.session import _cpus, get_spark

    load_start = _host_load()  # contention reading BEFORE Spark ramps up
    stat_start = _proc_stat()
    spark = get_spark("bench")

    calib = _calibrate(spark)  # also serves as JVM/codegen first warm-up
    calib_shuffle = _calibrate_shuffle(spark)

    # pass 1 (cold): JVM JIT + codegen warm-up, recorded separately;
    # passes 2-4 (warm): min per query, the headline number — min-of-3
    # damps scheduler/GC jitter (run-to-run VM noise of up to ~40%
    # observed). Per-pass totals make INTRA-run host drift (a
    # co-tenant arriving mid-run) visible in the artifact. Each run
    # releases its stage caches outside the timer, so cached frames
    # never accumulate across passes (the round-3 mr_pipeline outlier).
    roster = time_roster(spark, HEADLINE, SF_DIR, warm=3)
    runs = roster["queries"]
    cold = {n: r["cold"]["total_s"] for n, r in runs.items()}
    timings = {n: r["best"]["total_s"] for n, r in runs.items()}

    stat_end = _proc_stat()
    steal_pct = None
    if stat_start and stat_end and stat_end[1] > stat_start[1]:
        steal_pct = round(
            100.0 * (stat_end[0] - stat_start[0]) / (stat_end[1] - stat_start[1]), 3
        )

    sf = os.path.basename(SF_DIR.rstrip("/")).replace("sf", "")
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf
    # calib-normalized twins (round-8 verdict item 7): query_sec /
    # calib_shuffle_sec is a host-independent unit ("how many frozen
    # contention-probe runs this query costs"), so cross-round
    # comparison no longer needs manual host-factor arithmetic —
    # BENCH_rN.queries_norm[q] / BENCH_rM.queries_norm[q] reads
    # directly as the query's own change.
    norm_base = calib_shuffle if calib_shuffle > 0 else None
    queries_norm = (
        {n: round(t / norm_base, 3) for n, t in timings.items()} if norm_base else {}
    )
    # Per-run stamped detail file (round-11 VERDICT item 1): the driver
    # benches at TWO core counts per round, and a single BENCH_DETAIL
    # .json was overwritten by the second (low-core) run, losing the
    # main run's per-query map. The stamped name keeps every
    # configuration's detail on disk; the legacy name stays for
    # existing tooling.
    stamped = f"BENCH_DETAIL_cpus{_cpus()}_sf{sf}.json"
    summary = {
        "metric": "headline_queries_total_sec",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "value_norm": (
            round(sum(timings.values()) / norm_base, 3) if norm_base else None
        ),
        "n_queries": len(timings),
        "cold_total_sec": round(sum(cold.values()), 3),
        "pass_totals_sec": roster["pass_totals_s"][1:],
        "calib_sec": calib,
        "calib_shuffle_sec": calib_shuffle,
        "load_avg_start": load_start,
        "load_avg_end": _host_load(),
        "steal_pct": steal_pct,
        "host_cpus": os.cpu_count(),
        "sf": sf_val,
        "queries_detail": stamped,
    }
    detail = dict(
        summary,
        queries=timings,
        queries_norm=queries_norm,
        cold=cold,
        records={n: r["best"] for n, r in runs.items()},
    )
    here = os.path.dirname(os.path.abspath(__file__))
    for fname in ("BENCH_DETAIL.json", stamped):
        try:
            with open(os.path.join(here, fname), "w") as fh:
                json.dump(detail, fh, indent=1)
        except OSError:
            pass  # read-only checkout: the stdout lines still carry it
    print(json.dumps(detail))
    # The warm map in tail-capturable form (round-12 VERDICT item 1):
    # the detail line above is ~10 KB, invisible to the driver's
    # 2000-char tail, so the values go out once more in HEADLINE order,
    # keyed by a roster hash instead of 92 names.
    print(json.dumps({
        "metric": "per_query_warm",
        "roster": hashlib.sha1(",".join(HEADLINE).encode()).hexdigest()[:8],
        "cpus": _cpus(),
        "sf": sf_val,
        "v": [round(timings[n], 2) for n in HEADLINE],
    }, separators=(",", ":")))
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
