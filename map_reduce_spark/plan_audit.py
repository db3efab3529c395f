"""Machine-generated physical-plan inventory for the whole catalog.

``python -m map_reduce_spark.plan_audit`` builds every registered
BATCH query at sf0.001 and writes ``PLAN_AUDIT.md``: per query, the
shuffle (Exchange) count, broadcast-join count, top-k physical choice,
nested-loop/cartesian flags, and whole-stage-codegen span count — the
structural scale properties tests/test_plans.py locks for the headline
queries, surveyed catalog-wide so a regression anywhere is visible in
one diff.

Reading the table:
- ``exch`` — Exchange nodes (shuffles). Narrow pipelines show 0.
  CAVEAT: a ``persist()``ed subtree that is not yet materialized
  prints as an ``InMemoryRelation`` carrying its full lineage, once
  per alias — so self-join queries over a persisted frame (e.g.
  ``triangle_count``'s three edge aliases) over-count: the cached
  subtree's exchanges execute ONCE at runtime, not per appearance.
- ``1part`` — ``Exchange SinglePartition`` nodes: a global funnel.
  Only acceptable on provably tiny frames (a query vector's probe
  list, a scalar aggregate); the audit flags every occurrence so each
  one is a conscious decision, not an accident.
- ``bcast`` — BroadcastHashJoin count (dimension/codebook joins).
- ``bnlj`` — BroadcastNestedLoopJoin/CartesianProduct. Acceptable only
  for broadcast single-row frames (query vectors); flagged otherwise.
- ``topk`` — TakeOrderedAndProject present (per-partition heaps).
- ``wscg`` — distinct WholeStageCodegen spans.

Streaming queries are skipped (they execute eagerly through a sink;
their state/shuffle posture is asserted in tests/test_streaming*.py),
as are the two Python DataSource round-trip demos — building their
DataFrame EXECUTES a full streaming run / staged write, and the
resulting plan describes only the read-back fragment, not the
dataflow (their contracts are asserted in tests/test_round3_ops.py).
"""

from __future__ import annotations

import re
import sys

SF_DIR = "/root/testdata/sf0.001"

# queries whose plans legitimately contain a flagged construct, with
# the reason — the audit fails loudly on any UNLISTED occurrence so
# new red flags can't slip in silently
ACCEPTED_1PART: dict[str, str] = {
    "delta_schema_evolution_travel": (
        "two single-row global aggregates (one per schema version) "
        "unioned into a 2-row certification frame"
    ),
    "iceberg_schema_evolution_travel": (
        "two single-row global aggregates (one per snapshot schema) "
        "unioned into a 2-row certification frame"
    ),
    "ivf_assign": "single-row centroid-array collect (k label rows in, 1 out)",
    "ivf_topk": "single-row centroid-array collect (k label rows in, 1 out)",
    "pq_encode": "single-row codebook collect (PQ_K rows in, 1 out)",
    "pq_adc_topk": (
        "single-row codebook collect + the query's 1-row LUT projection"
    ),
    "percentiles_exact": "3-group exact percentile rollup (constant-size final agg)",
    "agg_approx_distinct": "single-row sketch summary",
    "dedup_exact_survivors": "single-row corpus summary",
    "table_profile": "single-row ANALYZE summary",
    "agg_hll_sketch_union": "single-row merged-sketch estimate",
    "agg_theta_sketch_setops": "single-row set-algebra estimate",
    "contamination_check": "single-row overlap summary",
    "triangle_count": "single-row global count",
    "q11_important_stock": "scalar global-threshold aggregate",
    "q14_promo_revenue": "single-row promo-revenue ratio",
    "q15_top_supplier": "scalar max-revenue aggregate",
    "q17_small_qty_revenue": "single-row yearly-revenue sum",
    "q19_disjunctive_join": "single-row revenue sum",
    "q22_idle_customers": "scalar average-balance aggregate",
    "heavy_hitters": "scalar support-threshold aggregate",
    "unigram_logprob": "scalar corpus-total aggregate",
    "bm25_rank": "scalar doc-count / avg-doclen aggregate",
    "vocab_coverage": "scalar corpus token total",
    "funnel_analysis": "four per-stage single-row user counts",
    "delta_ingest_dedup": "single-row index-invariant summary (the oracle row)",
    "delta_log_retention_scan": (
        "single-row post-cleanup state summary unioned with the "
        "constant-size CDF-tail rollup"
    ),
    "agg_basic": "single-row global aggregate",
    "sql_api_q6": "single-row revenue aggregate (TPC-H Q6 shape)",
    "scalar_subquery": "scalar subquery aggregate",
    "mix_temperature": "scalar weight-normalization aggregate",
    "dq_checks": "single-row rule-counts summary",
    "bigram_lm_score": "scalar vocabulary-size aggregate",
    "topic_tfidf": "scalar domain-count aggregate",
    "recursive_cte": "1-row cached bounds + metadata-sized month-spine recursion steps",
    "count_min_freq": "scalar corpus-total aggregate (support threshold)",
    "bpe_train_merges": "per-round 1-row argmax + scalar vocab-size aggregates (6 rounds)",
    "distinct_linear_counting": "two scalar sketch-summary aggregates (1-row output)",
    "dsir_weights": "scalar corpus-total token counts (1-row frame, broadcast)",
    "select_pretraining_data": "inherits dsir_frame's scalar corpus-total 1-row frame",
    "drift_psi": "whole-frame window (bin marginals + corpus total) over the per-source frame (one row per source)",
    "corpus_health_report": "inherits drift_psi's whole-frame window over the per-source PSI frame (composed leg)",
    "health_report_fold": "inherits psi_from_counts' whole-frame window over the per-source PSI frame (PSI finish leg)",
    "ann_recall_eval": "Spark-injected runtime bloom_filter_agg over the 20-row probe-panel join key (a scalar sketch the optimizer adds to prune the corpus scan — the pushdown working FOR us, not a collapsed data path)",
    "ann_maintenance_decision": "inherits ann_recall_eval's miss leg via the shared _recall_parts: the same runtime bloom_filter_agg scalar sketch over the fixed probe panel",
}
ACCEPTED_BNLJ: dict[str, str] = {
    "embedding_topk": "broadcast single-row query vector",
    "ann_lsh_topk": "broadcast 9-row probe list + query vector",
    "ann_lsh_topk_portable": "broadcast 9-row probe list + query vector",
    "ivf_assign": (
        "broadcast ONE-row all-labels centroid-array frame (per-row "
        "argmin; constant-size k·dim longs)"
    ),
    "ivf_topk": (
        "broadcast ONE-row all-labels centroid-array frame + "
        "single-row query vector / probe list"
    ),
    "pq_encode": "broadcast ONE-row PQ_K-struct codebook (per-row argmin)",
    "pq_adc_topk": (
        "broadcast ONE-row PQ_K-struct codebook + single-row query LUT"
    ),
    "embedding_quantize": "broadcast scalar scale factor",
    "q11_important_stock": "broadcast scalar global threshold",
    "q15_top_supplier": "broadcast scalar max revenue",
    "q22_idle_customers": "broadcast scalar average balance",
    "scalar_subquery": "broadcast scalar subquery result",
    "hard_negatives": "broadcast tiny query block",
    "vocab_coverage": "broadcast scalar corpus total",
    "unigram_logprob": "broadcast scalar vocab size",
    "heavy_hitters": "broadcast scalar support threshold",
    "kmeans_lloyd": "broadcast k-row centroid frames",
    "dedup_embedding_cosine": (
        "broadcast per-label centroid-ARRAY frame (one row per label) "
        "cross-joined to score level-1 cells in _coarse_cells"
    ),
    "dedup_semantic": (
        "inherits _coarse_cells' broadcast per-label centroid-array "
        "cross join (one row per label)"
    ),
    "knn_graph": (
        "inherits _coarse_cells' broadcast per-label centroid-array "
        "cross join (one row per label)"
    ),
    "mix_temperature": "broadcast per-domain weight row",
    "weighted_sample": "broadcast scalar weight total",
    "bm25_rank": "broadcast single-row corpus doc-stats",
    "sort_by_key": "broadcast partition-offset frame (scale-safe global rank)",
    "sort_multi_col": "broadcast partition-offset frame (scale-safe global rank)",
    "window_ntile": "broadcast partition-offset frame (scale-safe global rank)",
    "tokenize_to_ids": "broadcast scalar vocab-size row",
    "dq_checks": "broadcast scalar expectation rows",
    "corpus_shuffle": "broadcast partition-offset frame (scale-safe global rank)",
    "bigram_lm_score": "broadcast scalar vocab-size row",
    "topic_tfidf": "broadcast scalar domain-count row",
    "recursive_cte": "cross join against the cached 1-row bounds + 2-row doubling bits",
    "count_min_freq": "broadcast scalar corpus total (support threshold)",
    "bpe_train_merges": "per-round broadcast 1-row argmax-pair frame (6 rounds)",
    "sorted_neighborhood_pairs": "broadcast partition-offset frame (scale-safe global rank)",
    "distinct_linear_counting": "broadcast 1-row exact-stats frame",
    "dsir_weights": "broadcast 1-row corpus-total frame (hashed-feature smoothing)",
    "select_pretraining_data": "inherits dsir_frame's broadcast 1-row corpus-total frame",
    "source_overlap": "broadcast per-source set-size frame (one row per SOURCE) onto the pair grid",
    "source_overlap_minhash": "broadcast per-source signature frame (one K-column row per SOURCE) self-paired on source<source",
    "curation_funnel": "broadcast 4-row stage spine onto the per-source grid",
    "corpus_health_report": "inherits its composed legs' broadcast constant-size frames (the funnel's stage spine, per-source set sizes)",
    "health_report_fold": "broadcast per-source merged-signature frame self-paired on source!=source (one K-column row per SOURCE)",
    "ann_recall_eval": "broadcast FIXED 20-row probe panel (the exact ground-truth leg an eval pays by construction)",
    "ann_maintenance_decision": "same broadcast fixed-panel cross join, inherited from the shared _recall_parts miss leg",
}


def audit(spark, sf_dir: str = SF_DIR):
    from map_reduce_spark.registry import all_queries

    # construction of these EXECUTES the interesting work (stream run,
    # staged write); the captured plan would be the read-back only
    eager_roundtrips = {"python_datasource_stream", "python_datasource_write"}
    rows, errors = [], []
    for name, q in all_queries().items():
        if name.startswith("streaming") or name in eager_roundtrips:
            continue
        try:
            df = q.fn(spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as e:  # capability gates etc.
            errors.append((name, str(e).splitlines()[0][:90]))
            continue
        rows.append(
            {
                "name": name,
                "exch": len(re.findall(r"\bExchange\b", plan)),
                "one_part": plan.count("Exchange SinglePartition"),
                "bcast": plan.count("BroadcastHashJoin"),
                "bnlj": plan.count("BroadcastNestedLoopJoin")
                + plan.count("CartesianProduct"),
                "topk": "TakeOrderedAndProject" in plan,
                "wscg": len(set(re.findall(r"\*\((\d+)\)", plan))),
                "oracle": q.oracle is not None,
            }
        )
    return rows, errors


def render(rows, errors) -> str:
    flags = []
    for r in rows:
        if r["one_part"] and r["name"] not in ACCEPTED_1PART:
            flags.append(f"UNACCEPTED Exchange SinglePartition in {r['name']}")
        if r["bnlj"] and r["name"] not in ACCEPTED_BNLJ:
            flags.append(f"UNACCEPTED nested-loop/cartesian in {r['name']}")
    out = ["# PLAN AUDIT — catalog-wide physical-plan inventory", ""]
    out.append(
        "Generated by `python -m map_reduce_spark.plan_audit` (see its "
        "docstring for column semantics). Regenerate after plan-shape "
        "changes; tests/test_plans.py locks the headline properties, "
        "this table surveys ALL batch queries."
    )
    out.append("")
    if flags:
        out.append("## RED FLAGS (fix or accept explicitly)")
        out += [f"- {f}" for f in flags]
    else:
        out.append(
            "**No unaccepted red flags**: every `Exchange SinglePartition` "
            "and every nested-loop join in the catalog is enumerated in "
            "the accepted lists with its tiny-frame justification."
        )
    out.append("")
    n_shuffle_free = sum(1 for r in rows if r["exch"] == 0)
    out.append(
        f"{len(rows)} batch queries audited: {n_shuffle_free} fully "
        f"shuffle-free (narrow pipelines), "
        f"{sum(1 for r in rows if r['topk'])} plan top-k as "
        f"TakeOrderedAndProject, "
        f"{sum(1 for r in rows if r['bcast'])} use broadcast hash joins, "
        f"{sum(1 for r in rows if r['one_part'])} contain an accepted "
        f"single-partition exchange (constant-size frames only)."
    )
    out.append("")
    out.append("| query | exch | 1part | bcast | bnlj | topk | wscg |")
    out.append("|---|---|---|---|---|---|---|")
    for r in sorted(rows, key=lambda r: (-r["exch"], r["name"])):
        out.append(
            f"| {r['name']} | {r['exch']} | {r['one_part']} | {r['bcast']} "
            f"| {r['bnlj']} | {'y' if r['topk'] else ''} | {r['wscg']} |"
        )
    if errors:
        out.append("")
        out.append("## Skipped (build error / capability gate)")
        out += [f"- `{n}`: {e}" for n, e in errors]
    out.append("")
    out.append("## Accepted single-partition exchanges")
    out += [f"- `{k}` — {v}" for k, v in sorted(ACCEPTED_1PART.items())]
    out.append("")
    out.append("## Accepted nested-loop joins (broadcast tiny frames)")
    out += [f"- `{k}` — {v}" for k, v in sorted(ACCEPTED_BNLJ.items())]
    out.append("")
    return "\n".join(out)


def main() -> int:
    from map_reduce_spark.session import get_spark

    spark = get_spark("plan_audit")
    rows, errors = audit(spark)
    md = render(rows, errors)
    with open("PLAN_AUDIT.md", "w") as f:
        f.write(md)
    unaccepted = [ln for ln in md.splitlines() if ln.startswith("- UNACCEPTED")]
    print(f"PLAN_AUDIT.md: {len(rows)} queries, {len(errors)} skipped, "
          f"{len(unaccepted)} unaccepted flags")
    return 1 if unaccepted else 0


if __name__ == "__main__":
    sys.exit(main())
