#!/usr/bin/env python
"""Scale PARITY pass: replay the driver's DuckDB hash-compare at an
arbitrary (usually larger) SF dir — the check that caught the round-4
size-dependent correctness bugs (NOTES rules 23-25: decimal->double
frontiers, repartitionByRange boundary re-sampling, percentile
threshold ulps). sf0.01 can never exercise these; run this at each
new scale decade.

Usage: python scripts/parity_at_scale.py [SF_DIR] [--include-heavy]
       [--include-composed]

Default SF_DIR is the 10x slice from scripts/synth_sf1.py.
--include-heavy keeps the expensive-but-feasible oracles (portable
minhash/simhash, BPE chain, the coarse-cell family) — budget ~10 min
and give the JVM memory (the driver heap is half the host's physical
RAM, at most 24g; cores come from the engine's CPU count).
--include-composed additionally replays the composed pipelines
(prepare/select_pretraining_data), the components family, the capped
ngram twin, the ~1M-row resampling outputs, and the SAMPLED-KEY
entity_resolution variant (the one genuinely quadratic oracle).

Prints one JSON line: {"checked": n, "match": n, "mismatch": [...],
"error": [...], "skipped": [...]}.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Oracles whose DuckDB side is too expensive to replay blindly at 10x.
# --include-composed attempts them anyway (r4 verdict item 4): the
# composed pipelines' fuzzy CTEs are BANDED (linear in corpus, like the
# portable minhash family already verified at 10x), the components
# oracles run over band-generated edge sets, and the capped
# ngram_jaccard twin bounds itself to 1000 docs/source by construction.
# Only entity_resolution's oracle is genuinely quadratic (blocked
# all-pairs levenshtein); it gets the SAMPLED-KEY variant below instead.
COMPOSED = [
    "ngram_jaccard_dupes",
    "dedup_components",
    "dedup_components_lss",
    "prepare_training_data",
    "select_pretraining_data",
]
BIG_OUTPUT = ["interpolate_hourly", "gap_fill_hourly"]

# Sampled-key parity for the quadratic-by-design oracle: Spark runs the
# FULL 10x input (the scale path under test); both result sets are then
# restricted to pairs whose two keys are both ≡ 0 (mod ENTITY_MOD), and
# the DuckDB side pushes that predicate into the blocked all-pairs join
# so it only does (N/MOD)^2/nations levenshteins. Verifies soundness AND
# completeness of the sampled projection at full input scale.
ENTITY_MOD = 10
ENTITY_SAMPLED_SQL = f"""
SELECT a.c_nationkey AS block, a.c_custkey AS custkey_a,
       b.c_custkey AS custkey_b, a.c_name AS name_a, b.c_name AS name_b,
       CAST(levenshtein(a.c_name, b.c_name) AS INT) AS dist
FROM customer a JOIN customer b
  ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
WHERE a.c_custkey % {ENTITY_MOD} = 0 AND b.c_custkey % {ENTITY_MOD} = 0
  AND levenshtein(a.c_name, b.c_name) <= 1
"""
HEAVY = [
    "bpe_train_merges",
    "bpe_encode",
    "bpe_pair_counts",
    "dedup_semantic",
    "knn_graph",
    "dedup_embedding_cosine",
    "ann_lsh_topk_portable",
    "dedup_minhash_lsh_portable",
    "dedup_simhash_portable",
    "contamination_minhash",
]


def main() -> None:
    import duckdb
    from replay import vanilla_session

    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    include_heavy = "--include-heavy" in sys.argv
    include_composed = "--include-composed" in sys.argv
    sf = args[0] if args else "/root/repo/.sf1synth"

    spark = vanilla_session("UTC", shuffle_partitions=64)
    import __spark_entry__ as E

    from map_reduce_spark.io import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')"
        )
    from map_reduce_spark.session import release_caches

    qs, os_ = E.queries(), E.oracle_sql()
    skip = set(COMPOSED + BIG_OUTPUT) | {"entity_resolution"}
    if include_composed:
        skip -= set(COMPOSED + BIG_OUTPUT)
    if not include_heavy:
        skip |= set(HEAVY)
    match, mismatch, error, skipped = 0, [], [], sorted(skip & set(os_))

    def compare(name, sp, du):
        nonlocal match
        sp, du = sp[sorted(sp.columns)], du[sorted(du.columns)]
        a = sorted(map(tuple, sp.astype(str).values.tolist()))
        b = sorted(map(tuple, du.astype(str).values.tolist()))
        if a == b:
            match += 1
        else:
            mismatch.append(name)
        print(f"# {name} {'MATCH' if a == b else 'MISMATCH'} rows={len(a)}", file=sys.stderr)

    for name in sorted(os_):
        if name in skip:
            continue
        try:
            compare(name, qs[name](spark, sf).toPandas(), con.execute(os_[name]).fetchdf())
        except Exception as e:  # noqa: BLE001 — report and continue
            error.append(name)
            print(f"# {name} ERROR {str(e)[:120]}", file=sys.stderr)
        release_caches()
        spark.catalog.clearCache()

    if include_composed:
        # entity_resolution sampled-key variant (full Spark input)
        try:
            sp = qs["entity_resolution"](spark, sf).toPandas()
            sp = sp[(sp.custkey_a % ENTITY_MOD == 0) & (sp.custkey_b % ENTITY_MOD == 0)]
            compare("entity_resolution[mod%d]" % ENTITY_MOD, sp,
                    con.execute(ENTITY_SAMPLED_SQL).fetchdf())
        except Exception as e:  # noqa: BLE001
            error.append("entity_resolution[sampled]")
            print(f"# entity_resolution[sampled] ERROR {str(e)[:120]}", file=sys.stderr)
        release_caches()
        spark.catalog.clearCache()
    print(
        json.dumps(
            {
                "sf_dir": sf,
                "checked": match + len(mismatch) + len(error),
                "match": match,
                "mismatch": mismatch,
                "error": error,
                "skipped": skipped,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
