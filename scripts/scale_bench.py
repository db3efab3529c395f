#!/usr/bin/env python
"""Per-query scaling runner (r12, VERDICT item 8): time the HEADLINE
set at $SPARK_GRAFT_SF_DIR / $SPARK_GRAFT_CPUS like bench.py (noop
sink through ``runlog.time_roster``, one query at a time: one cold +
two warm runs, min of the warm), but append each query's result to a
JSON-lines file AS IT COMPLETES so a mid-run crash (e.g. an external
kill at a large SF) loses nothing. Results feed SCALE_rN.json's
low/high-core per-query ratios; this is measurement tooling, not the
driver bench contract (bench.py remains the official artifact).

Usage: python scripts/scale_bench.py <out.jsonl>
A resumed run appends to <out.jsonl>, skipping the queries it already
holds; the file keeps the FIRST run's meta line.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

WARM = 2


def main() -> None:
    if len(sys.argv) != 2:
        sys.exit("usage: python scripts/scale_bench.py <out.jsonl>")
    out_path = sys.argv[1]
    from bench import HEADLINE, SF_DIR, _calibrate_shuffle

    from map_reduce_spark.runlog import time_roster
    from map_reduce_spark.session import _cpus, get_spark

    done = set()
    has_meta = False
    if os.path.exists(out_path):  # resume: skip queries already timed
        with open(out_path) as fh:
            for line in fh:
                try:
                    rec = json.loads(line)
                except ValueError:
                    continue
                has_meta = has_meta or bool(rec.get("meta"))
                if "query" in rec:
                    done.add(rec["query"])

    spark = get_spark("scale_bench")
    calib = _calibrate_shuffle(spark)
    with open(out_path, "a") as fh:
        if not has_meta:
            fh.write(json.dumps({"meta": True, "sf_dir": SF_DIR, "cpus": _cpus(),
                                 "calib_shuffle_sec": calib,
                                 "warm_passes": WARM}) + "\n")
            fh.flush()
        for name in HEADLINE:
            if name in done:
                continue
            r = time_roster(spark, [name], SF_DIR, WARM)["queries"][name]
            fh.write(json.dumps({"query": name, "cold": r["cold"]["total_s"],
                                 "warm_min": r["best"]["total_s"],
                                 "warm": [w["total_s"] for w in r["warm"]],
                                 "best": r["best"]}) + "\n")
            fh.flush()
    spark.stop()


if __name__ == "__main__":
    main()
