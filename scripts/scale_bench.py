#!/usr/bin/env python
"""Per-query scaling runner (r12, VERDICT item 8): time the HEADLINE
set at $SPARK_GRAFT_SF_DIR / $SPARK_GRAFT_CPUS like bench.py (noop
sink, cold + N warm min), but append each query's result to a
JSON-lines file AS IT COMPLETES so a mid-run crash (e.g. an external
kill at a large SF) loses nothing. Results feed SCALE_r12.json's
low/high-core per-query ratios; this is measurement tooling, not the
driver bench contract (bench.py is unchanged and remains the official
artifact).

Usage: python scripts/scale_bench.py <out.jsonl> [warm_passes=2]
(warm_passes >= 1). A resumed run appends to <out.jsonl>, skipping the
queries it already holds; the file keeps the FIRST run's meta line.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


USAGE = "usage: python scripts/scale_bench.py <out.jsonl> [warm_passes=2]"


def parse_args(argv: list[str]) -> tuple[str, int]:
    """(out_path, warm_passes); exits with the usage line on bad input,
    before any Spark work starts."""
    if len(argv) not in (2, 3):
        sys.exit(USAGE)
    try:
        warm = int(argv[2]) if len(argv) > 2 else 2
    except ValueError:
        sys.exit(f"{USAGE}\nwarm_passes must be an integer, got {argv[2]!r}")
    if warm < 1:
        sys.exit(f"{USAGE}\nwarm_passes must be >= 1, got {warm}")
    return argv[1], warm


def main() -> None:
    out_path, warm = parse_args(sys.argv)
    from bench import HEADLINE, _calibrate_shuffle

    from map_reduce_spark.registry import queries
    from map_reduce_spark.session import get_spark, release_caches

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
    qs = queries()
    calib = _calibrate_shuffle(spark)
    with open(out_path, "a") as fh:
        if not has_meta:
            fh.write(json.dumps({"meta": True, "sf_dir": SF_DIR,
                                 "cpus": os.environ.get("SPARK_GRAFT_CPUS"),
                                 "calib_shuffle_sec": calib,
                                 "warm_passes": warm}) + "\n")
            fh.flush()
        for name in HEADLINE:
            if name in done:
                continue
            spark.sparkContext.setJobDescription(f"scale_bench {name}")
            times = []
            for _ in range(warm + 1):
                t0 = time.perf_counter()
                qs[name](spark, SF_DIR).write.format("noop").mode(
                    "overwrite").save()
                times.append(round(time.perf_counter() - t0, 3))
                release_caches()
            fh.write(json.dumps({"query": name, "cold": times[0],
                                 "warm_min": min(times[1:]),
                                 "warm": times[1:]}) + "\n")
            fh.flush()
    spark.stop()


if __name__ == "__main__":
    main()
