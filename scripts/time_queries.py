#!/usr/bin/env python
"""Time named queries the bench.py way (``runlog.time_roster``): one
cold pass + N warm passes through the noop sink, min-of-warm per query,
split into plan BUILD (driver-side py4j, fixture commits, eager
checkpoints) and noop EXECUTION, with the job count.

Usage: python scripts/time_queries.py [-n WARM=3] [query ...]
       (no queries: bench.py's HEADLINE roster)
Env:   SPARK_GRAFT_SF_DIR (default sf0.1)

Prints one line per query, then one JSON line: {"sf_dir", "warm",
"pass_totals_s", "queries": {name: {"cold": rec, "best": rec}}}.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

USAGE = "usage: python scripts/time_queries.py [-n WARM=3] [query ...]"


def parse_args(argv: list[str]) -> tuple[int, list[str]]:
    """(warm, names); exits with the usage line on bad input, before
    any Spark work starts."""
    args, warm = argv[1:], 3
    if args[:1] == ["-n"]:
        try:
            warm = int(args[1])
        except (IndexError, ValueError):
            sys.exit(USAGE)
        args = args[2:]
    if warm < 1:
        sys.exit(f"{USAGE}\nWARM must be >= 1, got {warm}")
    return warm, args


def main() -> None:
    warm, names = parse_args(sys.argv)
    from bench import HEADLINE, SF_DIR

    from map_reduce_spark.runlog import time_roster
    from map_reduce_spark.session import get_spark

    spark = get_spark("time_queries")
    roster = time_roster(spark, names or HEADLINE, SF_DIR, warm)
    out = {}
    for name, r in roster["queries"].items():
        best = r["best"]
        out[name] = {"cold": r["cold"], "best": best}
        print(f"{best['total_s']:8.3f} total {best['build_s']:7.3f} build "
              f"{best['exec_s']:7.3f} exec {best['jobs']:4d} jobs "
              f"{r['cold']['total_s']:8.3f} cold  {name}", flush=True)
    print(json.dumps({"sf_dir": SF_DIR, "warm": warm,
                      "pass_totals_s": roster["pass_totals_s"], "queries": out}))
    spark.stop()


if __name__ == "__main__":
    main()
