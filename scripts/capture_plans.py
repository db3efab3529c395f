#!/usr/bin/env python
"""Capture ``explain("formatted")`` for named queries into plans/$SPARK_GRAFT_PLANS_ROUND/ (default r12).

Usage:
    python scripts/capture_plans.py <suffix> <query> [<query> ...]

Writes ``plans/<round>/<query>_<suffix>.txt`` for each query, built at
$SPARK_GRAFT_SF_DIR (default sf0.1) — the optimization round's
plan-evidence deliverable. Streaming queries (which execute eagerly
through a sink) are skipped with a note.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       "plans", os.environ.get("SPARK_GRAFT_PLANS_ROUND", "r12"))


def main() -> int:
    if len(sys.argv) < 3:
        print(__doc__.split("\n\n")[1], file=sys.stderr)
        return 2
    suffix, names = sys.argv[1], sys.argv[2:]
    from map_reduce_spark.registry import all_queries
    from map_reduce_spark.session import get_spark, release_caches

    os.makedirs(OUT_DIR, exist_ok=True)
    spark = get_spark("capture_plans")
    qs = all_queries()
    rc = 0
    for name in names:
        if name.startswith("streaming"):
            print(f"skip {name}: streaming query (plan asserted in tests)")
            continue
        try:
            df = qs[name].fn(spark, SF_DIR)
            txt = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as e:  # noqa: BLE001
            print(f"ERROR {name}: {e}")
            rc = 1
            continue
        path = os.path.join(OUT_DIR, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(txt)
        print(f"wrote {path} ({len(txt.splitlines())} lines)")
        release_caches()
    spark.stop()
    return rc


if __name__ == "__main__":
    sys.exit(main())
