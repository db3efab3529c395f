#!/usr/bin/env python
"""Drive the ENTIRE registered catalog (not just the 50-entry driver
window) against the DuckDB oracle in a DRIVER-STYLE VANILLA session —
no engine conf from ``map_reduce_spark.session``, an explicit session
timezone — the round-end certification pass (SCALE_rN
``full_catalog_tz_drive_sf001``). Run it from a foreign cwd (/tmp) so
plan-time Python workers exercise NOTES rule 39.

Usage: python scripts/full_catalog_drive.py [sf_dir] [tz]
Prints one JSON line: {"sf", "tz", "oracled_ok", "rows_only_ok",
"failed": [[name, err], ...], "sec"}.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    tz = sys.argv[2] if len(sys.argv) > 2 else "UTC"

    from replay import replay, vanilla_session

    spark = vanilla_session(tz, shuffle_partitions=32)
    import __spark_entry__ as entry

    t_start = time.time()
    oracled_ok, rows_only_ok, failed = replay(spark, list(entry.queries()), sf_dir)
    print(
        json.dumps(
            {
                "sf": sf_dir,
                "tz": tz,
                "oracled_ok": oracled_ok,
                "rows_only_ok": rows_only_ok,
                "failed": failed,
                "sec": round(time.time() - t_start, 1),
            }
        )
    )
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
