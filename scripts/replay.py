#!/usr/bin/env python
"""Replay registered queries against their DuckDB oracles at any SF —
the driver's correctness gate, run locally.

With no names it replays the driver's verification window: the FIRST
50 entries of ``__spark_entry__.queries()``, hash-compared against
``oracle_sql()`` (rows-only when a query has no oracle). Named queries
are replayed whether or not they sit in the window.

Usage: python scripts/replay.py <sf_dir> [name ...]
Prints one line per query to stderr and "<ok>/<n> passed at <sf_dir>"
to stdout; exits 1 when any query fails.
"""

from __future__ import annotations

import itertools
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

WINDOW = 50


def vanilla_session(tz: str, shuffle_partitions: int):
    """A driver-style VANILLA session (none of the engine's own conf)
    sized from the host: one task slot per core the engine would use
    (``session._cpus``) and a driver heap of half the physical RAM,
    at most 24g."""
    from pyspark.sql import SparkSession

    from map_reduce_spark.session import _cpus

    ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**30
    return (
        SparkSession.builder.master(f"local[{_cpus()}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", f"{max(1, min(24, ram_gb // 2))}g")
        .config("spark.sql.session.timeZone", tz)
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def replay(spark, names, sf_dir: str) -> tuple[int, int, list[list[str]]]:
    """Run each of ``names`` (None or empty: the driver window) over
    ``sf_dir``; returns ``(oracled_ok, rows_only_ok, failed)`` with
    ``failed`` as ``[[name, error], ...]``. Stage caches are released
    after every query."""
    import duckdb

    import __spark_entry__ as entry
    from map_reduce_spark.io import TABLES
    from map_reduce_spark.session import release_caches
    from tests.oracle import assert_frames_match

    qs, oracles = entry.queries(), entry.oracle_sql()
    names = list(names or itertools.islice(qs, WINDOW))
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracled_ok = rows_only_ok = 0
    failed: list[list[str]] = []
    for i, name in enumerate(names):
        t0 = time.time()
        try:
            sdf = qs[name](spark, sf_dir)
            if name in oracles:
                assert_frames_match(sdf, con.execute(oracles[name]).df(), name)
                oracled_ok += 1
                tag = "OK"
            else:
                sdf.count()  # runs at all
                rows_only_ok += 1
                tag = "rows-only"
            print(f"  [{i + 1:3d}/{len(names)}] {name:36s} {tag:9s} "
                  f"{time.time() - t0:5.1f}s", file=sys.stderr)
        except Exception as e:  # noqa: BLE001 - report-and-continue harness
            failed.append([name, str(e)[:300]])
            print(f"  [{i + 1:3d}/{len(names)}] {name:36s} FAIL {e}", file=sys.stderr)
            traceback.print_exc(limit=3)
        finally:
            release_caches()
    con.close()
    return oracled_ok, rows_only_ok, failed


def main() -> int:
    if len(sys.argv) < 2:
        sys.exit("usage: python scripts/replay.py <sf_dir> [name ...]")
    sf_dir, names = sys.argv[1], sys.argv[2:]
    from map_reduce_spark.session import get_spark

    oracled_ok, rows_only_ok, failed = replay(get_spark("replay"), names, sf_dir)
    n = oracled_ok + rows_only_ok + len(failed)
    print(f"{n - len(failed)}/{n} passed at {sf_dir} "
          f"({oracled_ok} oracled, {rows_only_ok} rows-only)")
    if failed:
        print("FAILED:", [name for name, _ in failed])
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
