"""One query run, timed one way: the record bench.py and every timing
script share.

``run_query`` times one registered query through the noop sink (full
execution, no driver-side collection cost) and returns one record:

    {"build_s": ..., "exec_s": ..., "total_s": ..., "jobs": ...}

``build_s`` is the driver side of the call (py4j plan construction,
fixture commits, eager checkpoints), ``exec_s`` the noop write, and
``total_s`` their span. ``jobs`` is the number of Spark jobs both
started, read as a ``dagScheduler().nextJobId()`` delta. The stage
caches the query tracked are released after the clock stops, so
cached frames never pile up across passes and never count against the
next query.

``time_roster`` runs a roster pass-major: one cold pass, then ``warm``
passes, keeping every record and the min-by-``total_s`` warm record per
query (min-of-N damps scheduler and GC jitter).
"""

from __future__ import annotations

import time

from map_reduce_spark.registry import queries
from map_reduce_spark.session import release_caches


def run_query(spark, name: str, sf_dir: str) -> dict:
    """Build and execute query ``name`` over ``sf_dir`` once; returns
    ``{build_s, exec_s, total_s, jobs}`` (seconds rounded to 1 ms)."""
    fn = queries()[name]
    sc = spark.sparkContext
    sc.setJobGroup(name, name)
    sched = sc._jsc.sc().dagScheduler()
    j0 = sched.nextJobId()
    try:
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        t1 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        jobs = sched.nextJobId() - j0
    finally:
        # later jobs on this thread must not carry the query's group
        sc.setLocalProperty("spark.jobGroup.id", None)
        release_caches()
    return {
        "build_s": round(t1 - t0, 3),
        "exec_s": round(t2 - t1, 3),
        "total_s": round(t2 - t0, 3),
        "jobs": jobs,
    }


def time_roster(spark, names: list[str], sf_dir: str, warm: int) -> dict:
    """One cold pass plus ``warm`` (>= 1) passes over ``names``.

    Returns ``{"queries": {name: {"cold": rec, "warm": [rec, ...],
    "best": rec}}, "pass_totals_s": [cold, warm 1, ...]}`` where
    ``best`` is the warm record with the smallest ``total_s`` and each
    pass total sums that pass's ``total_s`` values."""
    if warm < 1:
        raise ValueError(f"warm passes must be >= 1, got {warm}")
    runs: dict[str, list[dict]] = {n: [] for n in names}
    pass_totals = []
    for _ in range(warm + 1):
        total = 0.0
        for name in names:
            rec = run_query(spark, name, sf_dir)
            runs[name].append(rec)
            total += rec["total_s"]
        pass_totals.append(round(total, 3))
    return {
        "queries": {
            n: {
                "cold": r[0],
                "warm": r[1:],
                "best": min(r[1:], key=lambda rec: rec["total_s"]),
            }
            for n, r in runs.items()
        },
        "pass_totals_s": pass_totals,
    }
