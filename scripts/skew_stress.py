"""Planted-skew stress for the banded equi-joins (round-8 verdict item).

The shape under test is the incremental-dedup probe join
(``dedup._collision_pairs(batch_bands, stored_bands)`` on
``(band, bucket)``) when the stored signature index carries a
BOILERPLATE CLUSTER: one (band, bucket) holding ~20% of the index's
rows — the real-corpus skew that makes one shuffle partition a
straggler. AQE's skew-join splitting is the engine's answer (the
session factory enables it); this script proves the split actually
ENGAGES on that shape and measures what it buys, by running the same
join with skew handling ON vs OFF (3 runs each, min) and checking the
final adaptive plan for ``skew=true``.

Two deliberate conf scalings, both documented in the artifact:

- ``autoBroadcastJoinThreshold=-1``: at 100 TB the daily batch side is
  not broadcastable; locally it would be, which would dissolve the
  sort-merge join the stress exists to exercise.
- ``skewedPartitionThresholdInBytes``/``advisoryPartitionSizeInBytes``
  are scaled down to the local data size (the defaults, 256 MB, are
  cluster-sized; the hot partition here is ~10-30 MB). The FACTOR
  criterion (hot >= 5x median) is untouched — it is what actually
  identifies the skew.

Appends a ``skew_band_join`` entry to SCALE_r08.json.
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F  # noqa: E402

HOT_ROWS = 1_000_000  # stored-side rows in the planted hot bucket
HOT_BATCH = 4  # batch-side rows probing the hot bucket
RUNS = 3
SYNTH = os.path.join(ROOT, ".sf1synth")
OUT = os.path.join(ROOT, "SCALE_r08.json")


def build_frames(spark):
    from map_reduce_spark.operators.dedup import minhash_bands

    docs = spark.read.parquet(os.path.join(SYNTH, "documents.parquet"))
    is_batch = F.col("doc_id") % 10 == 0
    stored = minhash_bands(docs.filter(~is_batch), "md5")
    batch = minhash_bands(docs.filter(is_batch), "md5")
    # the boilerplate cluster: HOT_ROWS stored docs whose signatures all
    # collapse into one (band, bucket); ids disjoint from the corpus
    hot_stored = spark.range(HOT_ROWS).select(
        (F.col("id") + 10_000_000).alias("doc_id"),
        F.lit(0).alias("band"),
        F.lit("boilerplate-hot-bucket").alias("bucket"),
    )
    hot_batch = spark.range(HOT_BATCH).select(
        (F.col("id") + 20_000_000).alias("doc_id"),
        F.lit(0).alias("band"),
        F.lit("boilerplate-hot-bucket").alias("bucket"),
    )
    stored = stored.select("doc_id", "band", "bucket").unionByName(hot_stored)
    batch = batch.select("doc_id", "band", "bucket").unionByName(hot_batch)
    return batch, stored


def run_once(spark, batch, stored) -> tuple[float, int, bool]:
    from map_reduce_spark.operators.dedup import _collision_pairs

    pairs = _collision_pairs(batch, stored)
    # execute THROUGH the frame's own QueryExecution (df.count() builds
    # a separate one whose AdaptiveSparkPlan never finalizes here), so
    # the final adaptive plan — including any skew-split markers — is
    # inspectable afterwards
    qe = pairs._jdf.queryExecution()
    t0 = time.perf_counter()
    n = qe.executedPlan().execute().count()
    dt = time.perf_counter() - t0
    final_plan = qe.executedPlan().toString()
    return dt, n, "skew=true" in final_plan


def main() -> None:
    from map_reduce_spark.session import get_spark

    spark = get_spark("skew_stress")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "4m"
    )
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4m")
    # pin shuffle parallelism modestly so the hot partition is a clear
    # straggler against the median, as it is at cluster scale
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")

    batch, stored = build_frames(spark)
    batch.persist().count()
    stored.persist().count()

    results: dict[str, dict] = {}
    for mode, enabled in (("aqe_skew_on", "true"), ("aqe_skew_off", "false")):
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", enabled)
        times, n_pairs, engaged = [], None, False
        run_once(spark, batch, stored)  # warm-up (codegen + shuffle files)
        for _ in range(RUNS):
            dt, n, skewed = run_once(spark, batch, stored)
            times.append(round(dt, 3))
            n_pairs = n
            engaged = engaged or skewed
        results[mode] = {
            "runs_sec": times,
            "min_sec": min(times),
            "n_pairs": n_pairs,
            "skew_split_in_final_plan": engaged,
        }
        print(mode, results[mode])

    assert results["aqe_skew_on"]["skew_split_in_final_plan"], (
        "AQE skew split did not engage — thresholds no longer match the "
        "planted data size?"
    )
    assert not results["aqe_skew_off"]["skew_split_in_final_plan"]
    assert (
        results["aqe_skew_on"]["n_pairs"] == results["aqe_skew_off"]["n_pairs"]
    ), "skew handling changed the result"

    entry = {
        "method": (
            f"{HOT_ROWS} stored rows planted in one (band,bucket) "
            f"(~{100 * HOT_ROWS // (HOT_ROWS + 315_000)}% of the index) + "
            f"{HOT_BATCH} probing batch rows, on the 10x synth corpus's "
            "real band tables; _collision_pairs count, min of "
            f"{RUNS} after warm-up; autoBroadcast off (batch side is not "
            "broadcastable at 100 TB), skew thresholds scaled to local "
            "data (4m), factor criterion untouched"
        ),
        "load_avg_start": list(os.getloadavg()),
        **results,
    }
    scale = {}
    if os.path.exists(OUT):
        with open(OUT) as fh:
            scale = json.load(fh)
    scale["skew_band_join"] = entry
    with open(OUT, "w") as fh:
        json.dump(scale, fh, indent=1)
    print("wrote", OUT)


if __name__ == "__main__":
    main()
