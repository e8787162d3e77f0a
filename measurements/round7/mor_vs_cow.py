"""Copy-on-write vs merge-on-read sat heads on merge-on-read's best case.

A 1M-key head (8 buckets), then 5 microbatches that each update 10k keys
(1% of the key space) scattered over every bucket. Each draw builds a
fresh table per arm; arms alternate (cow, mor, mor, cow, ...) so host
noise hits both. Timed per batch: ``Scd2Merge.apply_batch``; after the
last batch, one full scan of ``current()`` (noop write) and one
single-key point read.

Merge-on-read (``Scd2Table(mor=True)``) was removed from the engine after
this measurement, so the script runs only against a tree that still has
it (commit e2813e8 and earlier):

    PYTHONPATH=<checkout at e2813e8> SPARK_GRAFT_CPUS=4 \
        SPARK_GRAFT_DRIVER_MEM=4g python mor_vs_cow.py [draws] > mor_vs_cow.jsonl
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

from pyspark.sql import functions as F

from pyelt_spark.operators.scd2 import Scd2Merge, Scd2Table
from pyelt_spark.session import get_session

KEYS = 1_000_000
TOUCH = 10_000
BATCHES = 5
BUCKETS = 8


def head_events(spark):
    return spark.range(KEYS).select(
        F.col("id").alias("seq"),
        F.concat(F.lit("c"), F.col("id").cast("string")).alias("conv_id"),
        F.lit(0).alias("turn_idx"),
        F.lit("user").alias("role"),
        F.concat(F.lit("t"), F.col("id").cast("string")).alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.lit("U").alias("op"),
        F.lit("2024-01-01").cast("timestamp").alias("ts"),
    )


def update_events(spark, b: int):
    # 10k keys spread over the whole key space (and so over every bucket)
    kid = (F.col("id") * 97 + b * 7919) % KEYS
    return spark.range(TOUCH).select(
        (F.lit(2 * KEYS + b * TOUCH) + F.col("id")).alias("seq"),
        F.concat(F.lit("c"), kid.cast("string")).alias("conv_id"),
        F.lit(0).alias("turn_idx"),
        F.lit("user").alias("role"),
        F.concat(F.lit(f"u{b}_"), kid.cast("string")).alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.lit("U").alias("op"),
        F.lit("2024-01-02").cast("timestamp").alias("ts"),
    )


def one_draw(spark, root: str, mor: bool) -> dict:
    merge = Scd2Merge(
        business_keys=["conv_id", "turn_idx"],
        payload_cols=["role", "text", "tool"],
        order_by=["seq"],
    )
    path = os.path.join(root, "mor" if mor else "cow")
    shutil.rmtree(path, ignore_errors=True)
    t = Scd2Table(spark, path, BUCKETS, mor=mor)
    merge.apply_batch(t, head_events(spark), 0)
    applies = []
    for b in range(1, BATCHES + 1):
        ev = update_events(spark, b)
        t0 = time.perf_counter()
        merge.apply_batch(t, ev, b)
        applies.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    t.current().write.format("noop").mode("overwrite").save()
    scan = time.perf_counter() - t0
    t0 = time.perf_counter()
    t.current().filter(F.col("conv_id") == "c4242").collect()
    point = time.perf_counter() - t0
    shutil.rmtree(path, ignore_errors=True)
    return {
        "arm": "mor" if mor else "cow",
        "apply_s": [round(x, 3) for x in applies],
        "apply_median_s": round(statistics.median(applies), 3),
        "scan_s": round(scan, 3),
        "point_s": round(point, 3),
    }


def main() -> None:
    draws = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    spark = get_session("mor_vs_cow")
    root = tempfile.mkdtemp(prefix="mor_vs_cow_")
    try:
        one_draw(spark, root, mor=False)  # warm-up, not recorded
        order = []
        for i in range(draws):
            order += [False, True] if i % 2 == 0 else [True, False]
        for i, mor in enumerate(order):
            rec = one_draw(spark, root, mor)
            rec["draw"] = i // 2
            print(json.dumps(rec), flush=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
