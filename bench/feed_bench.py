"""Consume-side cost: does the change feed read what CHANGED, or the
table?  (round-5; the claim "changes_between reads scale with what
changed, not the table" was plan-audited but never measured.)

Protocol:

1. Build a compacted base of N rows across 64 buckets.
2. Apply a FIXED-SIZE increment (100k updated keys) confined to k
   buckets, for k in 1/4/16/64, compacting between steps so every
   measurement sees one base file + one delta per touched bucket.
   Measure ``changes_between(v_before, v_after)`` wall (best-of-2 —
   VM drift).  The increment's ROW count is constant, so any cost
   growth with k is exactly the pruning effect: untouched buckets are
   never opened.
3. Same k=4 increment on a 4x-smaller base: cost tracks the TOUCHED
   buckets' data volume, not total table size (honest statement: cost
   is O(data in changed buckets), the bucket count is the lever that
   makes a 100 TB increment cheap — thousands of buckets, few touched).

Run: python bench/feed_bench.py [n_rows] [cpus]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

N_BUCKETS = 64
UPDATE_ROWS = 100_000
REPEATS = 2


def build_lake(spark, root, n_rows):
    from icdc_dataloader_spark.plans.lake import LakeTable
    from icdc_dataloader_spark.plans.merge import (
        append_delta, compact, table_schema,
    )
    from icdc_dataloader_spark.repos import TIEBREAKERS, repos_payload_schema

    lake = LakeTable.create(
        root, table_schema(repos_payload_schema()), ["repo", "path"],
        n_buckets=N_BUCKETS, tiebreakers=TIEBREAKERS,
    )
    base = spark.range(n_rows).select(
        F.concat(F.lit("r"), F.col("id").cast("string")).alias("repo"),
        F.lit("p").alias("path"),
        F.concat(F.lit("c"), F.col("id").cast("string")).alias("commit"),
        F.lit("python").alias("lang"),
        F.concat(F.lit("v"), F.col("id").cast("string")).alias("content"),
        F.sha2(F.concat(F.lit("v"), F.col("id").cast("string")), 256)
        .alias("content_sha256"),
        (F.col("id") + 1).alias("_seq"),
        F.lit("upsert").alias("_op"),
    )
    append_delta(spark, lake, base,
                 batch_id="b0", pre_dedup=False)
    compact(spark, lake)
    return lake


def increment(spark, lake, n_rows, k, seq_base):
    """100k updates confined to buckets [0, k)."""
    from icdc_dataloader_spark.plans.lake import bucket_expr
    from icdc_dataloader_spark.plans.merge import append_delta

    upd = (
        spark.range(n_rows)
        .select(
            F.concat(F.lit("r"), F.col("id").cast("string")).alias("repo"),
            F.lit("p").alias("path"),
            F.col("id"),
        )
        .withColumn("_b", bucket_expr(["repo", "path"], N_BUCKETS))
        .filter(F.col("_b") < k)
        .limit(UPDATE_ROWS)
        .select(
            "repo", "path",
            F.concat(F.lit("C"), F.col("id").cast("string")).alias("commit"),
            F.lit("python").alias("lang"),
            F.concat(F.lit("V"), F.col("id").cast("string")).alias("content"),
            F.sha2(F.concat(F.lit("V"), F.col("id").cast("string")), 256)
            .alias("content_sha256"),
            (F.lit(seq_base) + F.col("id")).alias("_seq"),
            F.lit("upsert").alias("_op"),
        )
    )
    append_delta(spark, lake, upd,
                 batch_id=f"u{k}_{seq_base}", pre_dedup=False)


def measure_feed(spark, lake, v_from, v_to):
    from icdc_dataloader_spark.plans.merge import changed_buckets, changes_between

    walls = []
    rows = None
    for _ in range(REPEATS):
        t0 = time.time()
        rows = changes_between(spark, lake, v_from, v_to).count()
        walls.append(round(time.time() - t0, 2))
    return {
        "touched_buckets": len(changed_buckets(lake, v_from, v_to)),
        "feed_rows": rows,
        "best_wall_sec": min(walls),
        "walls": walls,
    }


def run(n_rows: int = 8_000_000, cpus: int = 32) -> dict:
    from icdc_dataloader_spark.plans.merge import compact
    from icdc_dataloader_spark.session import get_spark

    spark = get_spark("feed_bench", parallelism=cpus,
                      shuffle_partitions=cpus)
    work = tempfile.mkdtemp(prefix="feed_bench_")
    out = {"n_rows": n_rows, "cpus": cpus, "n_buckets": N_BUCKETS,
           "update_rows": UPDATE_ROWS, "spread": {}, "size": {}}

    lake = build_lake(spark, os.path.join(work, "big"), n_rows)
    seq = 10 * n_rows
    for k in (1, 4, 16, 64):
        v_from = lake.latest_version()
        increment(spark, lake, n_rows, k, seq)
        seq += n_rows
        out["spread"][str(k)] = measure_feed(
            spark, lake, v_from, lake.latest_version()
        )
        compact(spark, lake)

    # same k=4 increment on a 4x-smaller base
    small = build_lake(spark, os.path.join(work, "small"), n_rows // 4)
    v_from = small.latest_version()
    increment(spark, small, n_rows // 4, 4, 10 * n_rows)
    out["size"]["quarter_base_k4"] = measure_feed(
        spark, small, v_from, small.latest_version()
    )
    out["size"]["full_base_k4"] = out["spread"]["4"]

    print(json.dumps(out, indent=2))
    shutil.rmtree(work, ignore_errors=True)
    return out


if __name__ == "__main__":
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 8_000_000
    c = int(sys.argv[2]) if len(sys.argv) > 2 else 32
    run(n, c)
