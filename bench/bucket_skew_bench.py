"""Second-order skew: skewed BUCKETS, not just skewed keys (round-4
VERDICT #6).

The skew bench (bench/skew_bench.py) proved the per-key LWW collapse; but
a Zipf-hot key also makes ONE hash bucket carry its share of every delta
WRITE: append_delta's colocating repartition routes the whole bucket to a
single task, so at a 29%-hot key that task writes ~29% of the batch while
the other n_buckets-1 tasks write ~2% each — a write-stage straggler that
no aggregation trick removes.

Variants measured on identical Zipf(s=1.5) input (interleaved round-robin
x REPEATS, best-of per variant — VM drift):

- colocate        : repartition(n_buckets, _bucket)     (1 file/bucket)
- salt4 / salt8   : repartition(n_buckets, _bucket, seq%k)
                    (straggler bounded at ~hot/k, <=k files/bucket —
                    resolve/compaction handle multi-file buckets natively)
- no-colocate     : no shuffle at all (files = tasks x buckets)

Reported per variant: append wall, max single-file rows (the straggler's
task size — files are written per (task,bucket), so max file rows == max
rows any one task wrote for one bucket), file count, and a state-parity
hash so every variant provably produces the same table.

Run: python bench/bucket_skew_bench.py [n_events] [cpus]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

REPEATS = 3
N_BUCKETS = 32


def variants(hot_buckets=None):
    v = {
        "colocate": dict(colocate=True, colocate_salt=1),
        "salt4": dict(colocate=True, colocate_salt=4),
        "salt8": dict(colocate=True, colocate_salt=8),
        "no_colocate": dict(colocate=False, colocate_salt=1),
    }
    if hot_buckets:
        # what colocate_salt='auto' dispatches to after one batch of
        # learning: split ONLY the hot buckets, cold buckets keep 1 file.
        # An empty hot set (uniform input) would silently degrade this
        # variant to plain colocate, mislabeled — omit it instead.
        v["salt4_targeted"] = dict(
            colocate=True, colocate_salt=4, salt_buckets=hot_buckets,
        )
    return v


def run(n_events: int = 8_000_000, cpus: int = 32) -> dict:
    from bench.skew_bench import zipf_events
    from icdc_dataloader_spark.plans.lake import LakeTable
    from icdc_dataloader_spark.plans.merge import (
        append_delta, resolve, table_schema,
    )
    from icdc_dataloader_spark.repos import TIEBREAKERS, repos_payload_schema
    from icdc_dataloader_spark.session import get_spark

    spark = get_spark("bucket_skew", parallelism=cpus, shuffle_partitions=cpus)
    src = "/tmp/bucket_skew_events"
    ev = zipf_events(spark, n_events)
    base_cols = [
        F.col("repo"), F.col("path"), F.col("commit"),
        F.lit("python").alias("lang"),
        F.col("content"),
        F.sha2(F.col("content"), 256).alias("content_sha256"),
        F.col("seq").alias("_seq"), F.lit("upsert").alias("_op"),
    ]
    ev.select(*base_cols).write.mode("overwrite").parquet(src)
    batch = spark.read.parquet(src)

    hot = (
        batch.groupBy("repo", "path").count()
        .agg(F.max("count").alias("mx")).first()["mx"]
    )
    # hot-bucket set for the targeted variant (same threshold as the
    # pipeline's 'auto' dispatch: share > 2/n_buckets); computed once,
    # outside the timed region — the pipeline gets it free from the
    # previous batch's footer lineage
    from icdc_dataloader_spark.plans.lake import bucket_expr

    per_bucket = (
        batch.withColumn("_b", bucket_expr(["repo", "path"], N_BUCKETS))
        .groupBy("_b").count().collect()
    )
    n_rows = sum(r["count"] for r in per_bucket)  # actual batch rows
    hot_buckets = sorted(
        int(r["_b"]) for r in per_bucket
        if r["count"] / n_rows > 2.0 / N_BUCKETS
    )

    results = {
        name: {"wall": [], "max_file_rows": None, "n_files": None,
               "state_hash": None}
        for name in variants(hot_buckets)
    }
    root_base = "/tmp/bucket_skew_lakes"
    shutil.rmtree(root_base, ignore_errors=True)

    for rep in range(REPEATS):
        for name, kw in variants(hot_buckets).items():
            root = os.path.join(root_base, f"{name}_{rep}")
            lake = LakeTable.create(
                root, table_schema(repos_payload_schema()),
                ["repo", "path"], n_buckets=N_BUCKETS,
                tiebreakers=TIEBREAKERS,
            )
            t0 = time.time()
            append_delta(
                spark, lake, batch,
                batch_id="b0", pre_dedup=False, **kw,
            )
            dt = time.time() - t0
            r = results[name]
            r["wall"].append(round(dt, 2))
            files = lake.snapshot()["files"]
            mx = max(f["rows"] for f in files)
            if r["max_file_rows"] is None or mx > r["max_file_rows"]:
                r["max_file_rows"] = mx
            r["n_files"] = len(files)
            if rep == 0:
                # state parity: every layout resolves to the same winners
                st = str(
                    resolve(spark, lake)
                    .agg(F.sum(F.xxhash64("repo", "path", "commit", "_seq")
                               .cast("decimal(38,0)")).alias("h"))
                    .first()["h"]
                )
                r["state_hash"] = st

    hashes = {r["state_hash"] for r in results.values()}
    assert len(hashes) == 1, f"layout changed the state! {hashes}"

    out = {
        "n_events": n_events,
        "cpus": cpus,
        "n_buckets": N_BUCKETS,
        "hot_key_rows": hot,
        "hot_share": round(hot / n_events, 3),
        "variants": {
            name: {
                "best_wall_sec": min(r["wall"]),
                "walls": r["wall"],
                "max_file_rows": r["max_file_rows"],
                "straggler_share": round(r["max_file_rows"] / n_events, 3),
                "n_files": r["n_files"],
            }
            for name, r in results.items()
        },
    }
    print(json.dumps(out, indent=2))
    # ~8M-event input + 12 lakes: reclaim before the next bench needs disk
    shutil.rmtree(root_base, ignore_errors=True)
    shutil.rmtree(src, ignore_errors=True)
    return out


if __name__ == "__main__":
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 8_000_000
    c = int(sys.argv[2]) if len(sys.argv) > 2 else 32
    run(n, c)
