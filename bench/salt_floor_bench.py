"""Measure the salt_floor_rows default: at what hot-bucket row count does
splitting the bucket's write task start paying for itself?

CDCPipeline(colocate_salt='auto') refuses to salt a bucket below
``salt_floor_rows`` (default 50k): by SHARE every trickle batch looks
maximally skewed, but a small write has no straggler, and a learned salt
taxes every following batch with extra files.  This bench isolates the
crossover: an 8-bucket lake whose batch is filtered to ONE bucket (so
the entire batch is a single hot-bucket write task), append walls at
increasing batch sizes for salt 1 (one task) vs a targeted salt 4 (four
tasks, exact placement), interleaved and best-of-N per cell (VM drift).

Expected shape: below ~10^5 rows the split saves nothing (the task is
milliseconds; fixed per-write cost dominates and extra files are pure
tax); in the 10^5-10^6 region the split starts winning; by multi-million
rows it is the measured 2x+ of bench/bucket_skew_bench.py.

Run: python bench/salt_floor_bench.py [cpus]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPEATS = 3
SIZES = [10_000, 50_000, 200_000, 1_000_000, 4_000_000]


def run(cpus: int = 32) -> dict:
    from pyspark.sql import functions as F

    from bench.skew_bench import zipf_events
    from icdc_dataloader_spark.plans.lake import LakeTable
    from icdc_dataloader_spark.plans.merge import append_delta, table_schema
    from icdc_dataloader_spark.repos import TIEBREAKERS, repos_payload_schema
    from icdc_dataloader_spark.session import get_spark

    spark = get_spark("salt_floor", parallelism=cpus, shuffle_partitions=cpus)
    root_base = "/tmp/salt_floor_lakes"
    shutil.rmtree(root_base, ignore_errors=True)

    results: dict[int, dict[str, list[float]]] = {
        n: {"salt1": [], "salt4": []} for n in SIZES
    }
    from icdc_dataloader_spark.plans.lake import bucket_expr

    srcs = {}
    for n in SIZES:
        src = f"/tmp/salt_floor_ev_{n}"
        # over-generate 8x and keep only bucket 0's keys: the batch then
        # IS one hot bucket of an 8-bucket lake (prep cost, not measured)
        # (~n survive the 1-in-8 filter; a .limit(n) would funnel prep
        # through one task — report the actual count instead)
        ev = zipf_events(spark, n * 8, n_keys=max(1000, n * 8))
        ev = ev.filter(bucket_expr(["repo", "path"], 8) == 0)
        ev.select(
            "repo", "path", "commit",
            F.lit("python").alias("lang"), "content",
            F.sha2(F.col("content"), 256).alias("content_sha256"),
            F.col("seq").alias("_seq"), F.lit("upsert").alias("_op"),
        ).write.mode("overwrite").parquet(src)
        srcs[n] = src

    actual = {n: spark.read.parquet(s).count() for n, s in srcs.items()}

    for rep in range(REPEATS):
        for n in SIZES:
            batch = spark.read.parquet(srcs[n])
            for name, kw in (
                ("salt1", dict(colocate_salt=1)),
                ("salt4", dict(colocate_salt=4, salt_buckets=[0])),
            ):
                root = os.path.join(root_base, f"{name}_{n}_{rep}")
                lake = LakeTable.create(
                    root, table_schema(repos_payload_schema()),
                    ["repo", "path"], n_buckets=8, tiebreakers=TIEBREAKERS,
                )
                t0 = time.time()
                append_delta(
                    spark, lake, batch,
                    batch_id="b0", pre_dedup=False, colocate=True, **kw,
                )
                results[n][name].append(round(time.time() - t0, 3))

    out = {
        "cpus": cpus,
        "sizes": {
            n: {
                "hot_bucket_rows": actual[n],
                "salt1_best_sec": min(r["salt1"]),
                "salt4_best_sec": min(r["salt4"]),
                "split_speedup": round(min(r["salt1"]) / min(r["salt4"]), 2),
                "walls": r,
            }
            for n, r in results.items()
        },
    }
    print(json.dumps(out, indent=2))
    shutil.rmtree(root_base, ignore_errors=True)
    for src in srcs.values():
        shutil.rmtree(src, ignore_errors=True)
    return out


if __name__ == "__main__":
    run(int(sys.argv[1]) if len(sys.argv) > 1 else 32)
