"""Streaming change-feed source cost: Arrow-batch + chunked-winner read()
(round 6) vs the round-5 whole-frame row-tuple shape, vs the native
`changes_between` DataFrame path on the same increment.

The round-5 verdict flagged the Spark-4 Python streaming source's
`read()` as the component's scale-killer: it concatenated a changed
bucket's ENTIRE old+new state into one pandas frame per task and yielded
per-row Python tuples.  Round 6 folds winners one parquet row group at a
time (bounded memory) and emits pyarrow.RecordBatches.  This harness
times the per-partition read work itself, outside the streaming engine,
so the comparison isolates exactly the changed code; the `legacy_read`
reimplementation below IS the round-5 algorithm verbatim.

Run: python bench/feed_stream_bench.py [n_rows] [update_k]
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

REPEATS = 3
N_BUCKETS = 64
UPDATE_ROWS = 100_000


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


def legacy_read(reader, p):
    """Round-5 read(): whole-bucket pandas concat + per-row tuple yield."""
    import pandas as pd

    from icdc_dataloader_spark.streaming.feed import (
        OP_DELETE, _load_aligned, _winners,
    )

    meta_cols = list(
        dict.fromkeys(list(p.key_cols) + ["_seq", "_op"] + p.tiebreakers)
    )
    old = _winners(_load_aligned(p.old_files, meta_cols),
                   p.key_cols, p.tiebreakers)
    old = old[old["_op"] != OP_DELETE][p.key_cols + ["_seq"]].rename(
        columns={"_seq": "_old_seq"})
    new_cols = list(dict.fromkeys(meta_cols + p.payload_cols))
    new = _winners(_load_aligned(p.new_files, new_cols),
                   p.key_cols, p.tiebreakers)
    new = new[new["_op"] != OP_DELETE][
        p.key_cols + ["_seq"] + p.payload_cols
    ].rename(columns={"_seq": "_new_seq"})
    j = new.merge(old, on=p.key_cols, how="outer")
    ins = j["_old_seq"].isna() & j["_new_seq"].notna()
    dele = j["_new_seq"].isna() & j["_old_seq"].notna()
    upd = (j["_new_seq"].notna() & j["_old_seq"].notna()
           & (j["_new_seq"] != j["_old_seq"]))
    j["change_type"] = None
    j.loc[ins, "change_type"] = "insert"
    j.loc[dele, "change_type"] = "delete"
    j.loc[upd, "change_type"] = "update"
    out = j[j["change_type"].notna()][
        p.key_cols + ["change_type"] + p.payload_cols]
    out = out.astype(object).where(pd.notnull(out), None)
    for row in out.itertuples(index=False, name=None):
        yield row


def make_legacy_source():
    """The round-5 source as a registrable format: identical offsets and
    partition planning (subclassed), `read()` swapped for the whole-frame
    row-tuple shape above — so an end-to-end streaming A/B isolates
    exactly the emission change."""
    from icdc_dataloader_spark.streaming import feed as feed_mod

    class LegacyReader(feed_mod.LakeChangeFeedReader):
        def read(self, partition):  # noqa: D102 — round-5 shape
            return legacy_read(self, partition)

    class LegacySource(feed_mod.LakeChangeFeedDataSource):
        @classmethod
        def name(cls):
            return "lake_change_feed_legacy"

        def streamReader(self, schema):
            return LegacyReader(self.options, schema)

    return LegacySource


def engine_ab(spark, lake, v_from, work):
    """Through the real Structured Streaming engine: availableNow drain
    to a noop sink, fresh checkpoint per run, best of 3."""
    from icdc_dataloader_spark.streaming.feed import LakeChangeFeedDataSource

    spark.dataSource.register(LakeChangeFeedDataSource)
    spark.dataSource.register(make_legacy_source())

    def run_stream(fmt, tag):
        walls = []
        for rep in range(3):
            ckpt = os.path.join(work, f"ckpt_{tag}_{rep}")
            t0 = time.time()
            q = (spark.readStream.format(fmt)
                 .option("path", lake.root)
                 .option("startVersion", str(v_from))
                 .load()
                 .writeStream.trigger(availableNow=True)
                 .format("noop")
                 .option("checkpointLocation", ckpt)
                 .start())
            q.awaitTermination()
            walls.append(round(time.time() - t0, 2))
        return walls

    return {
        "arrow_r6_stream": run_stream("lake_change_feed", "new"),
        "rowtuple_r5_stream": run_stream("lake_change_feed_legacy", "old"),
    }


def main():
    n_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
    k = int(sys.argv[2]) if len(sys.argv) > 2 else 8

    from icdc_dataloader_spark.plans.merge import changes_between
    from icdc_dataloader_spark.session import get_spark
    from icdc_dataloader_spark.streaming.feed import LakeChangeFeedReader

    spark = get_spark("feed_stream_bench", parallelism=32,
                      shuffle_partitions=32)
    work = tempfile.mkdtemp(prefix="feed_stream_bench_")
    try:
        lake = build_lake(spark, os.path.join(work, "lake"), n_rows)
        v_from = lake.latest_version()
        increment(spark, lake, n_rows, k, 10 * n_rows)
        v_to = lake.latest_version()

        reader = LakeChangeFeedReader({"path": lake.root})
        parts = reader.partitions({"version": v_from}, {"version": v_to})

        out = {"n_rows": n_rows, "k": k, "partitions": len(parts)}
        # serial per-partition consumption: isolates the per-task read
        # work (the streaming engine would run these concurrently, same
        # for both shapes)
        res = {}
        for name, fn, unit in (
            ("arrow_chunked", lambda p: sum(
                b.num_rows for b in reader.read(p)), "rows"),
            ("legacy_rowtuple", lambda p: sum(
                1 for _ in legacy_read(reader, p)), "rows"),
        ):
            walls, rows = [], 0
            for _ in range(REPEATS):
                t0 = time.time()
                rows = sum(fn(p) for p in parts)
                walls.append(round(time.time() - t0, 2))
            res[name] = {"rows": rows, "best_wall_sec": min(walls),
                         "walls": walls}
        walls = []
        for _ in range(REPEATS):
            t0 = time.time()
            n = changes_between(spark, lake, v_from, v_to).count()
            walls.append(round(time.time() - t0, 2))
        res["native_changes_between"] = {
            "rows": n, "best_wall_sec": min(walls), "walls": walls}
        res.update(engine_ab(spark, lake, v_from, work))
        out["results"] = res
        out["rows_match"] = (
            res["arrow_chunked"]["rows"]
            == res["legacy_rowtuple"]["rows"]
            == res["native_changes_between"]["rows"]
        )
        print(json.dumps(out))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
