"""The CDC workloads: tail_mor and cow_burst.

Each is a closed loop with one tailer and one batch in flight: a step
publishes one pre-generated batch into the binlog directory with
``os.rename`` and calls ``run()`` on a fresh ``spark.read.parquet`` of the
binlog.  Set-up is the session start, one throwaway drain of a small
binlog of the same shape (JVM and codegen warm-up), and the median of
``SETUP_REPS`` table + ledger + pipeline creations.
"""

from __future__ import annotations

import glob
import json
import os
from statistics import fmean

from common import (
    SETUP_REPS, dir_bytes, ensure_inputs, link_tree, now, parity_digest,
    session_conf, start_session, state_digest,
)
from inputs import BULK, CDC

TAIL_COMPACT_EVERY = 8
TAIL_FEED_EVERY = 4
TAIL_MIN_CYCLES = 2
MIN_COW_BATCHES = 4


def _pipeline(ctx, root: str, strategy: str, compact_every: int = 8,
              pre_dedup: bool = False):
    from icdc_dataloader_spark.repos import make_pipeline

    return make_pipeline(ctx.spark, root, n_buckets=ctx.cores, strategy=strategy,
                         compact_every=compact_every, pre_dedup=pre_dedup)


def _read(ctx, lake) -> tuple:
    from icdc_dataloader_spark.plans.merge import read_state

    with ctx.tracer.span("merge.read_state"):
        return state_digest(read_state(ctx.spark, lake))


def _drained(ctx, res: dict, n: int, what: str) -> bool:
    ok = len(res["applied"]) == n and not res["quarantined"]
    return ctx.check(ok, f"{what}: applied {len(res['applied'])} of {n}, "
                         f"parked {res['quarantined']}")


def _feed_cycle(ctx, consumer) -> dict:
    """Poll the change feed, materialize the increment, commit the cursor."""
    with ctx.tracer.span("feed.poll"):
        inc = consumer.poll(ctx.spark)
        inc["df"].write.format("noop").mode("overwrite").save()
        consumer.commit(inc["v_to"])
    return inc


def _setup(ctx, feed: bool = False, **kw):
    """Times set-up and returns the (fresh) pipeline the loop measures."""
    from icdc_dataloader_spark.streaming.feed import ChangeFeedConsumer

    t = now()
    # the warm-up table compacts every 4th batch, so its 4 batches warm the
    # compaction plan too
    warm = _pipeline(ctx, os.path.join(ctx.work, "warm"),
                     **{**kw, "compact_every": min(4, kw.get("compact_every", 8))})
    if feed:
        consumer = ChangeFeedConsumer(warm.lake, os.path.join(ctx.work, "warm_feed"),
                                      start_version=warm.lake.latest_version())
    res = warm.run(ctx.spark.read.parquet(os.path.join(ctx.cache, "warm")))
    _read(ctx, warm.lake)
    if feed:
        _feed_cycle(ctx, consumer)
    warm_s = now() - t
    _drained(ctx, res, CDC[ctx.workload]["warm"]["n_batches"], "warm-up drain")
    creates, pipes = [], []
    for i in range(SETUP_REPS):
        t = now()
        pipes.append(_pipeline(ctx, os.path.join(ctx.work, f"table{i}"), **kw))
        creates.append(now() - t)
    ctx.setup_s(warm_s, creates)
    return pipes[0]


def _verify(ctx, pipe, binlog_dir: str, n_batches: int, new_conflicts: int,
            quarantined: int, bulk: bool = False) -> None:
    """Final live set and error counts against the cached oracle."""
    from icdc_dataloader_spark.plans.merge import read_state

    ensure_inputs(ctx.workload, ctx.seed, ctx.cache, prefix=n_batches, bulk=bulk)
    with open(os.path.join(binlog_dir, f"oracle_k{n_batches}.json")) as fh:
        want = json.load(fh)
    got = parity_digest(read_state(ctx.spark, pipe.lake))
    ctx.check(got == want["live"],
              f"live (repo, path, content_sha256) set after {n_batches} batches: "
              f"got {got}, oracle {want['live']}")
    ctx.check(quarantined == want["quarantined_rows"],
              f"quarantined rows {quarantined} != oracle {want['quarantined_rows']}")
    ctx.check(new_conflicts == want["new_conflicts"],
              f"NEW conflicts {new_conflicts} != oracle {want['new_conflicts']}")


def _batch_metrics(results: list) -> dict:
    tot: dict = {}
    for r in results:
        for a in r["applied"]:
            for k, v in (a.get("metrics") or {}).items():
                if isinstance(v, (int, float)):
                    tot[k] = tot.get(k, 0) + v
    return tot


def _lake_counts(ctx, pipe, n_events: int, valid_in: int, applied: int) -> None:
    """Per-layer counts read from the lake and ledger directories."""
    lake = pipe.lake
    snap = lake.snapshot()
    live = sum(os.path.getsize(os.path.join(lake.root, f["path"]))
               for f in snap["files"])
    c = ctx.counts
    c["lake.bytes_per_event"] = live / n_events
    c["lake.write_bytes_per_event"] = c.pop("lake.bytes_written", 0.0) / n_events
    c["lake.meta_bytes_per_commit"] = (
        dir_bytes(os.path.join(lake.root, "_log")) / max(1, snap["version"])
    )
    c["ledger.bytes_per_record"] = (
        dir_bytes(pipe.ledger.root) / max(1, len(pipe.ledger.applied()))
    )
    c["cdc.superseded_share"] = 1.0 - applied / valid_in if valid_in else 0.0


def _publish(staging: str, binlog: str, b: int) -> None:
    name = f"batch_id={b}"
    os.rename(os.path.join(staging, name), os.path.join(binlog, name))


def _binlog_dirs(ctx) -> tuple:
    staging = os.path.join(ctx.work, "staging")
    binlog = os.path.join(ctx.work, "binlog")
    link_tree(os.path.join(ctx.cache, "binlog"), staging)
    os.makedirs(binlog)
    return staging, binlog


def tail_mor(ctx) -> None:
    from icdc_dataloader_spark.plans.merge import changed_buckets
    from icdc_dataloader_spark.streaming.feed import ChangeFeedConsumer

    spec = CDC["tail_mor"]
    pipe = _setup(ctx, feed=True, strategy="mor", compact_every=TAIL_COMPACT_EVERY)
    staging, binlog = _binlog_dirs(ctx)
    lake = pipe.lake
    consumer = ChangeFeedConsumer(lake, os.path.join(ctx.work, "feed"),
                                  start_version=lake.latest_version())

    lags, feeds, states, results = [], [], [], []
    b = 0
    with ctx.measured_loop(yardstick_every=1) as t0:
        # whole compaction cycles only, so every run has the same batch mix
        while b < spec["n_batches"] and (
            b % TAIL_COMPACT_EVERY or b < TAIL_MIN_CYCLES * TAIL_COMPACT_EVERY
            or now() - t0 < ctx.seconds
        ):
            with ctx.timed(lags):
                _publish(staging, binlog, b)
                res = pipe.run(ctx.spark.read.parquet(binlog))
            _drained(ctx, res, 1, f"tail batch {b}")
            results.append(res)
            b += 1
            if b % TAIL_FEED_EVERY == 0:
                with ctx.timed(feeds):
                    inc = _feed_cycle(ctx, consumer)
                ctx.check(consumer.position() == lake.latest_version(),
                          "feed cursor did not reach the latest version")
                if ctx.trace:
                    ctx.counts["feed.buckets"] += len(
                        changed_buckets(lake, inc["v_from"], inc["v_to"]))
            if b % TAIL_COMPACT_EVERY == TAIL_COMPACT_EVERY // 2:
                if ctx.trace:
                    ctx.counts["lake.delta_files"] += len(lake.delta_files())
                with ctx.timed(states):
                    _read(ctx, lake)
                ctx.attempted += 1
    if ctx.trace:
        ctx.tracer.active = True
        _stream_bootstrap(ctx, lake)
        ctx.tracer.active = False

    n_events = b * spec["batch_events"]
    # whole cycles, so every run has the same mix of feed cycles
    ctx.record_loop(lags, feeds, n_events, read_cpu=fmean(f[1] for f in feeds))
    ctx.samples["read_state"] = states
    m = _batch_metrics(results)
    _verify(ctx, pipe, ctx.cache, b, int(m.get("new_mode_conflicts", 0)),
            int(m.get("rows_quarantined", 0)))
    if ctx.trace:
        c = ctx.counts
        c["cdc.rows_quarantined"] = m.get("rows_quarantined", 0)
        c["merge.new_mode_conflicts"] = m.get("new_mode_conflicts", 0)
        c["feed.buckets_per_poll"] = c.pop("feed.buckets", 0) / max(1, len(feeds))
        c["lake.delta_files_at_read"] = c.pop("lake.delta_files", 0) / max(1, len(states))
        _lake_counts(ctx, pipe, n_events, n_events - m.get("rows_quarantined", 0),
                     m.get("rows_appended", 0))
        _bulk_reference(ctx)


def _stream_bootstrap(ctx, lake) -> None:
    """One Structured Streaming read of the whole feed from version 0
    (availableNow, noop sink)."""
    from icdc_dataloader_spark.streaming.feed import read_change_feed_stream

    with ctx.tracer.span("feed.stream_bootstrap"):
        q = (
            read_change_feed_stream(ctx.spark, lake.root, start_version=0)
            .writeStream.format("noop")
            .trigger(availableNow=True)
            .option("checkpointLocation", os.path.join(ctx.work, "stream_ckpt"))
            .start()
        )
        ctx.tracer.alias_group(str(q.runId))
        q.awaitTermination()
    ctx.attempted += 1


def _bulk_reference(ctx) -> None:
    """Sustained ingest: one MoR drain of the bulk binlog (compact_every=2,
    no reads during the drain) at local[nproc], then at local[1] on a new
    SparkContext in the same JVM.  Not gated: the 1->nproc ratio is
    recorded, not optimised for."""
    ensure_inputs(ctx.workload, ctx.seed, ctx.cache, bulk=True)
    bulk = os.path.join(ctx.cache, "bulk")
    n_events = BULK["n_batches"] * BULK["batch_events"]
    eps = {}
    for n_cores in (ctx.cores, 1):
        if n_cores != ctx.cores:
            ctx.spark.stop()
            ctx.spark = start_session(n_cores, session_conf(ctx.work, None))
        pipe = _pipeline(ctx, os.path.join(ctx.work, f"bulk{n_cores}"), "mor", 2)
        events = ctx.spark.read.parquet(os.path.join(bulk, "binlog"))
        t = now()
        res = pipe.run(events)
        eps[n_cores] = n_events / (now() - t)
        _drained(ctx, res, BULK["n_batches"], f"bulk drain at local[{n_cores}]")
        m = _batch_metrics([res])
        _verify(ctx, pipe, bulk, BULK["n_batches"],
                int(m.get("new_mode_conflicts", 0)),
                int(m.get("rows_quarantined", 0)), bulk=True)
    ctx.layer["bulk_mor.eps_nproc"] = eps[ctx.cores]
    ctx.layer["bulk_mor.eps_1core"] = eps[1]
    ctx.layer["bulk_mor.scaling_1to_nproc"] = eps[ctx.cores] / eps[1]


def cow_burst(ctx) -> None:
    import pyarrow.parquet as pq

    spec = CDC["cow_burst"]
    pipe = _setup(ctx, strategy="cow", pre_dedup=True)
    staging, binlog = _binlog_dirs(ctx)

    lags, reads, results = [], [], []
    b = 0
    with ctx.measured_loop(yardstick_every=1) as t0:
        while b < spec["n_batches"] and (b < MIN_COW_BATCHES
                                         or now() - t0 < ctx.seconds):
            with ctx.timed(lags):
                _publish(staging, binlog, b)
                res = pipe.run(ctx.spark.read.parquet(binlog))
            _drained(ctx, res, 1, f"cow batch {b}")
            results.append(res)
            b += 1
            with ctx.timed(reads):
                _read(ctx, pipe.lake)
            ctx.attempted += 1

    n_events = b * spec["batch_events"]
    ctx.record_loop(lags, reads, n_events, read_cpu=fmean(r[1] for r in reads))
    m = _batch_metrics(results)
    conflicts = sum(
        pq.ParquetFile(f).metadata.num_rows
        for f in glob.glob(os.path.join(pipe.error_dir, "batch=*-merge", "*.parquet"))
    )
    quarantined = int(m.get("rows_quarantined", 0))
    _verify(ctx, pipe, ctx.cache, b, conflicts, quarantined)
    if ctx.trace:
        c = ctx.counts
        c["cdc.rows_quarantined"] = quarantined
        c["merge.new_mode_conflicts"] = conflicts
        c["lake.delta_files_at_read"] = len(pipe.lake.delta_files())
        applied = sum(m.get(k, 0) for k in ("rows_inserted", "rows_updated",
                                            "rows_deleted"))
        _lake_counts(ctx, pipe, n_events, n_events - quarantined, applied)
