"""Round-5 fixes for the round-4 VERDICT/ADVICE findings:

1. changes_between must match NULL-keyed rows null-safely (the one known
   wrong answer: a live NULL-keyed key present in both snapshots
   double-reported as insert+delete).
2. Row-level quarantine must place a persistent GC-watermark HOLD: when a
   quarantined seq is BELOW an applied seq in the same source partition,
   excluding it from the per-partition max is not enough — the watermark
   still overruns it and a tombstone needed by the fix-and-resubmit
   workflow can be GC'd (resurrecting a deleted row).
3. resolve(buckets=...) must skip the LWW aggregation when none of the
   REQUESTED buckets holds a delta (mixed COW/MoR states are the norm
   under bucket-targeted compaction).
4. vacuum must drop emptied bucket subdirectories left behind by partial
   compactions (file-granularity unlink kept marker files + empty dirs
   forever).
5. A hot bucket's delta write is split (several files) and still resolves
   and compacts to the unsplit state.
"""

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from icdc_dataloader_spark.plans.merge import (
    append_delta,
    changes_between,
    compact,
    read_state,
    resolve,
)
from icdc_dataloader_spark.repos import TIEBREAKERS, create_repos_table, make_pipeline
from icdc_dataloader_spark.streaming.ledger import CheckpointLedger

EVENT_SCHEMA = (
    "repo string, path string, commit string, lang string,"
    " content string, content_sha256 string, _seq long, _op string"
)


def _batch(spark, rows):
    return spark.createDataFrame(rows, EVENT_SCHEMA)


def _up(repo, path, seq):
    return (repo, path, f"c{seq}", "py", f"v{seq}", f"h{seq}", seq, "upsert")


def _del(repo, path, seq):
    return (repo, path, None, None, None, None, seq, "delete")


# --------------------------------------------------------------------------
# 1. NULL-keyed change feed (VERDICT round 4 "What's wrong" #1)
# --------------------------------------------------------------------------


def test_changes_between_null_key(spark, tmp_path):
    """A NULL-keyed key (path IS NULL) must behave exactly like any other
    key in the feed: silent when unchanged, one row when updated, one
    delete row (with the key preserved) when deleted."""
    lake = create_repos_table(str(tmp_path / "repos"), n_buckets=1)
    append_delta(
        spark, lake,
        _batch(spark, [_up("rN", None, 1), _up("rO", "p", 2)]), batch_id="b1",
    )
    v1 = lake.latest_version()

    # rO updated, rN (NULL path) untouched -> rN must be SILENT
    append_delta(
        spark, lake, _batch(spark, [_up("rO", "p", 10)]), batch_id="b2",
    )
    v2 = lake.latest_version()
    rows = changes_between(spark, lake, v1, v2).collect()
    assert [(r["repo"], r["path"], r["change_type"]) for r in rows] == [
        ("rO", "p", "update")
    ], "unchanged NULL-keyed row must not double-report as insert+delete"

    # rN updated -> exactly one update row, NULL key preserved
    append_delta(
        spark, lake, _batch(spark, [_up("rN", None, 11)]), batch_id="b3",
    )
    v3 = lake.latest_version()
    rows = changes_between(spark, lake, v2, v3).collect()
    assert [(r["repo"], r["path"], r["change_type"], r["commit"]) for r in rows] == [
        ("rN", None, "update", "c11")
    ]

    # rN deleted -> one delete row, key coalesced from the OLD side
    append_delta(
        spark, lake, _batch(spark, [_del("rN", None, 12)]), batch_id="b4",
    )
    v4 = lake.latest_version()
    rows = changes_between(spark, lake, v3, v4).collect()
    assert [(r["repo"], r["path"], r["change_type"], r["commit"]) for r in rows] == [
        ("rN", None, "delete", None)
    ]

    # NULL-keyed insert for completeness
    append_delta(
        spark, lake, _batch(spark, [_up("rM", None, 13)]), batch_id="b5",
    )
    v5 = lake.latest_version()
    rows = changes_between(spark, lake, v4, v5).collect()
    assert [(r["repo"], r["path"], r["change_type"]) for r in rows] == [
        ("rM", None, "insert")
    ]


# --------------------------------------------------------------------------
# 2. Quarantine GC-watermark hold (ADVICE medium)
# --------------------------------------------------------------------------


def _write_binlog(spark, root, name, rows):
    pdf = pd.DataFrame(rows)
    pdf["ts"] = pd.Timestamp("2024-01-01").as_unit("us")
    spark.createDataFrame(pdf).write.partitionBy("batch_id").parquet(
        os.path.join(root, name)
    )
    return os.path.join(root, name)


def _ev(seq, op, repo, batch_id, lang="python", path="p"):
    return dict(
        seq=seq, op=op, repo=repo, path=path, src="A",
        commit=None if op == "delete" else f"c{seq}",
        lang=None if op == "delete" else lang,
        content=None if op == "delete" else f"v{seq}",
        batch_id=batch_id,
    )


def test_quarantine_hold_recorded_and_persisted(spark, tmp_path):
    """A batch with a quarantined row at seq 5 and an APPLIED row at seq 10
    (same source partition) must leave a persistent hold at 5, even though
    the partition watermark itself reads 10."""
    root = str(tmp_path)
    d1 = _write_binlog(spark, root, "d1", [
        _ev(10, "upsert", "rA", 0),
        _ev(5, "upsert", "rQ", 0, lang="NOT_A_LANG"),  # quarantined
    ])
    pipe = make_pipeline(
        spark, os.path.join(root, "out"), n_buckets=1, strategy="mor",
        compact_every=100, late_horizon=0, source_partition_col="src",
    )
    res = pipe.run(spark.read.parquet(d1))
    assert not res["quarantined"]  # row-level quarantine, batch applied
    assert pipe.ledger.source_low_water() == {"A": 10}
    assert pipe.ledger.quarantine_holds() == {"0": 5}
    assert pipe.ledger.quarantine_floor() == 5
    # survives process restart
    led2 = CheckpointLedger(pipe.ledger.root)
    assert led2.quarantine_holds() == {"0": 5}
    # release lifts the hold, persistently
    assert pipe.resolve_quarantined(0)
    assert pipe.ledger.quarantine_floor() is None
    assert CheckpointLedger(pipe.ledger.root).quarantine_holds() == {}
    assert not pipe.resolve_quarantined(0)  # idempotent


def test_quarantine_hold_prevents_tombstone_resurrection(spark, tmp_path):
    """End-to-end ADVICE scenario: quarantined upsert (rK, seq 5) below an
    applied seq 10; tombstone (rK, seq 7).  A later drain's GC must NOT
    drop the tombstone, so the fixed re-submit at seq 5 still loses LWW
    and rK stays dead."""
    root = str(tmp_path)
    pipe = make_pipeline(
        spark, os.path.join(root, "out"), n_buckets=1, strategy="mor",
        compact_every=1, late_horizon=0, source_partition_col="src",
    )
    d1 = _write_binlog(spark, root, "d1", [
        _ev(2, "upsert", "rK", 0),
        _ev(7, "delete", "rK", 1),
        _ev(5, "upsert", "rK", 1, lang="NOT_A_LANG"),  # quarantined
        _ev(10, "upsert", "rOther", 1),
    ])
    pipe.run(spark.read.parquet(d1))
    assert pipe.ledger.quarantine_holds() == {"1": 5}

    # next drain: applied max 20 everywhere; without the hold the GC
    # watermark would reach 20 and drop the seq-7 tombstone
    d2 = _write_binlog(spark, root, "d2", [_ev(20, "upsert", "rFill", 2)])
    pipe.run(spark.read.parquet(d2))
    live = lambda: {
        r["repo"] for r in read_state(spark, pipe.lake).select("repo").collect()
    }
    assert live() == {"rOther", "rFill"}

    # fixed re-submit at the ORIGINAL seq: must lose to the tombstone
    d3 = _write_binlog(spark, root, "d3", [_ev(5, "upsert", "rK", 3)])
    pipe.run(spark.read.parquet(d3))
    assert live() == {"rOther", "rFill"}, (
        "re-submitted seq-5 upsert must still lose to the seq-7 tombstone"
    )
    # workflow complete: release the hold; later GC may now advance
    pipe.resolve_quarantined(1)
    d4 = _write_binlog(spark, root, "d4", [_ev(30, "upsert", "rZ", 4)])
    pipe.run(spark.read.parquet(d4))
    assert live() == {"rOther", "rFill", "rZ"}


def test_crash_heal_recomputes_quarantine_hold(spark, tmp_path):
    """Crash between lake commit and ledger record: the heal path must
    recompute the batch's quarantine hold, not record an empty line."""
    root = str(tmp_path)
    d1 = _write_binlog(spark, root, "d1", [
        _ev(10, "upsert", "rA", 0),
        _ev(5, "upsert", "rQ", 0, lang="NOT_A_LANG"),
    ])
    pipe = make_pipeline(
        spark, os.path.join(root, "out"), n_buckets=1, strategy="mor",
        compact_every=100, late_horizon=0, source_partition_col="src",
    )
    orig = pipe.ledger.record

    def crash(*a, **kw):
        raise RuntimeError("injected: crash before ledger record")

    pipe.ledger.record = crash
    events = spark.read.parquet(d1)
    with pytest.raises(RuntimeError, match="injected"):
        pipe.apply_batch(events.filter(F.col("batch_id") == 0).drop("batch_id"), 0)
    assert pipe.lake.is_batch_committed("0")  # lake committed, ledger didn't
    pipe.ledger.record = orig

    res = pipe.run(events)  # committed branch -> heal
    assert not res["quarantined"]
    assert pipe.ledger.is_applied("0")
    assert pipe.ledger.quarantine_holds() == {"0": 5}


# --------------------------------------------------------------------------
# 3. resolve(buckets=...) short-circuit over delta-free buckets
# --------------------------------------------------------------------------


def test_resolve_bucket_restricted_skips_lww_when_delta_free(spark, tmp_path):
    lake = create_repos_table(str(tmp_path / "repos"), n_buckets=8)
    rows = [_up(f"r{i}", "p", i + 1) for i in range(40)]
    append_delta(spark, lake, _batch(spark, rows), batch_id="b1")
    compact(spark, lake)  # all-base state
    append_delta(spark, lake, _batch(spark, [_up("r1", "p", 100)]), batch_id="b2")

    touched = {f["bucket"] for f in lake.delta_files()}
    assert touched and len(touched) < 8
    free = [b for b in range(8) if b not in touched]

    fast = resolve(spark, lake, buckets=free)
    plan = fast._jdf.queryExecution().optimizedPlan().toString()
    assert "Aggregate" not in plan, (
        "delta-free bucket read must not pay the LWW aggregation"
    )
    slow = resolve(spark, lake, buckets=sorted(touched))
    slow_plan = slow._jdf.queryExecution().optimizedPlan().toString()
    assert "Aggregate" in slow_plan  # sanity: deltas still resolve

    # correctness unchanged: union of both == full resolve
    full = {
        (r["repo"], r["commit"])
        for r in resolve(spark, lake).select("repo", "commit").collect()
    }
    split = {
        (r["repo"], r["commit"])
        for r in fast.select("repo", "commit")
        .unionByName(slow.select("repo", "commit")).collect()
    }
    assert split == full
    assert ("r1", "c100") in full


# --------------------------------------------------------------------------
# 4. vacuum drops emptied bucket subdirectories
# --------------------------------------------------------------------------


def test_vacuum_removes_emptied_bucket_subdirs(spark, tmp_path):
    """Partial (bucket-targeted) compaction supersedes some of a version
    dir's bucket subdirs; after vacuum unlinks their parquet, the emptied
    subtrees (incl. marker files) must be gone — and every surviving
    subdir must still hold live parquet."""
    pipe = make_pipeline(
        spark, str(tmp_path / "out"), n_buckets=8, strategy="mor",
        compact_every=100, late_horizon=0,
    )
    root = str(tmp_path)
    d1 = _write_binlog(
        spark, root, "d1",
        [_ev(i + 1, "upsert", f"r{i}", 0) for i in range(40)],
    )
    pipe.run(spark.read.parquet(d1))
    compact(spark, pipe.lake)  # base across all buckets
    # delta touching a single key -> partial compaction rewrites its bucket
    d2 = _write_binlog(spark, root, "d2", [_ev(100, "upsert", "r1", 1)])
    pipe.run(spark.read.parquet(d2))
    compact(spark, pipe.lake, min_delta_files=1)

    before = read_state(spark, pipe.lake).count()
    pipe.lake.vacuum(keep_last=1)

    data_root = os.path.join(pipe.lake.root, "data")
    for vdir in os.listdir(data_root):
        for entry in os.listdir(os.path.join(data_root, vdir)):
            sub = os.path.join(data_root, vdir, entry)
            if not os.path.isdir(sub):
                continue
            has_parquet = any(
                fn.endswith(".parquet")
                for _dp, _dirs, fns in os.walk(sub)
                for fn in fns
            )
            assert has_parquet, f"emptied subdir survived vacuum: {sub}"
    assert read_state(spark, pipe.lake).count() == before


# --------------------------------------------------------------------------
# 5. Hot-bucket delta writes split by AQE's rebalance (round-4 VERDICT #6)
# --------------------------------------------------------------------------


def test_rebalance_splits_hot_bucket_same_state(spark, tmp_path):
    """A multi-split batch's delta write is rebalanced by bucket: under a
    small advisory partition size AQE splits the hot bucket's partition
    across map-side pieces (several files, the manifests' native
    multi-file case), and resolve/compaction produce the same state as
    the unsplit write."""
    from icdc_dataloader_spark.plans.lake import LakeTable
    from icdc_dataloader_spark.plans.merge import table_schema
    from icdc_dataloader_spark.repos import repos_payload_schema

    # hot key rH carries most rows; unique seqs.  createDataFrame spreads
    # the rows over several local partitions: a multi-split batch
    rows = [_up("rH", "p", s) for s in range(1, 60)] + [
        _up(f"r{i}", "p", 100 + i) for i in range(10)
    ] + [_del("rH", "p", 200)] + [_up("rH", "p", 300)]
    batch = _batch(spark, rows)
    assert batch.rdd.getNumPartitions() > 1

    def build(name):
        lake = LakeTable.create(
            str(tmp_path / name), table_schema(repos_payload_schema()),
            ["repo", "path"], n_buckets=2, tiebreakers=TIEBREAKERS,
        )
        append_delta(spark, lake, batch, batch_id="b1", pre_dedup=False)
        return lake

    def files_per_bucket(lake):
        per_bucket = {}
        for f in lake.snapshot()["files"]:
            per_bucket[f["bucket"]] = per_bucket.get(f["bucket"], 0) + 1
        return per_bucket

    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    prev = spark.conf.get(key)
    plain = build("plain")
    spark.conf.set(key, "1k")
    try:
        split = build("split")
    finally:
        spark.conf.set(key, prev)
    assert set(files_per_bucket(plain).values()) == {1}
    hot = max(plain.snapshot()["files"], key=lambda f: f["rows"])["bucket"]
    assert files_per_bucket(split)[hot] > 1, "the hot bucket must be split"

    def state(lake):
        return {
            (r["repo"], r["path"]): (r["commit"], r["_seq"], r["_created_seq"])
            for r in resolve(spark, lake).collect()
        }

    assert state(plain) == state(split)
    # compaction folds the split multi-file bucket identically
    compact(spark, plain)
    compact(spark, split)
    assert state(plain) == state(split)
    assert set(files_per_bucket(split).values()) == {1}  # <=1 base/bucket


def test_heal_propagates_hold_computation_failure(spark, tmp_path):
    """Self-review fix: if the heal's quarantine-hold computation fails —
    even transiently (executor lost, momentary IO) — the batch must NOT
    be recorded hold-less.  record() early-returns for already-applied
    batch ids, so a fail-open record-with-None would discard the hold
    PERMANENTLY; the heal must raise instead, leaving the batch
    unrecorded so the next drain retries and records the true hold."""
    import icdc_dataloader_spark.streaming.cdc  # noqa: F401

    root = str(tmp_path)
    d1 = _write_binlog(spark, root, "d1", [
        _ev(10, "upsert", "rA", 0),
        _ev(5, "upsert", "rQ", 0, lang="NOT_A_LANG"),
    ])
    pipe = make_pipeline(
        spark, os.path.join(root, "out"), n_buckets=1, strategy="mor",
        compact_every=100, late_horizon=0, source_partition_col="src",
    )
    events = spark.read.parquet(d1)

    # crash between lake commit and ledger record
    orig_record = pipe.ledger.record
    pipe.ledger.record = lambda *a, **kw: (_ for _ in ()).throw(
        RuntimeError("injected: crash before ledger record")
    )
    with pytest.raises(RuntimeError, match="injected"):
        pipe.apply_batch(
            events.filter(F.col("batch_id") == 0).drop("batch_id"), 0
        )
    assert pipe.lake.is_batch_committed("0")
    pipe.ledger.record = orig_record

    # the heal's annotate/agg job fails TRANSIENTLY on the next drain
    orig_annotate = pipe._annotate
    calls = {"n": 0}

    def flaky_annotate(batch_df):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("injected: transient annotate failure")
        return orig_annotate(batch_df)

    pipe._annotate = flaky_annotate
    with pytest.raises(RuntimeError, match="transient annotate"):
        pipe.run(events)
    # FAIL-CLOSED: the batch must still be unrecorded (hold retryable)...
    assert not pipe.ledger.is_applied("0")
    assert pipe.ledger.quarantine_holds() == {}

    # ...so the next drain heals with the TRUE hold
    res = pipe.run(events)
    assert not res["quarantined"]
    assert pipe.ledger.is_applied("0")
    assert pipe.ledger.quarantine_holds() == {"0": 5}


def test_without_hold_resurrection_really_happens(spark, tmp_path,
                                                  monkeypatch):
    """Negative control (sharpness): with the quarantine hold DISABLED
    (the pre-fix engine), the same scenario as
    test_quarantine_hold_prevents_tombstone_resurrection really does GC
    the seq-7 tombstone and the re-submit at seq 5 resurrects the
    deleted key — the positive tests (and the
    quarantine_resubmit_state driver query) are not vacuous."""
    monkeypatch.setattr(CheckpointLedger, "quarantine_floor",
                        lambda self: None)
    root = str(tmp_path)
    pipe = make_pipeline(
        spark, os.path.join(root, "out"), n_buckets=1, strategy="mor",
        compact_every=1, late_horizon=0, source_partition_col="src",
    )
    d1 = _write_binlog(spark, root, "d1", [
        _ev(2, "upsert", "rK", 0),
        _ev(7, "delete", "rK", 1),
        _ev(5, "upsert", "rK", 1, lang="NOT_A_LANG"),  # quarantined
        _ev(10, "upsert", "rOther", 1),
    ])
    pipe.run(spark.read.parquet(d1))
    d2 = _write_binlog(spark, root, "d2", [_ev(20, "upsert", "rFill", 2)])
    pipe.run(spark.read.parquet(d2))  # GC overruns the tombstone
    d3 = _write_binlog(spark, root, "d3", [_ev(5, "upsert", "rK", 3)])
    pipe.run(spark.read.parquet(d3))
    live = {
        r["repo"]
        for r in read_state(spark, pipe.lake).select("repo").collect()
    }
    assert "rK" in live, (
        "hold disabled: the deleted key must resurrect (else the hold "
        "tests test nothing)"
    )
