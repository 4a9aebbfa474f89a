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


def _paths_by_bucket(spark, repo, n_candidates, n_buckets):
    """Candidate (repo, path) keys grouped by the lake's own hash bucket —
    lets a test construct a hot BUCKET out of many DISTINCT keys (a single
    hot key is collapsed by pre-dedup before the write and exercises
    nothing)."""
    from icdc_dataloader_spark.plans.lake import bucket_expr

    df = spark.createDataFrame(
        [(repo, f"p{i}") for i in range(n_candidates)],
        "repo string, path string",
    ).withColumn("_b", bucket_expr(["repo", "path"], n_buckets))
    out = {}
    for r in df.collect():
        out.setdefault(r["_b"], []).append(r["path"])
    return out


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
# 5. Hot-bucket salted delta writes (round-4 VERDICT #6)
# --------------------------------------------------------------------------


def test_colocate_salt_same_state_multi_file_buckets(spark, tmp_path):
    """colocate_salt splits a bucket's delta write across several tasks:
    the bucket gains multiple files (the manifests' native multi-file
    case) and resolve/compaction produce the identical state."""
    from icdc_dataloader_spark.plans.lake import LakeTable
    from icdc_dataloader_spark.plans.merge import compact, table_schema
    from icdc_dataloader_spark.repos import repos_payload_schema

    def build(salt):
        lake = LakeTable.create(
            str(tmp_path / f"lake_s{salt}"),
            table_schema(repos_payload_schema()),
            ["repo", "path"], n_buckets=2, tiebreakers=TIEBREAKERS,
        )
        # hot key rH carries most rows; unique seqs
        rows = [_up("rH", "p", s) for s in range(1, 60)] + [
            _up(f"r{i}", "p", 100 + i) for i in range(10)
        ] + [_del("rH", "p", 200)] + [_up("rH", "p", 300)]
        append_delta(spark, lake, _batch(spark, rows), batch_id="b1",
                     pre_dedup=False, colocate=True, colocate_salt=salt)
        return lake

    plain, salted = build(1), build(4)
    per_bucket = {}
    for f in salted.snapshot()["files"]:
        per_bucket[f["bucket"]] = per_bucket.get(f["bucket"], 0) + 1
    assert max(per_bucket.values()) > 1, "salt must split the hot bucket"

    def state(lake):
        return {
            (r["repo"], r["path"]): (r["commit"], r["_seq"], r["_created_seq"])
            for r in resolve(spark, lake).collect()
        }

    assert state(plain) == state(salted)
    # compaction folds the salted multi-file buckets identically
    compact(spark, plain)
    compact(spark, salted)
    assert state(plain) == state(salted)
    assert len(salted.snapshot()["files"]) <= 2  # back to <=1 base/bucket


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


def test_auto_colocate_salt_adapts_to_bucket_skew(spark, tmp_path):
    """colocate_salt='auto': the NEXT batch's salt derives from the
    PREVIOUS batch's per-bucket footer lineage (zero extra jobs).
    Skewed traffic raises it (hot bucket written as multiple files);
    uniform traffic keeps it at 1 (no file-count tax); state matches a
    fixed salt=1 pipeline exactly."""
    def drain(root, batches, salt):
        pipe = make_pipeline(
            spark, root, n_buckets=4, strategy="mor", compact_every=100,
            colocate_salt=salt, salt_floor_rows=0,
        )
        for i, rows in enumerate(batches):
            d = _write_binlog(spark, root, f"d{i}", rows)
            res = pipe.run(spark.read.parquet(d))
            assert not res["quarantined"]
        return pipe

    # batch 0: ~85% of rows are DISTINCT keys that share one hash bucket
    # (a hot repo with many paths — distinct keys survive pre-dedup, so
    # the bucket's write really is one task's straggler); batch 1: the
    # salt learned from batch 0 must split that bucket's write
    by_b = _paths_by_bucket(spark, "rHot", 200, 4)
    hot_bucket, hot_paths = max(by_b.items(), key=lambda kv: len(kv[1]))
    cold_paths = [ps[0] for b, ps in by_b.items() if b != hot_bucket]
    assert len(hot_paths) >= 34 and len(cold_paths) >= 3
    hot = [
        _ev(1 + i, "upsert", "rHot", 0, path=hot_paths[i]) for i in range(34)
    ] + [
        _ev(100 + i, "upsert", "rHot", 0, path=p)
        for i, p in enumerate(cold_paths[:3])
    ]
    hot2 = [
        _ev(200 + i, "upsert", "rHot", 1, path=hot_paths[i])
        for i in range(30)
    ] + [
        _ev(300 + i, "upsert", "rHot", 1, path=p)
        for i, p in enumerate(cold_paths[:3])
    ]

    auto = drain(str(tmp_path / "auto"), [hot, hot2], "auto")
    assert auto._auto_salt > 1, "skew must raise the learned salt"
    assert auto._auto_salt_buckets, "skew must identify the hot buckets"
    # the split is TARGETED: in batch 1's version dir the hot bucket is
    # written by multiple tasks (several files) while every cold bucket
    # keeps exactly one file — no global file tax
    b1 = [f for f in auto.lake.delta_files() if "/v2/" in f"/{f['path']}"]
    assert b1, "batch 1 must have written delta files under v2"
    per_bucket = {}
    for f in b1:
        per_bucket[f["bucket"]] = per_bucket.get(f["bucket"], 0) + 1
    hot_set = set(auto._auto_salt_buckets)
    assert max(per_bucket.get(b, 0) for b in hot_set) > 1, (
        "batch 1's hot bucket must have been written by multiple tasks"
    )
    for b, n_files in per_bucket.items():
        if b not in hot_set:
            assert n_files == 1, (
                f"cold bucket {b} must not pay the salt file tax"
            )

    plain = drain(str(tmp_path / "plain"), [hot, hot2], 1)

    def state(pipe):
        return {
            (r["repo"], r["path"]): (r["commit"], r["_seq"])
            for r in resolve(spark, pipe.lake)
            .select("repo", "path", "commit", "_seq").collect()
        }

    assert state(auto) == state(plain)

    # uniform traffic: the learned salt returns to 1
    uni = [[_ev(1000 + i, "upsert", f"q{i}", 0) for i in range(40)]]
    auto_u = drain(str(tmp_path / "auto_u"), uni, "auto")
    assert auto_u._auto_salt == 1
    assert auto_u._auto_salt_buckets is None


def test_auto_colocate_salt_survives_restart(spark, tmp_path):
    """The learned hot-bucket profile persists in the ledger head
    (last_batch_rows): a NEW pipeline over the same root resumes with the
    same salt and hot-bucket set instead of re-learning from 1."""
    root = str(tmp_path / "lake")
    pipe = make_pipeline(
        spark, root, n_buckets=4, strategy="mor", compact_every=100,
        colocate_salt="auto", salt_floor_rows=0,
    )
    by_b = _paths_by_bucket(spark, "rHot", 200, 4)
    hot_bucket, hot_paths = max(by_b.items(), key=lambda kv: len(kv[1]))
    cold_paths = [ps[0] for b, ps in by_b.items() if b != hot_bucket]
    rows = [
        _ev(1 + i, "upsert", "rHot", 0, path=hot_paths[i]) for i in range(34)
    ] + [
        _ev(100 + i, "upsert", "rHot", 0, path=p)
        for i, p in enumerate(cold_paths[:3])
    ]
    d = _write_binlog(spark, root, "d0", rows)
    assert not pipe.run(spark.read.parquet(d))["quarantined"]
    assert pipe._auto_salt > 1 and pipe._auto_salt_buckets

    # process death: a fresh pipeline over the same lake+ledger restores
    # the profile at construction time, before any batch runs
    pipe2 = make_pipeline(
        spark, root, n_buckets=4, strategy="mor", compact_every=100,
        colocate_salt="auto", salt_floor_rows=0,
    )
    assert pipe2._auto_salt == pipe._auto_salt
    assert pipe2._auto_salt_buckets == pipe._auto_salt_buckets

    # and a fixed-salt pipeline over the same root ignores the hint
    pipe3 = make_pipeline(
        spark, root, n_buckets=4, strategy="mor", compact_every=100,
        colocate_salt=1,
    )
    assert pipe3._auto_salt == 1 and pipe3._auto_salt_buckets is None


def test_shuffle_partition_id_matches_spark(spark):
    """The driver-side partition-id oracle (murmur3 of LongType cols,
    seed 42, pmod) must equal where repartition(P, cols) ACTUALLY puts the
    row — the exact-split remap in append_delta plans placement with it.
    Pins the HashPartitioning contract so a Spark upgrade that changes
    hashing fails here, not as a silent straggler regression."""
    from icdc_dataloader_spark.plans.merge import (
        _distinct_partition_salts,
        shuffle_partition_id,
    )

    rows = [(b, s) for b in (0, 1, 5, 31, 4095) for s in range(9)]
    df = spark.createDataFrame(rows, "b long, s long")
    for P in (4, 8, 32):
        got = df.repartition(P, "b", "s").select(
            "b", "s", F.spark_partition_id().alias("pid")
        ).collect()
        for r in got:
            assert r["pid"] == shuffle_partition_id([r["b"], r["s"]], P), (
                f"placement oracle wrong for ({r['b']},{r['s']}) at P={P}"
            )

    # the remap delivers what it promises: k mutually-distinct partitions
    for b in (0, 1, 7, 31):
        for k in (2, 4, 8):
            vals = _distinct_partition_salts(b, k, 32)
            pids = [shuffle_partition_id([b, v], 32) for v in vals]
            assert len(set(pids)) == k

    # ...and ACROSS hot buckets when a shared `used` set is threaded (two
    # different hot buckets' groups sharing a task halves the bound just
    # like an intra-bucket collision)
    taken = set()
    all_pids = []
    for b in (0, 1, 7):
        vals = _distinct_partition_salts(b, 4, 32, taken)
        all_pids += [shuffle_partition_id([b, v], 32) for v in vals]
    assert len(set(all_pids)) == 12


def test_auto_salt_floor_ignores_trickle_batches(spark, tmp_path):
    """A tiny 100%-skewed batch must NOT teach the pipeline to salt: by
    share alone every trickle batch looks maximally hot, but a few-row
    write has no straggler, and the learned tax would hit every following
    batch (and persist across restarts).  Default salt_floor_rows guards
    this; the other auto tests set it to 0 to test the mechanism."""
    root = str(tmp_path / "lake")
    pipe = make_pipeline(
        spark, root, n_buckets=4, strategy="mor", compact_every=100,
        colocate_salt="auto",  # default salt_floor_rows=50k
    )
    by_b = _paths_by_bucket(spark, "rHot", 60, 4)
    _, hot_paths = max(by_b.items(), key=lambda kv: len(kv[1]))
    rows = [
        _ev(1 + i, "upsert", "rHot", 0, path=hot_paths[i]) for i in range(8)
    ]
    d = _write_binlog(spark, root, "d0", rows)
    assert not pipe.run(spark.read.parquet(d))["quarantined"]
    assert pipe._auto_salt == 1 and pipe._auto_salt_buckets is None


def test_colocate_salt_rejects_bad_string(spark, tmp_path):
    """A typo'd mode ('Auto') must fail at construction with a clear
    ValueError, not deep in the first write with a str/int TypeError."""
    with pytest.raises(ValueError, match="colocate_salt"):
        make_pipeline(
            spark, str(tmp_path / "lake"), n_buckets=4, strategy="mor",
            colocate_salt="Auto",
        )
