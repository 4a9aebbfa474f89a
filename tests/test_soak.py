"""Long-horizon soak (round-4 VERDICT #7): one table lives through 100
drains with cadence-8 compaction, periodic vacuum, tombstone GC, and one
mid-soak schema evolution.

Metadata flatness was previously proven to 1,000 commits and volume to
20M events, but no single table had survived repeated
compact/GC/vacuum/evolve cycles.  This soak asserts, at checkpoints and
at the end:

- state parity vs an independent pandas LWW replay (seeded, deterministic);
- bounded physical footprint: data-file count stays O(n_buckets), the
  ledger head stays KB-sized, manifests don't accumulate after vacuum;
- consume-side parity (round-5): a ChangeFeedConsumer tails every drain
  and replaying ONLY its increments reconstructs the exact state — the
  feed stays lossless through 100 drains of compaction/GC/vacuum and a
  mid-soak schema evolution;
- split hot buckets under soak: the drains run under a 1 KB AQE advisory
  partition size, so the delta write's rebalance splits buckets into
  multi-file deltas that flow through every lifecycle event above
  without breaking parity or the footprint bounds.
"""

import hashlib
import json
import os

import numpy as np
import pandas as pd
from pyspark.sql import types as T

from icdc_dataloader_spark.plans.merge import read_state, table_schema
from icdc_dataloader_spark.repos import make_pipeline, repos_payload_schema

N_DRAINS = 100
ROWS_PER_DRAIN = 150
N_KEYS = 300
EVOLVE_AT = 50
VACUUM_EVERY = 25
CHECK_EVERY = 20


def _gen_drain(rng, drain_idx, seq_start):
    """One drain's events: monotone seqs, ~12% deletes, keys Zipf-ish."""
    n = ROWS_PER_DRAIN
    ks = (rng.zipf(1.3, size=n) - 1) % N_KEYS
    rows = []
    for j in range(n):
        seq = seq_start + j
        k = int(ks[j])
        is_del = rng.random() < 0.12
        row = dict(
            seq=seq,
            op="delete" if is_del else "upsert",
            repo=f"r{k}",
            path=f"p{k % 5}",
            commit=None if is_del else f"c{seq}",
            lang=None if is_del else "python",
            content=None if is_del else f"v{seq}",
            batch_id=drain_idx,
        )
        if drain_idx >= EVOLVE_AT:
            row["stars"] = None if is_del else int(seq % 97)
        rows.append(row)
    return rows


def _expected_state(all_rows):
    """Independent LWW replay in pandas: winner per key by seq, live if
    the winner is an upsert."""
    pdf = pd.DataFrame(all_rows).sort_values("seq", kind="mergesort")
    win = pdf.drop_duplicates(subset=["repo", "path"], keep="last")
    live = win[win["op"] == "upsert"]
    out = {}
    for r in live.itertuples(index=False):
        sha = hashlib.sha256(r.content.encode()).hexdigest()
        stars = getattr(r, "stars", None)
        if stars is not None and not pd.isna(stars):
            stars = int(stars)
        else:
            stars = None
        out[(r.repo, r.path)] = (r.commit, sha, stars)
    return out


def _actual_state(spark, pipe, evolved):
    cols = ["repo", "path", "commit", "content_sha256"] + (
        ["stars"] if evolved else []
    )
    out = {}
    for r in read_state(spark, pipe.lake).select(*cols).collect():
        out[(r["repo"], r["path"])] = (
            r["commit"], r["content_sha256"],
            r["stars"] if evolved else None,
        )
    return out


def _apply_increment(feed_state, inc):
    """Replay one feed increment onto the consumer's state dict."""
    has_stars = "stars" in inc["df"].columns
    for r in inc["df"].collect():
        k = (r["repo"], r["path"])
        if r["change_type"] == "delete":
            feed_state.pop(k, None)
        else:
            stars = r["stars"] if has_stars else None
            feed_state[k] = (
                r["commit"], r["content_sha256"],
                int(stars) if stars is not None else None,
            )


def test_100_drain_soak(spark, tmp_path):
    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    prev = spark.conf.get(key)
    spark.conf.set(key, "1k")
    try:
        _soak(spark, tmp_path)
    finally:
        spark.conf.set(key, prev)


def _soak(spark, tmp_path):
    from icdc_dataloader_spark.streaming.feed import ChangeFeedConsumer
    from test_plans import _files_per_bucket

    rng = np.random.default_rng(42)
    pipe = make_pipeline(
        spark, str(tmp_path / "out"), n_buckets=8, strategy="mor",
        compact_every=8, late_horizon=0,
    )
    cons = ChangeFeedConsumer(pipe.lake, str(tmp_path / "feed_ckpt"))
    feed_state = {}
    all_rows = []
    seq = 1
    evolved = False
    split_buckets = 0
    for d in range(N_DRAINS):
        if d == EVOLVE_AT:
            pipe.lake.evolve_schema(
                table_schema(repos_payload_schema().add("stars", T.LongType()))
            )
            evolved = True
        rows = _gen_drain(rng, d, seq)
        seq += len(rows)
        all_rows.extend(rows)
        src = str(tmp_path / f"binlog{d}")
        pdf = pd.DataFrame(rows)
        if "stars" in pdf.columns:
            # nullable Int64, not float64-with-NaN: Spark would infer
            # DOUBLE from the float-ified column and the model's integer
            # type check would (correctly) quarantine every upsert
            pdf["stars"] = pdf["stars"].astype("Int64")
        spark.createDataFrame(pdf).write.partitionBy("batch_id").parquet(src)
        res = pipe.run(spark.read.parquet(src))
        assert not res["quarantined"], (d, res)
        per_bucket = _files_per_bucket(pipe.lake, pipe.lake.latest_version())
        split_buckets += sum(n > 1 for n in per_bucket.values())
        # tail the feed BEFORE vacuum (the cursor then always points at
        # the head, so vacuum can never reclaim a snapshot the consumer
        # still needs)
        inc = cons.poll(spark)
        if inc is not None:
            _apply_increment(feed_state, inc)
            cons.commit(inc["v_to"])
        if d % VACUUM_EVERY == VACUUM_EVERY - 1:
            pipe.lake.vacuum(keep_last=2)
        if d % CHECK_EVERY == CHECK_EVERY - 1:
            expected = _expected_state([dict(r) for r in all_rows])
            assert _actual_state(spark, pipe, evolved) == expected, (
                f"state diverged at drain {d}"
            )
            assert feed_state == expected, (
                f"feed replay diverged at drain {d}"
            )

    assert split_buckets, "no drain split a bucket's delta write"

    # final parity (also covers post-evolution rows)
    assert _actual_state(spark, pipe, True) == _expected_state(all_rows)
    assert feed_state == _expected_state(all_rows), (
        "replaying ONLY the change feed must reconstruct the state"
    )

    # ---- bounded footprint ------------------------------------------------
    from icdc_dataloader_spark.plans.merge import compact

    compact(spark, pipe.lake, drop_tombstones_below_seq=seq)
    pipe.lake.vacuum(keep_last=1)

    snap = pipe.lake.snapshot()
    # fully compacted: at most one base file per bucket
    assert len(snap["files"]) <= 8, snap["files"]
    # physical data files on disk match what vacuum kept (no leak)
    n_disk = sum(
        1
        for dp, _d, fns in os.walk(os.path.join(pipe.lake.root, "data"))
        for fn in fns if fn.endswith(".parquet")
    )
    assert n_disk <= 8 + 8, n_disk  # live base + at most one stale version
    # no emptied bucket subdirs left behind (round-5 vacuum fix, at soak
    # scale)
    data_root = os.path.join(pipe.lake.root, "data")
    for vdir in os.listdir(data_root):
        for entry in os.listdir(os.path.join(data_root, vdir)):
            sub = os.path.join(data_root, vdir, entry)
            if os.path.isdir(sub):
                assert any(
                    fn.endswith(".parquet")
                    for _dp, _dirs, fns in os.walk(sub)
                    for fn in fns
                ), f"empty dir leak: {sub}"
    # ledger head stays KB-sized after 100+ applied batches
    head = os.path.join(pipe.ledger.root, "head.json")
    assert os.path.getsize(head) < 64 * 1024
    with open(head) as fh:
        h = json.load(fh)
    assert h["n_applied"] == N_DRAINS
    # manifests pruned by vacuum: only the kept snapshot's manifests remain
    n_manifests = len(os.listdir(pipe.lake.manifest_dir))
    assert n_manifests <= 3 * 8, n_manifests
