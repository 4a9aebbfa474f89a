"""Merge-on-read path: identical final state to COW + oracle, compaction
preserves state, idempotent re-apply, metrics."""

import os

from icdc_dataloader_spark import oracle
from icdc_dataloader_spark.plans.merge import compact, read_state
from icdc_dataloader_spark.repos import make_pipeline
from icdc_dataloader_spark.sources.gen import gen_events_pandas


def _events(spark, tmp_path, **kw):
    pdf = gen_events_pandas(**kw)
    os.makedirs(str(tmp_path), exist_ok=True)
    path = str(tmp_path / "events.parquet")
    pdf.to_parquet(path, index=False)
    return spark.read.parquet(path), pdf.to_dict("records")


def _state(spark, pipe):
    rows = read_state(spark, pipe.lake).select(
        "repo", "path", "commit", "lang", "content_sha256"
    ).collect()
    return {
        (r["repo"], r["path"]): (r["commit"], r["lang"], r["content_sha256"])
        for r in rows
    }


def test_mor_matches_cow_and_oracle(spark, tmp_path):
    kw = dict(
        n_events=6000, n_repos=30, n_paths=8, seed=77, n_batches=5,
        p_delete=0.08, p_new=0.05, p_invalid_lang=0.02,
    )
    df, records = _events(spark, tmp_path, **kw)

    cow = make_pipeline(spark, str(tmp_path / "cow"), n_buckets=8, strategy="cow")
    cow.run(df)
    mor = make_pipeline(
        spark, str(tmp_path / "mor"), n_buckets=8, strategy="mor", compact_every=100
    )
    mor.run(df)

    s_cow = _state(spark, cow)
    s_mor = _state(spark, mor)
    assert s_cow == s_mor

    out = oracle.replay(records)
    exp = {
        k: (r["commit"], r["lang"], r["content_sha256"])
        for k, r in out["state"].items()
        if r["_op"] != "delete"
    }
    assert s_mor == exp
    # MoR really appended deltas (no compaction at compact_every=100)
    assert mor.lake.delta_files(), "expected delta files in MoR snapshots"


def test_mor_compaction_preserves_state(spark, tmp_path):
    df, records = _events(
        spark, tmp_path, n_events=3000, n_repos=20, n_paths=6, seed=78,
        n_batches=4, p_delete=0.1,
    )
    pipe = make_pipeline(
        spark, str(tmp_path / "mor"), n_buckets=4, strategy="mor", compact_every=100
    )
    pipe.run(df)
    before = _state(spark, pipe)
    assert pipe.lake.delta_files()
    compact(spark, pipe.lake)
    assert not pipe.lake.delta_files()
    assert _state(spark, pipe) == before
    # resolve() now takes the no-agg fast path and still matches
    assert len(before) > 0


def test_mor_midstream_compaction_and_resume(spark, tmp_path):
    df, records = _events(
        spark, tmp_path, n_events=4000, n_repos=25, n_paths=6, seed=79,
        n_batches=6, p_delete=0.1,
    )
    root = str(tmp_path / "mor")
    pipe = make_pipeline(spark, root, n_buckets=4, strategy="mor", compact_every=2)
    pipe.run(df, max_batches=3)  # compaction fires mid-stream
    pipe2 = make_pipeline(spark, root, n_buckets=4, strategy="mor", compact_every=2)
    pipe2.run(df)
    out = oracle.replay(records)
    exp = {
        k: (r["commit"], r["lang"], r["content_sha256"])
        for k, r in out["state"].items()
        if r["_op"] != "delete"
    }
    assert _state(spark, pipe2) == exp


def test_mor_idempotent_reapply(spark, tmp_path):
    df, _ = _events(
        spark, tmp_path, n_events=1000, n_repos=10, n_paths=4, seed=80, n_batches=2,
    )
    pipe = make_pipeline(
        spark, str(tmp_path / "mor"), n_buckets=4, strategy="mor", compact_every=100
    )
    pipe.run(df)
    s1 = _state(spark, pipe)
    v1 = pipe.lake.latest_version()
    res = pipe.run(df)
    assert res["applied"] == []
    assert pipe.lake.latest_version() == v1 and _state(spark, pipe) == s1


def test_mor_tombstone_gc(spark, tmp_path):
    df, records = _events(
        spark, tmp_path, n_events=2000, n_repos=10, n_paths=4, seed=81,
        n_batches=2, p_delete=0.3,
    )
    pipe = make_pipeline(
        spark, str(tmp_path / "mor"), n_buckets=4, strategy="mor", compact_every=100
    )
    pipe.run(df)
    before = _state(spark, pipe)
    # all events applied => watermark above max seq is safe
    compact(spark, pipe.lake, drop_tombstones_below_seq=10_000_000)
    after = _state(spark, pipe)
    assert after == before
    raw = pipe.lake.read(spark)
    assert raw.filter("_op = 'delete'").count() == 0


def test_default_loop_gcs_tombstones_and_keeps_late_lww(spark, tmp_path):
    """Round-3: the DEFAULT CDC loop reclaims dead tombstones (late_horizon=0)
    while the pending-batch watermark protects in-flight late events.

    b2 carries a LATE lower-seq upsert for the key b1 deleted: the in-drain
    watermark (min pending seq = 50) must retain the tombstone until b2 is
    applied and lost, and the final in-loop compaction must then physically
    remove it."""
    import pandas as pd

    rows = [
        dict(seq=1,   op="upsert", repo="r1", path="a", commit="c1", lang="python", content="v1", batch_id=0),
        dict(seq=2,   op="upsert", repo="r2", path="b", commit="c2", lang="python", content="v2", batch_id=0),
        dict(seq=101, op="delete", repo="r2", path="b", commit=None, lang=None, content=None, batch_id=1),
        dict(seq=102, op="upsert", repo="r1", path="a", commit="c3", lang="python", content="v3", batch_id=1),
        dict(seq=50,  op="upsert", repo="r2", path="b", commit="cL", lang="python", content="late", batch_id=2),
        dict(seq=201, op="upsert", repo="r3", path="c", commit="c4", lang="python", content="v4", batch_id=2),
        dict(seq=301, op="upsert", repo="r1", path="a", commit="c5", lang="python", content="v5", batch_id=3),
    ]
    pdf = pd.DataFrame(rows)
    pdf["ts"] = pd.Timestamp("2024-01-01").as_unit("us")
    src = str(tmp_path / "binlog")
    spark.createDataFrame(pdf).write.partitionBy("batch_id").parquet(src)

    pipe = make_pipeline(
        spark, str(tmp_path / "out"), n_buckets=1, strategy="mor", compact_every=2
    )
    assert pipe.late_horizon == 0  # GC is the default now
    pipe.run(spark.read.parquet(src))

    state = _state(spark, pipe)
    assert set(state) == {("r1", "a"), ("r3", "c")}
    assert state[("r1", "a")][0] == "c5"  # latest upsert won
    # the late seq-50 upsert LOST to the seq-101 tombstone (retained by the
    # pending-batch watermark while b2 was in flight)
    assert ("r2", "b") not in state
    # ... and the tombstone is now physically gone from the table files
    raw = pipe.lake.read(spark)
    assert raw.filter("_op = 'delete'").count() == 0


def test_direct_apply_batch_never_gcs_tombstones(spark, tmp_path):
    """Self-review fix: tombstone GC needs run()'s pending-batch bound; a
    direct apply_batch() caller may deliver batches out of order, so the
    default loop must NOT GC without that information."""
    import pandas as pd

    pipe = make_pipeline(
        spark, str(tmp_path / "out"), n_buckets=1, strategy="mor",
        compact_every=1,
    )

    def batch(rows):
        pdf = pd.DataFrame(rows)
        pdf["ts"] = pd.Timestamp("2024-01-01").as_unit("us")
        return spark.createDataFrame(pdf)

    pipe.apply_batch(batch([
        dict(seq=100, op="upsert", repo="r1", path="a", commit="c1",
             lang="python", content="v1"),
        dict(seq=101, op="delete", repo="r2", path="b", commit=None,
             lang=None, content=None),
    ]), "b0")
    # compaction fired (compact_every=1) but must keep the tombstone
    raw = pipe.lake.read(spark)
    assert raw.filter("_op = 'delete'").count() == 1
    # the out-of-order direct batch with a lower seq still loses
    pipe.apply_batch(batch([
        dict(seq=50, op="upsert", repo="r2", path="b", commit="cL",
             lang="python", content="late"),
    ]), "b1")
    state = _state(spark, pipe)
    assert ("r2", "b") not in state


def test_salted_ingest_state_replays_split_buckets(spark):
    """The ``salted_ingest_state`` oracle query must really replay split
    hot buckets: some version of its lake holds more than one delta file
    in a bucket."""
    from icdc_dataloader_spark.plans.lake import LakeTable
    from icdc_dataloader_spark.queries import QUERIES
    from test_entry import SF_DIR
    from test_plans import _files_per_bucket

    df = QUERIES["salted_ingest_state"](spark, SF_DIR)
    some_file = df.inputFiles()[0].removeprefix("file:")
    lake = LakeTable(some_file[: some_file.index("/data/")])
    most = max(
        max(_files_per_bucket(lake, v).values(), default=0)
        for v in range(lake.latest_version() + 1)
    )
    assert most > 1, "no version split a bucket's delta write"
