"""Streaming front-end for the change feed (streaming/feed.py) — round-4
VERDICT #3: a consumer can tail changes_between incrementally, via either
the checkpointed cursor (ChangeFeedConsumer) or Structured Streaming
(spark.readStream.format("lake_change_feed"))."""

import os

import pandas as pd
from pyspark.sql import functions as F

from icdc_dataloader_spark.plans.merge import changes_between
from icdc_dataloader_spark.repos import make_pipeline
from icdc_dataloader_spark.streaming.feed import (
    ChangeFeedConsumer,
    read_change_feed_stream,
)

COLS = ["repo", "path", "change_type", "commit", "lang", "content_sha256"]


def _drain(spark, pipe, tmp_path, name, rows):
    pdf = pd.DataFrame(rows)
    pdf["ts"] = pd.Timestamp("2024-01-01").as_unit("us")
    for c in ("commit", "lang", "content"):
        pdf.loc[pdf["op"] == "delete", c] = None
    src = str(tmp_path / name)
    spark.createDataFrame(pdf).write.partitionBy("batch_id").parquet(src)
    pipe.run(spark.read.parquet(src))
    return pipe.lake.latest_version()


def _ev(seq, op, repo, batch_id=0, path="p"):
    return dict(seq=seq, op=op, repo=repo, path=path, commit=f"c{seq}",
                lang="python", content=f"v{seq}", batch_id=batch_id)


def _rows(df):
    return sorted(
        tuple(r[c] for c in COLS) for r in df.select(*COLS).collect()
    )


def _setup(spark, tmp_path, n_buckets=4):
    pipe = make_pipeline(
        spark, str(tmp_path / "lake"), n_buckets=n_buckets, strategy="mor",
        compact_every=100,
    )
    v1 = _drain(spark, pipe, tmp_path, "d1", [
        _ev(1, "upsert", "rKeep"),
        _ev(2, "upsert", "rUpd"),
        _ev(3, "upsert", "rGone"),
    ])
    v2 = _drain(spark, pipe, tmp_path, "d2", [
        _ev(10, "upsert", "rUpd", 1),
        _ev(11, "delete", "rGone", 1),
        _ev(12, "upsert", "rNew", 1),
    ])
    return pipe, v1, v2


def test_cursor_consumer_matches_batch_call(spark, tmp_path):
    pipe, v1, v2 = _setup(spark, tmp_path)
    cons = ChangeFeedConsumer(
        pipe.lake, str(tmp_path / "ckpt"), start_version=v1
    )
    inc = cons.poll(spark)
    assert inc["v_from"] == v1 and inc["v_to"] == v2
    expect = _rows(changes_between(spark, pipe.lake, v1, v2))
    assert _rows(inc["df"]) == expect

    # crash before commit -> same increment re-delivered
    cons2 = ChangeFeedConsumer(pipe.lake, str(tmp_path / "ckpt"))
    assert _rows(cons2.poll(spark)["df"]) == expect

    cons.commit(inc["v_to"])
    assert cons.poll(spark) is None  # caught up
    v3 = _drain(spark, pipe, tmp_path, "d3", [_ev(20, "upsert", "rUpd", 2)])
    inc2 = cons.poll(spark)
    assert (inc2["v_from"], inc2["v_to"]) == (v2, v3)
    assert _rows(inc2["df"]) == _rows(changes_between(spark, pipe.lake, v2, v3))


def test_readstream_source_matches_batch_call(spark, tmp_path):
    """Two drains, then the Structured Streaming source replays the same
    rows as changes_between — including across a second incremental
    micro-batch after a third drain (checkpointed resume)."""
    pipe, v1, v2 = _setup(spark, tmp_path)
    ckpt = str(tmp_path / "stream_ckpt")
    out = str(tmp_path / "stream_out")

    def run_stream():
        feed = read_change_feed_stream(spark, pipe.lake.root, start_version=v1)
        q = (
            feed.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_stream()
    got = _rows(spark.read.parquet(out))
    assert got == _rows(changes_between(spark, pipe.lake, v1, v2))

    # third drain: the checkpointed stream picks up ONLY (v2, v3]
    v3 = _drain(spark, pipe, tmp_path, "d3", [
        _ev(20, "upsert", "rUpd", 2),
        _ev(21, "delete", "rNew", 2),
    ])
    run_stream()
    got_all = _rows(spark.read.parquet(out))
    expect_all = sorted(
        _rows(changes_between(spark, pipe.lake, v1, v2))
        + _rows(changes_between(spark, pipe.lake, v2, v3))
    )
    assert got_all == expect_all


def test_readstream_source_null_keys_and_bucket_pruning(spark, tmp_path):
    """NULL-keyed rows survive the per-bucket Arrow diff (NULL key
    components group together), and only changed buckets become input
    partitions.  Drives
    the lake directly (the model requires path, so the validated pipeline
    would quarantine NULL-path rows)."""
    from icdc_dataloader_spark.plans.merge import append_delta
    from icdc_dataloader_spark.repos import create_repos_table
    from icdc_dataloader_spark.streaming.feed import LakeChangeFeedReader

    lake = create_repos_table(str(tmp_path / "repos"), n_buckets=4)
    schema = ("repo string, path string, commit string, lang string,"
              " content string, content_sha256 string, _seq long, _op string")

    def up(repo, path, seq):
        return (repo, path, f"c{seq}", "py", f"v{seq}", f"h{seq}", seq,
                "upsert")

    append_delta(spark, lake,
                 spark.createDataFrame([up("rN", None, 1), up("rO", "p", 2)],
                                       schema), batch_id="b1")
    v1 = lake.latest_version()
    append_delta(spark, lake,
                 spark.createDataFrame([up("rN", None, 10)], schema), batch_id="b2")
    v2 = lake.latest_version()

    def read_rows(reader, parts):
        # read() yields pyarrow.RecordBatches (round 6); flatten to tuples
        return [
            tuple(row.values())
            for p in parts
            for batch in reader.read(p)
            for row in batch.to_pylist()
        ]

    reader = LakeChangeFeedReader({"path": lake.root})
    parts = reader.partitions({"version": v1}, {"version": v2})
    assert 0 < len(parts) < 4  # pruned to the touched bucket(s)
    rows = read_rows(reader, parts)
    # (repo, path, change_type, commit, lang, content, content_sha256)
    assert len(rows) == 1
    r = rows[0]
    assert r[0] == "rN" and r[1] is None and r[2] == "update"

    # unchanged NULL-keyed rN between two versions that share its bucket
    # (rN2 also has a NULL path -> same NULL-key treatment, likely same
    # bucket traffic): rN must NOT double-report
    append_delta(spark, lake,
                 spark.createDataFrame([up("rN2", None, 20)], schema), batch_id="b3")
    v3 = lake.latest_version()
    parts = reader.partitions({"version": v2}, {"version": v3})
    rows = read_rows(reader, parts)
    assert [(r[0], r[2]) for r in rows] == [("rN2", "insert")], (
        "unchanged NULL-keyed rN must not double-report"
    )


def test_readstream_schema_matches_feed_columns(spark, tmp_path):
    pipe, v1, v2 = _setup(spark, tmp_path)
    feed = read_change_feed_stream(spark, pipe.lake.root, start_version=v1)
    batch_cols = changes_between(spark, pipe.lake, v1, v2).columns
    assert feed.columns == batch_cols


def test_readstream_survives_mid_stream_schema_evolution(spark, tmp_path):
    """Self-review fix: a column added while the stream is RUNNING must
    not change the emitted row arity — Spark kills a Python data source
    whose read() yields more columns than the schema declared at stream
    start (DATA_SOURCE_RETURN_SCHEMA_MISMATCH).  The running stream keeps
    its declared columns (new column dropped); a restarted stream
    declares the evolved schema and carries it."""
    from pyspark.sql import types as T

    from icdc_dataloader_spark.plans.merge import append_delta, table_schema
    from icdc_dataloader_spark.repos import (
        create_repos_table,
        repos_payload_schema,
    )

    lake = create_repos_table(str(tmp_path / "repos"), n_buckets=2)
    base = ("repo string, path string, commit string, lang string,"
            " content string, content_sha256 string, _seq long, _op string")

    def up(repo, seq):
        return (repo, "p", f"c{seq}", "py", f"v{seq}", f"h{seq}", seq,
                "upsert")

    append_delta(spark, lake, spark.createDataFrame([up("rA", 1)], base), batch_id="b1")
    v1 = lake.latest_version()

    feed = read_change_feed_stream(spark, lake.root, start_version=v1)
    assert "stars" not in feed.columns
    q = (feed.writeStream.format("memory").queryName("feed_evo")
         .trigger(processingTime="200 milliseconds").start())
    try:
        append_delta(spark, lake,
                     spark.createDataFrame([up("rB", 2)], base), batch_id="b2")
        q.processAllAvailable()
        # EVOLVE while the stream runs, then a batch carrying the column
        lake.evolve_schema(
            table_schema(repos_payload_schema().add("stars", T.LongType()))
        )
        wide = base + ", stars long"
        append_delta(
            spark, lake,
            spark.createDataFrame(
                [("rC", "p", "c3", "py", "v3", "h3", 3, "upsert", 42)], wide
            ), batch_id="b3",
        )
        q.processAllAvailable()  # raised DATA_SOURCE_RETURN_SCHEMA_MISMATCH
        assert q.isActive and q.exception() is None
        got = {r["repo"] for r in
               spark.sql("select repo from feed_evo").collect()}
        assert got == {"rB", "rC"}
    finally:
        q.stop()

    # a RESTARTED stream declares the evolved schema
    feed2 = read_change_feed_stream(spark, lake.root, start_version=v1)
    assert "stars" in feed2.columns


def test_lagging_consumer_gets_clear_expired_error(spark, tmp_path):
    """Round-5 hardening: vacuum records a retention low-water; a feed
    consumer whose cursor fell below it gets a CLEAR expired-snapshot
    error (the Iceberg analogue) instead of an obscure missing-file
    crash mid-scan — and reads at or above the floor still work."""
    import pytest

    from icdc_dataloader_spark.plans.merge import compact

    pipe, v1, v2 = _setup(spark, tmp_path)
    cons = ChangeFeedConsumer(
        pipe.lake, str(tmp_path / "lag_ckpt"), start_version=v1
    )
    # consumer lags: more drains, a compaction (supersedes every
    # pre-compact manifest — without it they stay carried-by-reference
    # and vacuum never actually deletes them), a post-compact drain so
    # the kept snapshots reference ONLY post-compact manifests, vacuum
    v3 = _drain(spark, pipe, tmp_path, "dx", [_ev(30, "upsert", "rUpd", 2)])
    compact(spark, pipe.lake)
    v4 = _drain(spark, pipe, tmp_path, "dy", [_ev(31, "upsert", "rNew2", 3)])
    pipe.lake.vacuum(keep_last=2)
    floor = pipe.lake.retained_from()
    assert floor > v1

    with pytest.raises(ValueError, match="Re-bootstrap"):
        cons.poll(spark)
    with pytest.raises(ValueError, match="has been vacuumed"):
        changes_between(spark, pipe.lake, v1)
    from icdc_dataloader_spark.streaming.feed import LakeChangeFeedReader

    reader = LakeChangeFeedReader({"path": pipe.lake.root})
    with pytest.raises(ValueError, match="Restart the stream"):
        reader.partitions({"version": v1}, {"version": v4})

    # at/above the floor the feed still serves the CORRECT diff
    rows = changes_between(spark, pipe.lake, floor).collect()
    assert {(r["repo"], r["change_type"]) for r in rows} == {
        ("rNew2", "insert")
    }
    # floor is monotone across repeated vacuums; a LARGER keep_last later
    # must neither lower it nor crash loading snapshots below the floor
    # whose manifests the first vacuum already deleted (the keep range is
    # clamped to the floor).  A FRESH instance matters: the original one
    # serves below-floor snapshots from its in-memory caches and masks
    # the missing files.
    from icdc_dataloader_spark.plans.lake import LakeTable

    fresh = LakeTable(pipe.lake.root)
    with pytest.raises(FileNotFoundError):
        fresh.snapshot(v1)  # below the floor: manifests really are gone
    fresh.vacuum(keep_last=10)
    assert fresh.retained_from() >= floor
