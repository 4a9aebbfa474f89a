"""Lake table + MERGE: upsert/new/delete, idempotence, time travel,
schema evolution, file pruning."""

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from icdc_dataloader_spark.plans.lake import LakeTable
from icdc_dataloader_spark.plans.merge import merge_into, read_state, table_schema
from icdc_dataloader_spark.repos import create_repos_table, repos_payload_schema


def _batch(spark, rows):
    """rows: (repo, path, commit, lang, content, seq, op)"""
    return spark.createDataFrame(
        [
            (r[0], r[1], r[2], r[3], r[4], None, r[5], r[6])
            for r in rows
        ],
        "repo string, path string, commit string, lang string, content string,"
        " content_sha256 string, _seq long, _op string",
    ).withColumn(
        "content_sha256",
        F.when(F.col("_op") != "delete", F.sha2(F.coalesce("content", F.lit("")), 256)),
    )


@pytest.fixture
def lake(tmp_path):
    return create_repos_table(str(tmp_path / "repos"), n_buckets=4)


def _state(spark, lake):
    rows = read_state(spark, lake).select("repo", "path", "commit", "content").collect()
    return {(r["repo"], r["path"]): (r["commit"], r["content"]) for r in rows}


def test_upsert_insert_then_update(spark, lake):
    b1 = _batch(spark, [("r1", "a", "c1", "python", "v1", 1, "upsert"),
                        ("r1", "b", "c2", "go", "v2", 2, "upsert")])
    res = merge_into(spark, lake, b1, batch_id="b1")
    assert res["metrics"]["rows_inserted"] == 2
    b2 = _batch(spark, [("r1", "a", "c3", "python", "v1b", 3, "upsert")])
    res2 = merge_into(spark, lake, b2, batch_id="b2")
    assert res2["metrics"]["rows_updated"] == 1
    assert _state(spark, lake) == {
        ("r1", "a"): ("c3", "v1b"),
        ("r1", "b"): ("c2", "v2"),
    }


def test_stale_update_loses(spark, lake):
    merge_into(spark, lake, _batch(spark, [("r1", "a", "c5", "python", "new", 10, "upsert")]),
               batch_id="b1")
    # late event with lower seq must NOT overwrite
    merge_into(spark, lake, _batch(spark, [("r1", "a", "c1", "python", "old", 5, "upsert")]),
               batch_id="b2")
    assert _state(spark, lake)[("r1", "a")] == ("c5", "new")


def test_idempotent_reapply(spark, lake):
    b = _batch(spark, [("r1", "a", "c1", "python", "v1", 1, "upsert")])
    merge_into(spark, lake, b, batch_id="b1")
    v1 = lake.latest_version()
    res = merge_into(spark, lake, b, batch_id="b1")
    assert res["noop"] is True
    assert lake.latest_version() == v1
    assert len(_state(spark, lake)) == 1


def test_new_mode_conflict_quarantined(spark, lake):
    merge_into(spark, lake, _batch(spark, [("r1", "a", "c1", "python", "v1", 1, "new")]),
               batch_id="b1")
    res = merge_into(spark, lake, _batch(spark, [
        ("r1", "a", "c2", "python", "v2", 2, "new"),      # conflict: key live
        ("r1", "b", "c3", "python", "v3", 3, "new"),      # fine
    ]), batch_id="b2")
    errs = res["errors"].collect()
    assert len(errs) == 1 and errs[0]["reason"] == "node_exists_in_new_mode"
    st = _state(spark, lake)
    assert st[("r1", "a")] == ("c1", "v1")  # unchanged
    assert st[("r1", "b")] == ("c3", "v3")


def test_delete_tombstone_beats_late_upsert(spark, lake):
    merge_into(spark, lake, _batch(spark, [("r1", "a", "c1", "python", "v1", 1, "upsert")]),
               batch_id="b1")
    merge_into(spark, lake, _batch(spark, [("r1", "a", None, None, None, 10, "delete")]),
               batch_id="b2")
    assert ("r1", "a") not in _state(spark, lake)
    # late upsert with seq 5 < tombstone seq 10 must stay dead
    merge_into(spark, lake, _batch(spark, [("r1", "a", "c2", "python", "late", 5, "upsert")]),
               batch_id="b3")
    assert ("r1", "a") not in _state(spark, lake)
    # but a later upsert resurrects
    merge_into(spark, lake, _batch(spark, [("r1", "a", "c3", "python", "back", 11, "upsert")]),
               batch_id="b4")
    assert _state(spark, lake)[("r1", "a")] == ("c3", "back")


def test_time_travel(spark, lake):
    merge_into(spark, lake, _batch(spark, [("r1", "a", "c1", "python", "v1", 1, "upsert")]),
               batch_id="b1")
    v_after_b1 = lake.latest_version()
    merge_into(spark, lake, _batch(spark, [("r1", "a", "c2", "python", "v2", 2, "upsert")]),
               batch_id="b2")
    old = read_state(spark, lake, version=v_after_b1).collect()
    assert old[0]["content"] == "v1"
    new = read_state(spark, lake).collect()
    assert new[0]["content"] == "v2"


def test_file_pruning_carries_untouched_buckets(spark, lake):
    # load keys across buckets
    rows = [(f"r{i}", "a", "c", "python", f"v{i}", i, "upsert") for i in range(20)]
    merge_into(spark, lake, _batch(spark, rows), batch_id="b1")
    files_v = {f["path"] for f in lake.snapshot()["files"]}
    # touch one key -> only its bucket rewritten
    merge_into(spark, lake, _batch(spark, [("r0", "a", "c9", "python", "vX", 100, "upsert")]),
               batch_id="b2")
    snap = lake.snapshot()
    carried = {f["path"] for f in snap["files"]} & files_v
    assert carried, "untouched bucket files must be carried, not rewritten"
    assert len(_state(spark, lake)) == 20


def test_schema_evolution_add_and_widen(spark, tmp_path):
    # v1 payload: stars int; v2 adds 'forks' and widens stars -> double
    p1 = T.StructType([
        T.StructField("repo", T.StringType()), T.StructField("path", T.StringType()),
        T.StructField("stars", T.LongType()),
    ])
    lake = LakeTable.create(str(tmp_path / "t"), table_schema(p1), ["repo", "path"], n_buckets=2)
    b1 = spark.createDataFrame(
        [("r1", "a", 5, 1, "upsert")],
        "repo string, path string, stars long, _seq long, _op string")
    merge_into(spark, lake, b1, batch_id="b1")
    p2 = T.StructType([
        T.StructField("repo", T.StringType()), T.StructField("path", T.StringType()),
        T.StructField("stars", T.DoubleType()), T.StructField("forks", T.LongType()),
    ])
    lake.evolve_schema(table_schema(p2))
    # old file read under new schema: stars widened, forks null — NO rewrite
    st = read_state(spark, lake).collect()
    assert st[0]["stars"] == 5.0 and st[0]["forks"] is None
    b2 = spark.createDataFrame(
        [("r2", "b", 7.5, 2, "upsert", 42)],
        "repo string, path string, stars double, _seq long, _op string, forks long")
    merge_into(spark, lake, b2, batch_id="b2")
    rows = {r["repo"]: r for r in read_state(spark, lake).collect()}
    assert rows["r2"]["forks"] == 42 and rows["r1"]["forks"] is None
    assert rows["r1"]["stars"] == 5.0 and rows["r2"]["stars"] == 7.5


def test_unsafe_widening_rejected(spark, tmp_path):
    p1 = T.StructType([T.StructField("repo", T.StringType()), T.StructField("path", T.StringType()),
                       T.StructField("x", T.DoubleType())])
    lake = LakeTable.create(str(tmp_path / "t2"), table_schema(p1), ["repo", "path"])
    p_bad = T.StructType([T.StructField("repo", T.StringType()), T.StructField("path", T.StringType()),
                          T.StructField("x", T.LongType())])
    with pytest.raises(ValueError):
        lake.evolve_schema(table_schema(p_bad))


def test_vacuum_keeps_live_versions(spark, lake, tmp_path):
    for i in range(4):
        merge_into(spark, lake, _batch(spark, [("r1", "a", f"c{i}", "python", f"v{i}", i, "upsert")]),
                   batch_id=f"b{i}")
    lake.vacuum(keep_last=2)
    # latest still readable
    assert _state(spark, lake)[("r1", "a")] == ("c3", "v3")


def test_footer_stats_via_spark_job_above_threshold(spark, lake, monkeypatch):
    """Large commits gather per-file footer stats with a distributed job
    (driver walk is O(#files) — the 10^10-scale commit bottleneck)."""
    from icdc_dataloader_spark.plans import lake as lake_mod

    monkeypatch.setattr(lake_mod, "FOOTER_JOB_THRESHOLD", 2)  # force job path
    b = _batch(
        spark,
        [(f"r{i}", f"p{i}", "c1", "python", f"body{i}", i, "upsert") for i in range(40)],
    )
    merge_into(spark, lake, b, batch_id="footer-job")
    snap = lake.snapshot()
    files = [f for f in snap["files"] if f["rows"]]
    assert files and all(f["rows"] > 0 for f in files)
    # _seq min/max stats (the delta lineage) present and sane
    st = next(f["stats"] for f in files if f.get("stats"))
    assert 0 <= st["_seq"]["min"] <= st["_seq"]["max"] < 40
    assert _state(spark, lake)[("r7", "p7")] == ("c1", "body7")


def test_two_writer_commit_race_one_clean_failure(spark, lake, tmp_path):
    """Round-3: concurrent writers racing the version counter — exactly one
    commit wins; the loser fails loudly with zero corrupted snapshots."""
    import json
    import threading

    merge_into(spark, lake, _batch(spark, [("r1", "a", "c1", "python", "v1", 1, "upsert")]),
               batch_id="seed")
    snap = lake.snapshot()
    version = snap["version"] + 1

    results = []
    barrier = threading.Barrier(2)

    def writer(tag):
        try:
            barrier.wait()
            lake._write_snapshot(version, dict(snap, version=version, note=tag))
            results.append((tag, "ok"))
        except RuntimeError as e:
            results.append((tag, f"fail:{e}"))

    ts = [threading.Thread(target=writer, args=(f"w{i}",)) for i in range(2)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()

    outcomes = sorted(status.split(":")[0] for _, status in results)
    assert outcomes == ["fail", "ok"], results
    # the surviving snapshot parses cleanly and no tmp files are left behind
    loaded = lake.snapshot(version)
    assert loaded["version"] == version
    import os as _os
    leftovers = [f for f in _os.listdir(lake.log_dir) if f.startswith(".tmp-")]
    assert leftovers == []
