"""Incremental change feed between snapshots (plans/merge.changes_between)
— the consume side of the CDC engine (Iceberg incremental-read analogue)."""

import os
import tempfile

import pandas as pd
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from icdc_dataloader_spark.plans.lake import LakeTable, bucket_expr
from icdc_dataloader_spark.plans.merge import (
    INTERNAL_COLS,
    append_delta,
    changed_buckets,
    changes_between,
    compact,
    resolve,
    table_schema,
)
from icdc_dataloader_spark.repos import make_pipeline


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


def test_insert_update_delete_and_silence(spark, tmp_path):
    pipe = make_pipeline(
        spark, str(tmp_path / "lake"), n_buckets=4, strategy="mor",
        compact_every=100,
    )
    v1 = _drain(spark, pipe, tmp_path, "d1", [
        _ev(1, "upsert", "rKeep"),     # unchanged -> silent
        _ev(2, "upsert", "rUpd"),      # later updated
        _ev(3, "upsert", "rGone"),     # later deleted
        _ev(4, "upsert", "rDead"),     # deleted in the same later drain…
    ])
    v2 = _drain(spark, pipe, tmp_path, "d2", [
        _ev(10, "upsert", "rUpd", 1),
        _ev(11, "delete", "rGone", 1),
        _ev(12, "delete", "rDead", 1),
        _ev(13, "upsert", "rNew", 1),
    ])
    rows = {
        r["repo"]: (r["change_type"], r["commit"])
        for r in changes_between(spark, pipe.lake, v1, v2)
        .select("repo", "change_type", "commit").collect()
    }
    assert rows == {
        "rUpd": ("update", "c10"),
        "rGone": ("delete", None),
        "rDead": ("delete", None),
        "rNew": ("insert", "c13"),
    }


def test_dead_before_and_after_emits_nothing_even_after_gc(spark, tmp_path):
    pipe = make_pipeline(
        spark, str(tmp_path / "lake"), n_buckets=2, strategy="mor",
        compact_every=1, late_horizon=0,  # GC in the loop
    )
    v1 = _drain(spark, pipe, tmp_path, "d1", [
        _ev(1, "upsert", "rA"),
        _ev(2, "delete", "rA", 1),
        _ev(3, "upsert", "rB", 1),
    ])
    v2 = _drain(spark, pipe, tmp_path, "d2", [
        _ev(10, "upsert", "rB", 2),   # forces commits + compaction
    ])
    # rA was dead at v1 and is dead at v2 (tombstone possibly GC'd): silent
    rows = changes_between(spark, pipe.lake, v1, v2).collect()
    assert {r["repo"] for r in rows} == {"rB"}


def test_bucket_pruning_restricts_the_read(spark, tmp_path):
    """A drain touching one key must yield changed_buckets ⊂ all buckets,
    and the feed still finds exactly that key's change."""
    n_buckets = 8
    pipe = make_pipeline(
        spark, str(tmp_path / "lake"), n_buckets=n_buckets, strategy="mor",
        compact_every=100,
    )
    v1 = _drain(spark, pipe, tmp_path, "d1", [
        _ev(i, "upsert", f"r{i}") for i in range(1, 30)
    ])
    v2 = _drain(spark, pipe, tmp_path, "d2", [
        _ev(100, "upsert", "r5", 1),
    ])
    touched = changed_buckets(pipe.lake, v1, v2)
    assert 0 < len(touched) < n_buckets
    rows = changes_between(spark, pipe.lake, v1, v2).collect()
    assert [(r["repo"], r["change_type"]) for r in rows] == [("r5", "update")]


def test_emptied_bucket_still_emits_deletes(spark, tmp_path):
    """Round-4 self-review: a bucket whose files were all REMOVED between
    the versions (tombstone GC'd + compacted to zero rows) must still be
    diffed — an added-files-only bucket diff silently dropped its delete
    events."""
    pipe = make_pipeline(
        spark, str(tmp_path / "lake"), n_buckets=2, strategy="mor",
        compact_every=100,
    )
    _drain(spark, pipe, tmp_path, "d1", [_ev(1, "upsert", "rOnly")])
    v1 = pipe.lake.latest_version()
    _drain(spark, pipe, tmp_path, "d2", [_ev(2, "delete", "rOnly", 1)])
    compact(spark, pipe.lake, drop_tombstones_below_seq=10_000)
    v2 = pipe.lake.latest_version()
    assert not pipe.lake.snapshot(v2)["files"]  # table fully emptied
    assert changed_buckets(pipe.lake, v1, v2)   # removed files counted
    rows = changes_between(spark, pipe.lake, v1, v2).collect()
    assert [(r["repo"], r["change_type"]) for r in rows] == [
        ("rOnly", "delete")
    ]


def test_feed_across_added_column(spark, tmp_path):
    """Round-4 VERDICT #5: a column added between v_from and v_to — feed
    rows whose winner PREDATES the evolution read the new column as NULL
    (from the original files, no rewrite); post-evolution winners carry
    values."""
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
        return (repo, "p", f"c{seq}", "py", f"v{seq}", f"h{seq}", seq, "upsert")

    append_delta(spark, lake, spark.createDataFrame([up("rA", 1)], base), batch_id="b1")
    v1 = lake.latest_version()
    # pre-evolution update for rA, pre-evolution insert for rB
    append_delta(spark, lake,
                 spark.createDataFrame([up("rA", 2), up("rB", 3)], base), batch_id="b2")
    files_before = {f["path"] for f in lake.snapshot()["files"]}
    lake.evolve_schema(
        table_schema(repos_payload_schema().add("stars", T.LongType()))
    )
    # metadata-only evolution: no data rewrite
    assert {f["path"] for f in lake.snapshot()["files"]} == files_before
    # post-evolution insert carrying the new column
    wide = base + ", stars long"
    append_delta(
        spark, lake,
        spark.createDataFrame([("rC", "p", "c4", "py", "v4", "h4", 4,
                                "upsert", 42)], wide), batch_id="b3",
    )
    v2 = lake.latest_version()

    rows = {
        r["repo"]: (r["change_type"], r["stars"])
        for r in changes_between(spark, lake, v1, v2)
        .select("repo", "change_type", "stars").collect()
    }
    assert rows == {
        "rA": ("update", None),   # pre-evolution winner -> NULL stars
        "rB": ("insert", None),
        "rC": ("insert", 42),
    }


def test_feed_across_type_widen(spark, tmp_path):
    """v_from predates an int->double widen: the feed reads every payload
    at schema(v_to) — pre-widen long winners cast to double losslessly."""
    from pyspark.sql import types as T

    from icdc_dataloader_spark.plans.lake import LakeTable
    from icdc_dataloader_spark.plans.merge import append_delta, table_schema
    from icdc_dataloader_spark.repos import TIEBREAKERS, repos_payload_schema

    payload = repos_payload_schema().add("stars", T.LongType())
    lake = LakeTable.create(
        str(tmp_path / "repos"), table_schema(payload),
        ["repo", "path"], n_buckets=2, tiebreakers=TIEBREAKERS,
    )
    sch = ("repo string, path string, commit string, lang string,"
           " content string, content_sha256 string, stars long,"
           " _seq long, _op string")

    def up(repo, seq, stars):
        return (repo, "p", f"c{seq}", "py", f"v{seq}", f"h{seq}", stars,
                seq, "upsert")

    append_delta(spark, lake,
                 spark.createDataFrame([up("rA", 1, 7), up("rB", 2, 9)], sch), batch_id="b1")
    v1 = lake.latest_version()
    lake.evolve_schema(
        table_schema(repos_payload_schema().add("stars", T.DoubleType()))
    )
    schd = sch.replace("stars long", "stars double")
    append_delta(
        spark, lake,
        spark.createDataFrame([up("rA", 3, 2.5)], schd), batch_id="b2",
    )
    v2 = lake.latest_version()

    feed = changes_between(spark, lake, v1, v2)
    assert dict(feed.dtypes)["stars"] == "double"
    rows = {
        r["repo"]: (r["change_type"], r["stars"])
        for r in feed.select("repo", "change_type", "stars").collect()
    }
    # rB unchanged -> silent even though its stored stars is pre-widen long
    assert rows == {"rA": ("update", 2.5)}

    # and a full-table feed from version 0 surfaces the widened old value
    rows0 = {
        r["repo"]: (r["change_type"], r["stars"])
        for r in changes_between(spark, lake, 0, v2)
        .select("repo", "change_type", "stars").collect()
    }
    assert rows0 == {"rA": ("insert", 2.5), "rB": ("insert", 9.0)}


# ---------------------------------------------------------------------------
# Property: the one-pass feed equals a diff of the two resolved snapshots
# ---------------------------------------------------------------------------

FEED_KEYS = ["k", "p"]
FEED_BUCKETS = 8
FEED_SCHEMA = "k string, p string, v string, tb string, _seq long, _op string"
GC_ALL = 10**6

feed_events = st.lists(
    st.tuples(
        st.sampled_from(["a", "b", None]),
        st.sampled_from(["x", None]),
        st.integers(1, 8),
        st.sampled_from([None, "", "t"]),
        st.sampled_from(["upsert", "upsert", "delete"]),
    ),
    min_size=1,
    max_size=8,
)


def _feed_payload():
    from pyspark.sql import types as T

    return T.StructType([
        T.StructField(c, T.StringType()) for c in ("k", "p", "v", "tb")
    ])


@pytest.fixture(scope="module")
def gone_key(spark):
    """A key alone in its bucket, so deleting it and compacting with
    tombstone GC empties that bucket to zero files."""
    gen = [(k, p) for k in ("a", "b", None) for p in ("x", None)]
    cands = [(f"gone{i}", "x") for i in range(32)]
    bucket = {
        (r["k"], r["p"]): r["b"]
        for r in spark.createDataFrame(gen + cands, "k string, p string")
        .select("k", "p", bucket_expr(FEED_KEYS, FEED_BUCKETS).alias("b"))
        .collect()
    }
    used = {bucket[g] for g in gen}
    key = next(c for c in cands if bucket[c] not in used)
    return key, bucket[key]


def _live(spark, lake, version):
    """The reference: one resolve per snapshot, live rows by key."""
    return {
        (r["k"], r["p"]): r
        for r in resolve(spark, lake, version=version)
        .filter(F.col("_op") != "delete").collect()
    }


@settings(max_examples=6, deadline=None, database=None)
@given(
    batches=st.tuples(feed_events, feed_events, feed_events),
    partial=st.booleans(),
    pair=st.tuples(st.integers(0, 5), st.integers(0, 5)),
)
@example(
    # seq ties decided by '' vs 't' in files that only v_from holds after
    # the compaction: the old side must keep its tiebreakers
    batches=([("a", "x", 1, "", "upsert"), ("a", "x", 1, "t", "delete"),
              ("b", "x", 1, "t", "delete"), ("b", "x", 1, "", "upsert")],
             [("a", None, 2, None, "upsert")],
             [(None, "x", 3, "", "upsert")]),
    partial=False,
    pair=(0, 3),
)
def test_feed_equals_diff_of_resolved_snapshots(
    spark, gone_key, batches, partial, pair
):
    """History: two batches, a compaction with tombstone GC that empties
    ``gone``'s bucket, a column added, a third batch that recreates
    ``gone``.  Draws carry seq ties broken by NULL vs '' tiebreakers, NULL
    key components and delete->recreate.  Over every checked range the
    feed must equal the diff of ``resolve(v_from)`` and ``resolve(v_to)``'s
    live rows: same keys, change type by ``_seq``, payload at ``v_to``."""
    from pyspark.sql import types as T

    gone, gone_bucket = gone_key
    seen, hist = set(), []
    for evs in batches:
        rows = []
        for k, p, seq, tb, op in evs:
            if (k, p, seq, tb) not in seen:
                seen.add((k, p, seq, tb))
                rows.append((k, p, f"v{len(seen)}", tb, seq, op))
        hist.append(rows)
    hist[0].append((*gone, "g", "t", 1, "upsert"))
    hist[1].append((*gone, None, "t", 2, "delete"))
    hist[2].append((*gone, "back", "t", 3, "upsert"))

    with tempfile.TemporaryDirectory() as root:
        lake = LakeTable.create(
            os.path.join(root, "t"), table_schema(_feed_payload()),
            FEED_KEYS, n_buckets=FEED_BUCKETS, tiebreakers=["tb"],
        )
        for i in (0, 1):
            append_delta(spark, lake, spark.createDataFrame(hist[i], FEED_SCHEMA),
                         batch_id=f"b{i}", pre_dedup=False)
        compact(spark, lake, drop_tombstones_below_seq=GC_ALL,
                buckets=[gone_bucket] if partial else None)
        assert not [f for f in lake.snapshot()["files"]
                    if f["bucket"] == gone_bucket]
        lake.evolve_schema(
            table_schema(_feed_payload().add("n", T.LongType()))
        )
        append_delta(
            spark, lake,
            spark.createDataFrame([(*r[:4], 7 * r[4], *r[4:]) for r in hist[2]],
                                  FEED_SCHEMA.replace(", _seq", ", n long, _seq")),
            batch_id="b2", pre_dedup=False,
        )
        assert lake.latest_version() == 5
        v_from, v_to = sorted(pair)
        for lo, hi in {(1, 3), (2, 5), (v_from, v_to)}:
            if lo == hi:
                continue
            payload = [f.name for f in lake.schema(hi).fields
                       if f.name not in INTERNAL_COLS + FEED_KEYS]
            old, new = _live(spark, lake, lo), _live(spark, lake, hi)
            want = {}
            for key in old.keys() | new.keys():
                o, n = old.get(key), new.get(key)
                if n is None:
                    want[key] = ("delete", (None,) * len(payload))
                elif o is None or o["_seq"] != n["_seq"]:
                    want[key] = ("update" if o else "insert",
                                 tuple(n[c] for c in payload))
            feed = changes_between(spark, lake, lo, hi)
            assert feed.columns == FEED_KEYS + ["change_type"] + payload
            rows = feed.collect()
            got = {(r["k"], r["p"]): (r["change_type"],
                                      tuple(r[c] for c in payload))
                   for r in rows}
            assert len(got) == len(rows), (lo, hi)
            assert got == want, (lo, hi)
