"""Every copy of the LWW order picks the same winner.

The order is ``lww_order_key``: ``(_seq, *tiebreakers)`` compared by each
column's own type, NULL lowest.  Generated batches carry ``_seq`` ties,
NULL and ``''`` string tiebreakers and a LongType tiebreaker (9 vs 10:
numeric, not text order; 2^53 vs 2^53+1 next to a NULL: exact, not
float64).  The winner must be the same under ``lww_dedup``
(agg, salted), ``read_state`` after a MoR append and after
``compact``, the COW ``merge_into`` and the streaming feed's Arrow fold,
and the streaming feed source must emit ``changes_between``'s rows; in
the repos table's domain it must also match the independent oracle.
"""

from __future__ import annotations

import os
import tempfile

import pyarrow as pa
from hypothesis import example, given, settings
from hypothesis import strategies as st

from icdc_dataloader_spark import oracle
from icdc_dataloader_spark.operators.dedup import lww_dedup
from icdc_dataloader_spark.plans.lake import LakeTable
from icdc_dataloader_spark.plans.merge import (
    append_delta, changes_between, compact, merge_into, read_state, resolve,
    table_schema,
)
from icdc_dataloader_spark.repos import TIEBREAKERS, create_repos_table
from icdc_dataloader_spark.streaming.feed import (
    LakeChangeFeedReader, _lww_fold, _row_groups,
)

TB = ["tb_s", "tb_l"]
SCHEMA = "k string, v string, tb_s string, tb_l long, _seq long, _op string"
ARROW = pa.schema([("k", pa.string()), ("v", pa.string()),
                   ("tb_s", pa.string()), ("tb_l", pa.int64()),
                   ("_seq", pa.int64()), ("_op", pa.string())])
PROPS = settings(max_examples=8, deadline=None, database=None)

events = st.lists(
    st.tuples(
        st.sampled_from(["a", "b", None]),
        st.integers(1, 3),
        st.sampled_from([None, "", "x"]),
        st.sampled_from([None, 9, 10, 2**53, 2**53 + 1]),
        st.sampled_from(["upsert", "delete"]),
    ),
    min_size=1,
    max_size=14,
)


def _rank(row):
    """Python statement of the order: typed, NULL lowest."""
    k, _v, tb_s, tb_l, seq, _op = row
    return (seq, tb_s is not None, tb_s or "", tb_l is not None, tb_l or 0)


def _distinct_rows(raw):
    """Rows with a unique order key per key (so the winner is unique),
    each named by its position in ``v``."""
    seen, rows = set(), []
    for k, seq, tb_s, tb_l, op in raw:
        if (k, seq, tb_s, tb_l) not in seen:
            seen.add((k, seq, tb_s, tb_l))
            rows.append((k, f"r{len(rows)}", tb_s, tb_l, seq, op))
    return rows


def _lake(root, name):
    return LakeTable.create(
        os.path.join(root, name),
        table_schema(_payload()),
        ["k"],
        n_buckets=2,
        tiebreakers=TB,
    )


def _payload():
    from pyspark.sql import types as T

    return T.StructType([
        T.StructField("k", T.StringType()),
        T.StructField("v", T.StringType()),
        T.StructField("tb_s", T.StringType()),
        T.StructField("tb_l", T.LongType()),
    ])


def _v_by_key(rows):
    return {r["k"]: r["v"] for r in rows}


def _stream_rows(lake, v_from, v_to):
    """The streaming source's rows for (v_from, v_to], read through its
    own partitions."""
    reader = LakeChangeFeedReader({"path": lake.root})
    parts = reader.partitions({"version": v_from}, {"version": v_to})
    return sorted(
        (tuple(row.values()) for p in parts for b in reader.read(p)
         for row in b.to_pylist()),
        key=repr,
    )


@PROPS
@given(raw=events)
@example(raw=[
    # a seq tie decided by 2^53+1 vs 2^53, in a file whose tb_l holds a NULL
    ("a", 1, "x", 2**53 + 1, "upsert"),
    ("a", 1, "x", 2**53, "delete"),
    ("a", 1, "x", None, "upsert"),
])
def test_every_lww_path_picks_the_same_winner(spark, raw):
    rows = _distinct_rows(raw)
    winners = {}
    for r in rows:
        if r[0] not in winners or _rank(r) > _rank(winners[r[0]]):
            winners[r[0]] = r
    want_all = {k: r[1] for k, r in winners.items()}
    want_live = {k: r[1] for k, r in winners.items() if r[5] != "delete"}
    half = len(rows) // 2
    batches = [b for b in (rows[:half], rows[half:]) if b]
    df = spark.createDataFrame(rows, SCHEMA)

    for strategy in ("agg", "salted"):
        got = lww_dedup(df, ["k"], seq_col="_seq", tiebreakers=TB,
                        strategy=strategy).collect()
        assert _v_by_key(got) == want_all, strategy

    with tempfile.TemporaryDirectory() as root:
        mor, cow = _lake(root, "mor"), _lake(root, "cow")
        versions = [mor.latest_version()]
        for i, b in enumerate(batches):
            batch = spark.createDataFrame(b, SCHEMA)
            append_delta(spark, mor, batch, batch_id=f"b{i}", pre_dedup=False)
            merge_into(spark, cow, batch, batch_id=f"b{i}")
            versions.append(mor.latest_version())

        files = [
            (os.path.join(mor.root, f["path"]), False, True)
            for f in mor.snapshot()["files"]
        ]
        rows, won = _lww_fold(_row_groups(files, ARROW, set()), ["k"], TB)
        got_feed = {
            r["k"]: r["v"] for r in rows.take(won["_n_max"]).to_pylist()
        }
        assert got_feed == want_all, "arrow fold"

        assert _v_by_key(read_state(spark, mor).collect()) == want_live, "mor"
        compact(spark, mor)
        versions.append(mor.latest_version())
        assert _v_by_key(read_state(spark, mor).collect()) == want_live, (
            "compact"
        )
        assert _v_by_key(read_state(spark, cow).collect()) == want_live, "cow"

        # the streaming source's diff == changes_between's: from empty,
        # across a delta kept in both snapshots, and across compaction
        # (files only in v_from)
        for v_from, v_to in {(0, versions[-2]), (versions[1], versions[-2]),
                             (versions[1], versions[-1])}:
            if v_from == v_to:
                continue
            want = sorted(
                (tuple(r) for r in
                 changes_between(spark, mor, v_from, v_to).collect()),
                key=repr,
            )
            assert _stream_rows(mor, v_from, v_to) == want, (v_from, v_to)


repos_events = st.lists(
    st.tuples(
        st.sampled_from(["r1", "r2"]),
        st.integers(1, 3),
        st.sampled_from(["upsert", "delete"]),
        st.sampled_from(["a", "b", "", None]),
        st.sampled_from(["x", "y"]),
    ),
    min_size=1,
    max_size=12,
)


@PROPS
@given(raw=repos_events)
def test_repos_winner_matches_oracle(spark, raw):
    """The repos tiebreakers (commit, content_sha256) are strings, where the
    oracle's NULL -> '' order and the typed order pick the same live rows
    (the oracle quarantines upserts with an empty commit)."""
    evs = [
        {"batch_id": 0, "repo": repo, "path": "p", "seq": seq, "op": op,
         "commit": commit if op == "delete" else (commit or "a"),
         "lang": "python", "content": content}
        for repo, seq, op, commit, content in raw
    ]
    want = {
        (r["repo"], r["path"]): (r["_seq"], r["content_sha256"])
        for r in oracle.final_live_rows(evs)
    }
    rows = [
        (e["repo"], e["path"], e["commit"], e["lang"],
         None if e["op"] == "delete" else e["content"],
         None if e["op"] == "delete" else oracle.sha256(e["content"]),
         e["seq"], e["op"])
        for e in evs
    ]
    df = spark.createDataFrame(
        rows,
        "repo string, path string, commit string, lang string,"
        " content string, content_sha256 string, _seq long, _op string",
    )
    with tempfile.TemporaryDirectory() as root:
        lake = create_repos_table(os.path.join(root, "repos"), n_buckets=2)
        assert lake.tiebreakers() == TIEBREAKERS
        append_delta(spark, lake, df, batch_id="b0", pre_dedup=False)
        got = {
            (r["repo"], r["path"]): (r["_seq"], r["content_sha256"])
            for r in resolve(spark, lake).filter("_op != 'delete'").collect()
        }
    assert got == want
