"""Focused tests for round-6 optimization internals.

Each round-6 plan change kept results identical by argument; these tests
pin the arguments' edge cases directly:

1. minhash signatures moved from per-array interpreted lambdas to an
   explode + aggregate — NULL/empty-text docs must still produce a
   signature row (explode drops NULL/empty ARRAYS, and _shingles must
   therefore never return one).
2. resolve has one shape — the window-watermark kernel compaction
   uses — and it must keep the delete->recreate created-lineage reset
   and NULL-keyed rows, before and after compaction.
3. the streaming feed's row-group Arrow fold must equal a one-chunk
   fold across row-group boundaries, and read() must emit multiple
   Arrow batches when the diff exceeds the batch size.
"""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from icdc_dataloader_spark.repos import create_repos_table

REPOS_SCHEMA = (
    "repo string, path string, commit string, lang string,"
    " content string, content_sha256 string, _seq long, _op string"
)


def _km_basis(s: str):
    d = hashlib.md5(s.encode()).hexdigest()
    a = int(d[:15], 16)
    b = int(d[15:30], 16) % (1 << 55)
    return a, b


def test_minhash_signatures_null_and_empty_text(spark):
    from icdc_dataloader_spark.operators.dedup import minhash_signatures

    docs = spark.createDataFrame(
        [
            (1, None),
            (2, ""),
            (3, "one two"),                       # shorter than shingle_k
            (4, "a b c d e f g"),
        ],
        "doc_id long, text string",
    )
    rows = {
        r["id"]: r["sig"]
        for r in minhash_signatures(
            docs, num_hashes=8, shingle_k=5, hash_mode="portable"
        ).collect()
    }
    # every doc keeps a signature row — explode must not drop NULL/empty
    assert set(rows) == {1, 2, 3, 4}
    # NULL text -> NULL shingle -> all-NULL signature (old-shape behavior)
    assert rows[1] == [None] * 8
    # empty text -> single "" shingle; verify against an independent
    # Python computation of the Kirsch-Mitzenmacher family of md5("")
    a, b = _km_basis("")
    assert rows[2] == [a + i * b for i in range(8)]
    # sub-k text -> one shingle = the whole text
    a, b = _km_basis("one two")
    assert rows[3] == [a + i * b for i in range(8)]
    # normal doc: mins over the 3 shingles of length 5
    shingles = ["a b c d e", "b c d e f", "c d e f g"]
    bases = [_km_basis(s) for s in shingles]
    assert rows[4] == [min(a + i * b for a, b in bases) for i in range(8)]


def _mk_lake(spark, tmp_path, batches):
    from icdc_dataloader_spark.plans.merge import append_delta

    lake = create_repos_table(str(tmp_path / "repos"), n_buckets=4)
    for bid, rows in enumerate(batches):
        append_delta(
            spark, lake, spark.createDataFrame(rows, REPOS_SCHEMA), batch_id=f"b{bid}",
        )
    return lake


def _up(repo, path, seq):
    return (repo, path, f"c{seq}", "py", f"v{seq}", f"h{seq}", seq, "upsert")


def _del(repo, path, seq):
    return (repo, path, None, None, None, None, seq, "delete")


def test_resolve_one_shape_lineage_and_null_keys(spark, tmp_path):
    """The one resolve shape, on a lake exercising delete->recreate
    lineage reset and NULL key components: a MoR read and the compacted
    base hold the same rows."""
    from icdc_dataloader_spark.plans.merge import compact, resolve

    lake = _mk_lake(
        spark, tmp_path,
        [
            [_up("r1", "p1", 1), _up("r2", "p2", 2), _up("rN", None, 3)],
            [_del("r1", "p1", 10), _del("rN", None, 11)],
            # recreate r1/p1 after its tombstone; update r2; recreate NULL-key
            [_up("r1", "p1", 20), _up("r2", "p2", 21), _up("rN", None, 22)],
        ],
    )
    read_shape = resolve(spark, lake).collect()
    compact(spark, lake)
    assert not lake.delta_files()
    compacted = resolve(spark, lake).collect()
    assert sorted(map(tuple, read_shape), key=str) == sorted(
        map(tuple, compacted), key=str
    )
    by_key = {(r["repo"], r["path"]): r for r in compacted}
    # created lineage RESET across the delete->recreate (not seq 1/3)
    assert by_key[("r1", "p1")]["_created_seq"] == 20
    assert by_key[("rN", None)]["_created_seq"] == 22
    # no delete for r2: created lineage preserved from first insert
    assert by_key[("r2", "p2")]["_created_seq"] == 2


def test_compact_single_file_per_bucket(spark, tmp_path):
    """The round-6 single-exchange compact must still land exactly one
    file per delta-bearing bucket (the intermediate broken shape wrote a
    file per task x bucket — ~1024 files — caught by phase timers)."""
    from icdc_dataloader_spark.plans.merge import compact

    rows = [_up(f"r{i}", f"p{i}", i) for i in range(200)]
    lake = _mk_lake(spark, tmp_path, [rows[:100], rows[100:]])
    compact(spark, lake)
    files = lake.snapshot()["files"]
    per_bucket = {}
    for f in files:
        per_bucket[f["bucket"]] = per_bucket.get(f["bucket"], 0) + 1
    assert all(n == 1 for n in per_bucket.values()), per_bucket
    assert all(f["role"] == "base" for f in files)


def test_arrow_fold_bounded_matches_one_chunk(tmp_path):
    """Row-group-bounded fold == one-chunk fold, across files AND
    row-group boundaries (including a winner in an early chunk that must
    survive later chunks), for both snapshots' winners."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from icdc_dataloader_spark.streaming.feed import _lww_fold, _row_groups

    schema = pa.schema([
        ("repo", pa.string()), ("path", pa.string()), ("commit", pa.string()),
        ("_seq", pa.int64()), ("_op", pa.string()),
    ])

    def write(path, rows, row_group_size, in_old):
        pq.write_table(
            pa.Table.from_pylist([dict(zip(schema.names, r)) for r in rows],
                                 schema),
            path, row_group_size=row_group_size,
        )
        return (str(path), in_old, True)

    f1 = write(
        tmp_path / "a.parquet",
        [
            ("r1", "p", "c9", 9, "upsert"),   # early high-seq winner
            ("r1", "p", "c1", 1, "upsert"),
            ("r2", "p", "c2", 2, "upsert"),
            ("r2", None, "c3", 3, "upsert"),  # NULL key component
            ("r1", "p", "c5", 5, "upsert"),
            ("r3", "p", "c4", 4, "delete"),
        ],
        row_group_size=2,  # forces 3 row groups -> 3 fold steps
        in_old=True,
    )
    f2 = write(
        tmp_path / "b.parquet",
        [
            ("r2", "p", "c8", 8, "upsert"),
            ("r3", "p", "c6", 6, "upsert"),
            ("r2", None, "c0", 0, "upsert"),
        ],
        # one row per group: an old winner the new one has displaced
        # (r2's c2 after c8) must survive the later steps
        row_group_size=1,
        in_old=False,
    )

    def chunks():
        return _row_groups([f1, f2], schema, set())

    def winners(parts):
        rows, won = _lww_fold(parts, ["repo", "path"], ["commit"])
        rows = rows.select(schema.names)
        return {
            flag: sorted(
                (tuple(r.values()) for r in
                 rows.take(pc.drop_null(won[flag])).to_pylist()),
                key=str,
            )
            for flag in ("_o_max", "_n_max")
        }

    assert len(list(chunks())) == 6
    whole = winners([pa.concat_tables(chunks())])
    chunked = winners(chunks())
    assert whole == chunked
    assert ("r1", "p", "c9", 9, "upsert") in chunked["_n_max"]  # survived
    assert ("r1", "p", "c9", 9, "upsert") in chunked["_o_max"]


def test_feed_read_emits_multiple_arrow_batches(spark, tmp_path):
    """read() slices its output into ARROW_BATCH_ROWS-sized RecordBatches."""
    import pyarrow as pa

    from icdc_dataloader_spark.plans.merge import append_delta
    from icdc_dataloader_spark.streaming.feed import LakeChangeFeedReader

    lake = create_repos_table(str(tmp_path / "repos"), n_buckets=1)
    append_delta(
        spark, lake,
        spark.createDataFrame([_up(f"r{i}", "p", i) for i in range(25)],
                              REPOS_SCHEMA), batch_id="b0",
    )
    reader = LakeChangeFeedReader({"path": lake.root})
    reader.ARROW_BATCH_ROWS = 10
    parts = reader.partitions({"version": 0},
                              {"version": lake.latest_version()})
    batches = [b for p in parts for b in reader.read(p)]
    assert all(isinstance(b, pa.RecordBatch) for b in batches)
    assert [b.num_rows for b in batches] == [10, 10, 5]
    rows = [row for b in batches for row in b.to_pylist()]
    assert {r["repo"] for r in rows} == {f"r{i}" for i in range(25)}
    assert all(r["change_type"] == "insert" for r in rows)


def test_annotate_fast_bad_matches_errs_across_check_types(spark, tmp_path):
    """The hot-path boolean (_annotate_fast._bad) must flag exactly the
    rows the error-relation form (_annotate._errs) flags — both are
    assembled from validation_check_pairs, and this pins the assembly
    across every check family the repos model exercises: required
    value_empty, enum, Int wrong_type, Int out_of_range, array item
    enum, delete-with-NULL-key (V7), and clean upserts/deletes."""
    from icdc_dataloader_spark.repos import make_pipeline

    pipe = make_pipeline(spark, str(tmp_path / "out"), n_buckets=4)
    schema = (
        "repo string, path string, commit string, lang string,"
        " content string, stars string, topics string, seq long, op string"
    )
    rows = [
        # clean upsert
        ("r1", "p1", "c1", "python", "x", "10", "web|ml", 1, "upsert"),
        # required value_empty (repo NULL / path empty)
        (None, "p2", "c2", "python", "x", "1", "web", 2, "upsert"),
        ("r3", "", "c3", "python", "x", "1", "web", 3, "upsert"),
        # enum violation (lang)
        ("r4", "p4", "c4", "perl", "x", "1", "web", 4, "upsert"),
        # Int wrong_type + out_of_range (stars: 0..1000000)
        ("r5", "p5", "c5", "go", "x", "ten", "web", 5, "upsert"),
        ("r6", "p6", "c6", "go", "x", "2000000", "web", 6, "upsert"),
        # array item enum violation (topics)
        ("r7", "p7", "c7", "go", "x", "1", "web|bogus", 7, "upsert"),
        # delete with NULL key component vs clean delete (enum damage on a
        # delete row must NOT quarantine it: deletes only need their key)
        (None, "p8", None, None, None, None, None, 8, "delete"),
        ("r9", "p9", None, "perl", None, "ten", "bogus", 9, "delete"),
    ]
    df = spark.createDataFrame(rows, schema)
    slow = pipe._annotate(df).select(
        "seq", (F.size("_errs") > 0).alias("bad")
    )
    fast = pipe._annotate_fast(df).select("seq", F.col("_bad").alias("bad"))
    slow_map = {r["seq"]: r["bad"] for r in slow.collect()}
    fast_map = {r["seq"]: r["bad"] for r in fast.collect()}
    assert slow_map == fast_map
    assert slow_map == {
        1: False, 2: True, 3: True, 4: True, 5: True, 6: True, 7: True,
        8: True, 9: False,
    }
    # the parity/bucket companions must be identical too
    a = pipe._annotate(df).select("seq", "content_sha256", "_bucket")
    b = pipe._annotate_fast(df).select("seq", "content_sha256", "_bucket")
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_cow_apply_writes_quarantine_errors_first_try(spark, tmp_path):
    """Regression guard for the round-6 hot-path boolean: the COW apply
    must succeed on the FIRST attempt (not via the retry + crash-heal
    path, which silently loses metrics and the quarantine error files)
    and must write the quarantined rows' error relation."""
    import os

    from icdc_dataloader_spark.repos import make_pipeline

    pipe = make_pipeline(spark, str(tmp_path / "out"), n_buckets=4)
    schema = (
        "repo string, path string, commit string, lang string,"
        " content string, seq long, op string"
    )
    rows = [
        ("r1", "p1", "c1", "python", "x", 1, "upsert"),
        ("r2", "p2", "c2", "perl", "x", 2, "upsert"),    # enum violation
        (None, "p3", "c3", "python", "x", 3, "upsert"),  # required empty
    ]
    res = pipe.apply_batch(spark.createDataFrame(rows, schema), 0)
    assert res["noop"] is False  # first attempt, not a heal of a retry
    assert res["metrics"]["rows_quarantined"] == 2
    assert res["metrics"]["rows_inserted"] == 1
    err = spark.read.parquet(str(tmp_path / "out" / "errors" / "batch=0"))
    got = {(r["row_id"], r["reason"]) for r in err.collect()}
    assert got == {(2, "non_permissive_value"), (3, "value_empty")}
    assert pipe.ledger.quarantine_holds() == {"0": 2}
