"""Round-3 commit-path metadata bounds (round-2 VERDICT flaw #1).

Pure-metadata tests (no Spark session needed): snapshot JSON size must not
grow with the number of committed batches, ledger writes must be one
bounded head + one appended line, and all reads (idempotence checks,
low-water, record lookup) stay correct through compression, segmentation,
crash-healing, and legacy-format migration.
"""

import json
import os

import pytest
from pyspark.sql import types as T

from icdc_dataloader_spark.plans.batchids import BatchIdSet
from icdc_dataloader_spark.plans.lake import LakeTable
from icdc_dataloader_spark.streaming.ledger import CheckpointLedger


# ---------------------------------------------------------------------------
# BatchIdSet
# ---------------------------------------------------------------------------


def test_batchidset_roundtrip_and_ranges():
    s = BatchIdSet()
    for i in [0, 1, 2, 5, 3, 4, 10, "x-1", "x-2", "x-9", "b007", "noNum"]:
        assert s.add(i)
    assert not s.add(3) and not s.add("b007")
    assert "4" in s and "x-9" in s and "b007" in s and "noNum" in s
    assert "6" not in s and "b7" not in s and "x-3" not in s
    s2 = BatchIdSet.from_json(json.loads(json.dumps(s.to_json())))
    assert sorted(s2) == sorted(s) and len(s2) == len(s) == 12
    assert s2.max_numeric_suffix() == 10
    # contiguous ids collapse to one range regardless of insert order
    assert s2.prefixes[""][:1] == [[0, 5]]


def test_batchidset_legacy_list():
    legacy = BatchIdSet.from_json(["1", "2", "3", "edges-9"])
    assert "2" in legacy and "edges-9" in legacy and len(legacy) == 4


def test_batchidset_monotonic_is_constant_size():
    s = BatchIdSet()
    for i in range(10_000):
        s.add(i)
    j = json.dumps(s.to_json())
    assert len(j) < 200  # one range, however many batches
    assert len(s) == 10_000 and "9999" in s and "10000" not in s


# ---------------------------------------------------------------------------
# LakeTable snapshot growth
# ---------------------------------------------------------------------------


def _mk_lake(tmp_path, n_buckets=4):
    schema = T.StructType(
        [
            T.StructField("k", T.StringType()),
            T.StructField("_seq", T.LongType()),
            T.StructField("_op", T.StringType()),
            T.StructField("_bucket", T.IntegerType()),
        ]
    )
    return LakeTable.create(str(tmp_path / "t"), schema, ["k"], n_buckets=n_buckets)


def _fake_entries(lake, commit_no, n_buckets=4):
    sj = lake.schema().json()
    return [
        {
            "path": f"data/v{commit_no}/_pb={b}/part-0.parquet",
            "rows": 10,
            "bucket": b,
            "schema": sj,
            "stats": {"_seq": {"min": commit_no * 10, "max": commit_no * 10 + 9}},
            "role": "delta",
        }
        for b in range(n_buckets)
    ]


def test_snapshot_size_flat_over_300_commits(tmp_path):
    lake = _mk_lake(tmp_path)
    sizes = []
    for i in range(1, 301):
        snap = lake.snapshot()
        lake.commit(
            _fake_entries(lake, i), snap["files"], operation="append-delta",
            batch_id=i,
        )
        sizes.append(
            os.path.getsize(
                os.path.join(lake.log_dir, f"v{lake.latest_version():012d}.json")
            )
        )
    early = sum(sizes[10:20]) / 10
    late = sum(sizes[-10:]) / 10
    # old format grew ~linearly (committed ids + full file list per
    # snapshot); manifest lists + range ids keep it near-constant
    assert late <= 2.0 * early, (early, late)
    # manifest list length per bucket is logarithmic, not linear
    raw = lake._raw_snapshot()
    assert max(len(v) for v in raw["manifests"].values()) <= 12
    # and the table is still CORRECT: every file visible, ids all committed
    files = lake.snapshot()["files"]
    assert len(files) == 300 * 4
    assert len({f["path"] for f in files}) == 1200
    ids = lake.committed_batch_ids()
    assert len(ids) == 300 and "150" in ids and "301" not in ids
    assert lake.is_batch_committed(299)


def test_fresh_instance_reads_manifest_snapshots(tmp_path):
    lake = _mk_lake(tmp_path)
    for i in range(1, 6):
        snap = lake.snapshot()
        lake.commit(_fake_entries(lake, i), snap["files"],
                    operation="append-delta", batch_id=i)
    lake2 = LakeTable(lake.root)  # cold caches, new process analogue
    assert len(lake2.snapshot()["files"]) == 20
    assert lake2.is_batch_committed(3)
    assert [f["bucket"] for f in lake2.delta_files()].count(0) == 5


def _listed_latest(lake):
    """The full-listing reference for latest_version()."""
    import re

    vs = [int(m.group(1)) for f in os.listdir(lake.log_dir)
          if (m := re.match(r"^v(\d{12})\.json$", f))]
    return max(vs) if vs else None


def test_latest_version_probes_without_listing(tmp_path, monkeypatch):
    """A writer and a feed consumer on one root commit in turn: both
    instances agree with a full listing of _log after every commit, and
    once warm neither lists the directory again."""
    from icdc_dataloader_spark.plans import lake as lake_mod

    writer = _mk_lake(tmp_path)
    consumer = LakeTable(writer.root)
    assert writer.latest_version() == consumer.latest_version() == 0
    listings = []
    real_listdir = os.listdir

    def counting_listdir(path):
        listings.append(path)
        return real_listdir(path)

    monkeypatch.setattr(lake_mod.os, "listdir", counting_listdir)
    for i in range(1, 9):
        by = writer if i % 2 else consumer
        by.commit(_fake_entries(by, i), by.snapshot()["files"],
                  operation="append-delta", batch_id=i)
        if i % 3 == 0:  # a consumer may lag several commits behind
            continue
        monkeypatch.setattr(lake_mod.os, "listdir", real_listdir)
        expected = _listed_latest(writer)
        monkeypatch.setattr(lake_mod.os, "listdir", counting_listdir)
        assert writer.latest_version() == consumer.latest_version() == expected
    assert expected == 8
    assert listings == []
    assert len(consumer.snapshot()["files"]) == 8 * 4
    assert consumer.is_batch_committed(7)


def test_latest_version_after_root_recreated(tmp_path):
    """A root wiped and re-created under a live instance falls back to
    the listing, and the instance's cached snapshots of the old log are
    not served for the new one."""
    import shutil

    lake = _mk_lake(tmp_path)
    for i in range(1, 6):
        lake.commit(_fake_entries(lake, i), lake.snapshot()["files"],
                    operation="append-delta", batch_id=i)
    assert lake.latest_version() == 5 and lake.n_buckets() == 4
    shutil.rmtree(lake.root)
    assert lake.latest_version() is None
    fresh = _mk_lake(tmp_path, n_buckets=2)
    fresh.commit(_fake_entries(fresh, 1, n_buckets=2), [],
                 operation="append-delta", batch_id="only")
    assert lake.latest_version() == _listed_latest(fresh) == 1
    assert lake.n_buckets() == 2
    assert lake.is_batch_committed("only") and not lake.is_batch_committed(3)
    # re-created and grown past the old head: the probe still ends at
    # the listing's answer
    for i in range(2, 9):
        fresh.commit(_fake_entries(fresh, i, n_buckets=2),
                     fresh.snapshot()["files"], operation="append-delta",
                     batch_id=i)
    assert lake.latest_version() == _listed_latest(fresh) == 8


def test_carried_subset_rewrites_only_touched_buckets(tmp_path):
    """COW merge shape: carried files omit touched buckets — untouched
    buckets must reuse their manifest lists verbatim."""
    lake = _mk_lake(tmp_path)
    for i in range(1, 4):
        snap = lake.snapshot()
        lake.commit(_fake_entries(lake, i), snap["files"],
                    operation="append-delta", batch_id=i)
    before = dict(lake._raw_snapshot()["manifests"])
    snap = lake.snapshot()
    carried = [f for f in snap["files"] if f["bucket"] != 0]
    new = [e for e in _fake_entries(lake, 99) if e["bucket"] == 0]
    lake.commit(new, carried, operation="merge", batch_id=99)
    after = lake._raw_snapshot()["manifests"]
    for b in ("1", "2", "3"):
        assert after[b] == before[b]  # untouched: same manifest files
    assert after["0"] != before["0"]
    got = {f["path"] for f in lake.snapshot()["files"] if f["bucket"] == 0}
    assert got == {"data/v99/_pb=0/part-0.parquet"}


def test_vacuum_gcs_orphan_manifests(tmp_path):
    lake = _mk_lake(tmp_path)
    for i in range(1, 9):
        snap = lake.snapshot()
        lake.commit(_fake_entries(lake, i), snap["files"],
                    operation="append-delta", batch_id=i)
    n_before = len(os.listdir(lake.manifest_dir))
    lake.vacuum(keep_last=1)
    n_after = len(os.listdir(lake.manifest_dir))
    assert n_after < n_before
    # latest snapshot still fully readable after the GC
    assert len(lake.snapshot()["files"]) == 8 * 4


# ---------------------------------------------------------------------------
# CheckpointLedger segmentation
# ---------------------------------------------------------------------------


def _lineage(i):
    return {str(i % 4): {"min_seq": i * 10, "max_seq": i * 10 + 9, "rows": 10}}


def test_ledger_head_bounded_and_segments_append(tmp_path):
    led = CheckpointLedger(str(tmp_path / "led"))
    head_sizes = []
    for i in range(300):
        led.record(i, i + 1, {"rows_appended": 10}, _lineage(i))
        head_sizes.append(os.path.getsize(led.head_path))
    assert head_sizes[-1] <= 1.5 * head_sizes[10], (head_sizes[10], head_sizes[-1])
    assert led.totals()["rows_appended"] == 3000
    assert led.low_water() == {str(b): max(
        i * 10 + 9 for i in range(300) if i % 4 == b) for b in range(4)}
    assert led.is_applied(150) and not led.is_applied(300)
    rec = led.batch_record(42)
    assert rec["version"] == 43 and rec["lineage"] == _lineage(42)
    # duplicate record is a no-op
    led.record(42, 999, {"rows_appended": 10}, _lineage(42))
    assert led.totals()["rows_appended"] == 3000


def test_ledger_segment_rotation(tmp_path):
    import icdc_dataloader_spark.streaming.ledger as L

    old = L.SEGMENT_ROTATE
    L.SEGMENT_ROTATE = 50
    try:
        led = CheckpointLedger(str(tmp_path / "led"))
        for i in range(120):
            led.record(i, i + 1, {}, _lineage(i))
        segs = sorted(os.listdir(led.seg_dir))
        assert len(segs) == 3  # 50 + 50 + 20
        led2 = CheckpointLedger(led.root)  # cold load
        assert led2.is_applied(119) and len(led2.applied()) == 120
    finally:
        L.SEGMENT_ROTATE = old


def test_ledger_crash_heal_from_segment_tail(tmp_path):
    led = CheckpointLedger(str(tmp_path / "led"))
    led.record(0, 1, {"n": 1}, _lineage(0))
    # simulate: segment appended but head write lost (crash window)
    seg = sorted(os.listdir(led.seg_dir))[-1]
    with open(os.path.join(led.seg_dir, seg), "a") as fh:
        fh.write(json.dumps(
            {"batch_id": "1", "version": 2, "metrics": {"n": 1},
             "lineage": _lineage(1)}) + "\n")
        fh.write('{"torn')  # torn tail line must be skipped
    led2 = CheckpointLedger(led.root)
    assert led2.is_applied(1)
    assert led2.totals()["n"] == 2
    assert led2.batch_record(1)["version"] == 2


def test_ledger_legacy_state_migration(tmp_path):
    root = str(tmp_path / "led")
    os.makedirs(root)
    legacy = {
        "applied": ["0", "1"],
        "batches": {
            "0": {"version": 1, "metrics": {"rows": 5}, "lineage": _lineage(0)},
            "1": {"version": 2, "metrics": {"rows": 7}, "lineage": _lineage(1)},
        },
        "totals": {"rows": 12},
        "failures": {"9": {"retries": 3, "errors": ["x"], "quarantined": True}},
    }
    with open(os.path.join(root, "state.json"), "w") as fh:
        json.dump(legacy, fh)
    led = CheckpointLedger(root)
    assert led.is_applied(0) and led.is_applied(1)
    assert led.totals() == {"rows": 12}
    assert led.is_quarantined(9)
    assert led.batch_record(1)["metrics"] == {"rows": 7}
    assert not os.path.exists(os.path.join(root, "state.json"))
    # and new records append on top of the migrated history
    led.record(2, 3, {"rows": 3}, _lineage(2))
    assert led.totals() == {"rows": 15}


def test_ledger_append_after_torn_tail_not_corrupted(tmp_path):
    """Self-review fix: a torn tail must be TRUNCATED on heal so the next
    append starts a clean line — otherwise the merged garbage line hides
    every later record from recovery."""
    led = CheckpointLedger(str(tmp_path / "led"))
    led.record(0, 1, {"n": 1}, _lineage(0))
    seg = sorted(os.listdir(led.seg_dir))[-1]
    with open(os.path.join(led.seg_dir, seg), "ab") as fh:
        fh.write(b'{"torn')  # crash mid-append, no newline
    led2 = CheckpointLedger(led.root)  # heal truncates the torn bytes
    led2.record(1, 2, {"n": 1}, _lineage(1))
    led2.record(2, 3, {"n": 1}, _lineage(2))
    # cold reload: every record visible, nothing hidden behind garbage
    led3 = CheckpointLedger(led.root)
    assert led3.is_applied(0) and led3.is_applied(1) and led3.is_applied(2)
    assert led3.totals()["n"] == 3
    assert led3.batch_record(2)["version"] == 3


def test_manifest_entry_metadata_change_is_not_reused(tmp_path):
    """Self-review fix: carried entries with unchanged paths but changed
    metadata must produce a fresh manifest, not silently reuse the old."""
    lake = _mk_lake(tmp_path)
    snap = lake.snapshot()
    lake.commit(_fake_entries(lake, 1), snap["files"],
                operation="append-delta", batch_id=1)
    files = lake.snapshot()["files"]
    fixed = [dict(f, rows=999) for f in files]  # in-place stat repair
    lake.commit([], fixed, operation="repair-stats", batch_id=2)
    assert all(f["rows"] == 999 for f in lake.snapshot()["files"])
    lake2 = LakeTable(lake.root)  # cold read sees the repair too
    assert all(f["rows"] == 999 for f in lake2.snapshot()["files"])


def test_batchidset_property_vs_reference_set():
    """Property test: BatchIdSet behaves exactly like a plain set of id
    strings under arbitrary interleavings of adds and membership checks."""
    from hypothesis import given, settings, strategies as st

    ids = st.one_of(
        st.integers(min_value=0, max_value=50).map(str),
        st.integers(min_value=0, max_value=20).map(lambda n: f"edges-{n}"),
        st.sampled_from(["noNum", "b007", "x-0", "-5", "plugin-case-3"]),
    )

    @settings(max_examples=200, deadline=None)
    @given(st.lists(ids, max_size=60))
    def run(seq):
        s, ref = BatchIdSet(), set()
        for bid in seq:
            assert s.add(bid) == (bid not in ref)
            ref.add(bid)
        assert len(s) == len(ref)
        assert sorted(s) == sorted(ref)
        rt = BatchIdSet.from_json(json.loads(json.dumps(s.to_json())))
        assert sorted(rt) == sorted(ref)
        for probe in ["0", "25", "51", "edges-7", "noNum", "b007", "-5"]:
            assert (probe in rt) == (probe in ref)

    run()


def test_ledger_midfile_corruption_retires_segment_keeps_history(tmp_path):
    """Self-review fix: an unparseable line with complete lines AFTER it is
    bit rot, not a crash — committed history must not be truncated; the
    segment retires (*.corrupt) and appends continue in a fresh one."""
    led = CheckpointLedger(str(tmp_path / "led"))
    for i in range(4):
        led.record(i, i + 1, {"n": 1}, _lineage(i))
    seg = sorted(os.listdir(led.seg_dir))[-1]
    p = os.path.join(led.seg_dir, seg)
    lines = open(p, "rb").read().splitlines(keepends=True)
    lines[1] = b'{"rotted\n'  # corrupt record 1, records 2-3 intact after it
    open(p, "wb").write(b"".join(lines))

    led2 = CheckpointLedger(led.root)
    # head history (folded before the corruption) fully preserved
    assert led2.totals()["n"] == 4
    assert all(led2.is_applied(i) for i in range(4))
    # the damaged file was retired, not truncated
    assert os.path.exists(p + ".corrupt")
    assert not os.path.exists(p)
    # new records land in a fresh segment and survive reloads
    led2.record(4, 5, {"n": 1}, _lineage(4))
    led3 = CheckpointLedger(led.root)
    assert led3.totals()["n"] == 5 and led3.is_applied(4)
    assert led3.batch_record(4)["version"] == 5


def test_ledger_head_with_retired_key_loads_records_and_heals(tmp_path):
    """A head written by an older release still carries the retired
    per-bucket profile ``last_batch_rows``.  It must load, record and heal
    exactly like a head without it."""
    ledgers = []
    for name, extra in (("old", {"last_batch_rows": {"0": 10, "1": 10}}),
                        ("new", {})):
        led = CheckpointLedger(str(tmp_path / name))
        led.record(0, 1, {"n": 1}, _lineage(0))
        led.record(1, 2, {"n": 1}, _lineage(1), quarantined_min=11)
        head = json.load(open(led.head_path))
        head.update(extra)
        json.dump(head, open(led.head_path, "w"))
        # crash window: segment line appended, head write lost
        seg = sorted(os.listdir(led.seg_dir))[-1]
        with open(os.path.join(led.seg_dir, seg), "a") as fh:
            fh.write(json.dumps({"batch_id": "2", "version": 3,
                                 "metrics": {"n": 1},
                                 "lineage": _lineage(2)}) + "\n")
        healed = CheckpointLedger(led.root)
        assert healed.is_applied(2)
        healed.record(3, 4, {"n": 1}, _lineage(3))
        ledgers.append(CheckpointLedger(led.root))
    old, new = ledgers
    for read in ("applied", "totals", "low_water", "quarantine_holds"):
        assert getattr(old, read)() == getattr(new, read)(), read
    assert old.batch_record(3) == new.batch_record(3)
    assert old.totals()["n"] == 4 and old.quarantine_holds() == {"1": 11}
