"""§2.9 retry-with-TTL: a poisoned batch is retried retry_ttl times (the
count persisted in the ledger across restarts), then PARKED so the drain
continues — the reference's file_copier.py:324-330 re-delivery budget."""

from pyspark.sql import functions as F

from icdc_dataloader_spark.plans.merge import read_state
from icdc_dataloader_spark.repos import make_pipeline
from icdc_dataloader_spark.sources.gen import gen_events_pandas


def _events(spark, n_batches=3):
    pdf = gen_events_pandas(
        n_events=600, n_repos=6, n_paths=3, seed=7, n_batches=n_batches,
        p_delete=0.05, p_new=0.0,
    )
    return spark.createDataFrame(pdf)


def test_poisoned_batch_is_retried_then_parked(spark, tmp_path):
    pipe = make_pipeline(
        spark, str(tmp_path / "out"), n_buckets=4, strategy="mor",
        compact_every=100,
    )
    pipe.retry_ttl = 3
    events = _events(spark)

    real_apply = pipe.apply_batch
    attempts = {"n": 0}

    def poisoned(batch_df, batch_id):
        if str(batch_id) == "1":
            attempts["n"] += 1
            raise IOError("simulated executor-side failure for batch 1")
        return real_apply(batch_df, batch_id)

    pipe.apply_batch = poisoned
    res = pipe.run(events)

    # batch 1 retried exactly retry_ttl times, then parked; 0 and 2 applied
    assert attempts["n"] == 3
    assert res["quarantined"] == ["1"]
    assert {a["batch_id"] for a in res["applied"]} == {"0", "2"}
    f = pipe.ledger.failures()["1"]
    assert f["retries"] == 3 and f["quarantined"] is True
    assert "simulated executor-side failure" in f["errors"][-1]

    # a quarantined batch is NOT re-attempted on later drains (crash/resume
    # persistence: the failure record lives in the ledger file)
    attempts["n"] = 0
    res2 = pipe.run(events)
    assert attempts["n"] == 0
    assert res2["quarantined"] == ["1"]

    # healthy batches landed: the table holds state from batches 0 and 2
    assert read_state(spark, pipe.lake).count() > 0


def test_transient_failure_recovers_within_budget(spark, tmp_path):
    pipe = make_pipeline(
        spark, str(tmp_path / "out"), n_buckets=4, strategy="mor",
        compact_every=100,
    )
    pipe.retry_ttl = 3
    events = _events(spark, n_batches=2)

    real_apply = pipe.apply_batch
    attempts = {"n": 0}

    def flaky(batch_df, batch_id):
        if str(batch_id) == "0" and attempts["n"] < 2:
            attempts["n"] += 1
            raise IOError("transient")
        return real_apply(batch_df, batch_id)

    pipe.apply_batch = flaky
    res = pipe.run(events)
    assert res["quarantined"] == []
    assert {a["batch_id"] for a in res["applied"]} == {"0", "1"}
    # success clears the failure history
    assert "0" not in pipe.ledger.failures()


def test_mor_created_seq_resets_after_delete_recreate(spark, tmp_path):
    """ADVICE: MoR resolve() resurrected pre-delete created lineage; COW
    resets it.  Both paths must agree on _created_seq for recreated keys,
    whether the delete->recreate spans batches or sits inside one batch
    (no in-batch pre-dedup: every event reaches the merge)."""
    from icdc_dataloader_spark.plans.lake import LakeTable
    from icdc_dataloader_spark.plans.merge import (
        append_delta, merge_into, resolve, table_schema,
    )
    from pyspark.sql import types as T

    payload = T.StructType(
        [T.StructField("id", T.StringType()), T.StructField("v", T.LongType())]
    )
    events = [
        ("k", 1, 10, "upsert"),          # created at seq 10
        ("k", None, 20, "delete"),       # tombstone
        ("k", 3, 30, "upsert"),          # recreate: created must be 30
    ]
    inputs = {
        "one_event_per_batch": [[e] for e in events],
        "one_batch": [events],
    }

    def stage(rows):
        return spark.createDataFrame(
            rows, "id string, v long, _seq long, _op string"
        )

    for name, batches in inputs.items():
        cow = LakeTable.create(
            str(tmp_path / name / "cow"), table_schema(payload), ["id"], 2
        )
        mor = LakeTable.create(
            str(tmp_path / name / "mor"), table_schema(payload), ["id"], 2
        )
        for i, rows in enumerate(batches):
            merge_into(spark, cow, stage(rows), batch_id=f"c{i}")
            append_delta(spark, mor, stage(rows), batch_id=f"m{i}",
                         pre_dedup=False)

        cow_row = resolve(spark, cow).filter("id='k'").collect()[0]
        mor_row = resolve(spark, mor).filter("id='k'").collect()[0]
        assert cow_row["_created_seq"] == 30, name
        assert mor_row["_created_seq"] == cow_row["_created_seq"], name


def test_low_water_skips_missing_lineage(tmp_path):
    from icdc_dataloader_spark.streaming.ledger import CheckpointLedger

    led = CheckpointLedger(str(tmp_path / "led"))
    led.record("b1", 1, {}, {"0": {"min_seq": 1, "max_seq": 5, "rows": 3}})
    led.record("b2", 2, {}, {"0": {"min_seq": None, "max_seq": None, "rows": 2},
                             "1": {"min_seq": 2, "max_seq": 9, "rows": 1}})
    lw = led.low_water()
    assert lw == {"0": 5, "1": 9}  # None lineage skipped, no TypeError
