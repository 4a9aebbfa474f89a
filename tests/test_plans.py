"""Physical-plan quality gates: predicate pushdown, column pruning,
broadcast joins, map-side partial aggregation.  These are the properties
that make the operators survive a 100x scale-up — asserted, not assumed."""

from pyspark.sql import functions as F

from icdc_dataloader_spark.operators.dedup import lww_dedup
from icdc_dataloader_spark.queries import QUERIES

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().toString()


def test_filter_pushdown_reaches_scan(spark):
    df = QUERIES["q1_pricing_summary"](spark, SF)
    plan = _plan(df)
    assert "PushedFilters" in plan
    assert "l_shipdate" in plan.split("PushedFilters")[1][:200], (
        "the shipdate filter must be pushed into the parquet scan"
    )


def test_column_pruning(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    df = li.filter(F.col("l_shipdate") < "1996-01-01").select(
        "l_orderkey", "l_extendedprice"
    )
    plan = _plan(df)
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" in read_schema and "l_extendedprice" in read_schema
    assert "l_comment" not in read_schema and "l_quantity" not in read_schema, (
        "scan must read only projected columns"
    )


def test_dimension_joins_broadcast(spark):
    df = QUERIES["rel_stats_agg"](spark, SF)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan, "nation/region joins must broadcast"


def test_lww_agg_is_two_phase(spark):
    ev = spark.read.parquet(f"{SF}/events.parquet")
    out = lww_dedup(ev, ["user_id", "event_type"], seq_col="event_id", strategy="agg")
    plan = _plan(out)
    assert "partial_max_by" in plan or "partial" in plan.lower(), (
        "LWW aggregation must do map-side partial aggregation "
        "(phase one of the two-phase merge: hot keys collapse before shuffle)"
    )


def test_anti_join_stays_join(spark):
    """V6 parent-exists must compile to a real anti-join (no collect loop)."""
    df = QUERIES["missing_parent_anti_join"](spark, SF)
    plan = _plan(df)
    assert "LeftAnti" in plan or "AntiJoin" in plan.replace(" ", "")


def test_batch_filter_prunes_binlog_partitions(spark, tmp_path):
    """CDC tail: the binlog is written partitioned by batch; the per-batch
    filter must reach the scan as a PARTITION filter (one dir read per
    batch), not a post-scan predicate over the whole binlog."""
    from icdc_dataloader_spark.sources.gen import gen_events_spark

    path = str(tmp_path / "binlog")
    gen_events_spark(spark, 2000, n_repos=20, n_batches=4).write.partitionBy(
        "batch_id"
    ).parquet(path)
    events = spark.read.parquet(path)
    one = events.filter(F.col("batch_id") == 2)
    plan = _plan(one)
    seg = plan.split("PartitionFilters:")[1].splitlines()[0]
    assert "batch_id" in seg, "batch filter must prune partitions at the scan"
    assert one.count() > 0  # and it still reads the right rows


def test_parent_broadcast_is_size_gated(spark):
    """resolve_parents must not force-broadcast by default (AQE decides);
    GraphLoader gates the hint on manifest row counts."""
    from icdc_dataloader_spark.operators.relationships import resolve_parents
    from icdc_dataloader_spark.plans.graph_loader import (
        BROADCAST_ROW_LIMIT, GraphLoader,
    )

    orders = spark.read.parquet(f"{SF}/orders.parquet").withColumn(
        "ck", F.col("o_custkey").cast("string")
    )
    cust = spark.read.parquet(f"{SF}/customer.parquet").withColumn(
        "ck", F.col("c_custkey").cast("string")
    )
    res = resolve_parents(
        orders, cust, pointer_col="ck", parent_key="ck",
        rel_type="placed_by", child_id_col="o_orderkey",
    )
    logical = res["edges"]._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in logical, (
        "default resolve_parents must not force a broadcast hint"
    )
    res_hinted = resolve_parents(
        orders, cust, pointer_col="ck", parent_key="ck",
        rel_type="placed_by", child_id_col="o_orderkey",
        broadcast_parents=True,
    )
    logical2 = res_hinted["edges"]._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" in logical2

    # the GraphLoader gate: small manifest row count -> hint; huge -> none
    gl = GraphLoader.__new__(GraphLoader)  # gate is stateless
    small = gl._maybe_broadcast(cust, est_rows=10)
    big = gl._maybe_broadcast(cust, est_rows=BROADCAST_ROW_LIMIT + 1)
    assert "ResolvedHint" in small._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in big._jdf.queryExecution().analyzed().toString()


def test_no_python_udf_in_hot_path(spark):
    """Coercion/validation/hash queries stay JVM-side: no BatchEvalPython
    (row-at-a-time Python) anywhere; Arrow eval allowed only where declared."""
    for name in [
        "q1_pricing_summary", "lww_latest_event", "range_validation",
        "content_sha256_parity", "token_count_quality", "boolean_coercion_parity",
    ]:
        plan = _plan(QUERIES[name](spark, SF))
        assert "BatchEvalPython" not in plan, f"{name} uses a row-wise Python UDF"
        assert "ArrowEvalPython" not in plan, f"{name} unexpectedly uses a Python UDF"


REPOS_SCHEMA = (
    "repo string, path string, commit string, lang string, content string,"
    " content_sha256 string, _seq long, _op string"
)
# one key upserted, deleted and recreated
MOR_ROWS = [("r1", "p1", "c1", "py", "x", None, 1, "upsert"),
            ("r1", "p1", None, None, None, None, 2, "delete"),
            ("r1", "p1", "c3", "py", "y", None, 3, "upsert")]


def _payload_exchanges(plan: str) -> int:
    return plan.count("Exchange ")


def _feed_range(spark, tmp_path, b):
    """A MoR table and a version range whose changed buckets hold files of
    all three kinds: only in v_from, in both, and only in v_to."""
    from icdc_dataloader_spark.plans.merge import append_delta, compact
    from icdc_dataloader_spark.repos import create_repos_table

    lake = create_repos_table(str(tmp_path / "feed"), n_buckets=4)
    wide = b.unionByName(b.withColumn("repo", F.lit("r2")))
    append_delta(spark, lake, wide, batch_id="f1", pre_dedup=False)
    v_from = lake.latest_version()
    append_delta(spark, lake, wide.withColumn("_seq", F.col("_seq") + 10),
                 batch_id="f2", pre_dedup=False)
    buckets = sorted({f["bucket"] for f in lake.snapshot()["files"]})
    assert len(buckets) > 1
    compact(spark, lake, buckets=buckets[:1])
    return lake, v_from


def test_resolve_users_plan_one_payload_exchange(spark, tmp_path):
    """read_state, changes_between, compact and the COW merge_into all run
    the one resolve kernel: the payload moves once (repartition by
    _bucket) and is never joined.  The change feed takes both snapshots'
    winners as aggregates of that one grouping, so its plan has no window
    either."""
    from icdc_dataloader_spark.plans.merge import (
        append_delta, changes_between, compact, merge_into, read_state,
    )
    from icdc_dataloader_spark.repos import create_repos_table

    b = spark.createDataFrame(MOR_ROWS, REPOS_SCHEMA)
    lake = create_repos_table(str(tmp_path / "mor"), n_buckets=4)
    append_delta(spark, lake, b, batch_id="b1")
    feed, v_from = _feed_range(spark, tmp_path, b)
    plans = {
        "read_state": _plan(read_state(spark, lake)),
        "changes_between": _plan(changes_between(spark, feed, v_from)),
    }
    assert "Window" not in plans["changes_between"]
    assert plans["changes_between"].count("FileScan") == 3

    def capture(target, name):
        write = target.write_data_files

        def wrapped(df, *a, **k):
            plans[name] = _plan(df)
            return write(df, *a, **k)

        target.write_data_files = wrapped

    capture(lake, "compact")
    compact(spark, lake)
    cow = create_repos_table(str(tmp_path / "cow"), n_buckets=4)
    merge_into(spark, cow, b, batch_id="c1")
    capture(cow, "merge_into")
    merge_into(spark, cow, b.withColumn("_seq", F.col("_seq") + 10),
               batch_id="c2")
    for name, plan in plans.items():
        assert _payload_exchanges(plan) == 1, (name, plan)
        assert "Join" not in plan, (name, plan)


def test_cow_apply_batch_job_count(spark, tmp_path):
    """A common-path COW batch (no quarantine, no NEW conflict) runs at
    most 4 Spark jobs: the per-bucket lineage aggregate and the bucket
    rewrite, each a shuffle-map job plus a result job under AQE."""
    from icdc_dataloader_spark.repos import make_pipeline

    pipe = make_pipeline(spark, str(tmp_path / "p"), n_buckets=4,
                         strategy="cow")

    def batch(seq0):
        return spark.createDataFrame(
            [(f"r{i % 5}", f"p{i}", f"c{seq0 + i}", "python", f"body {i}",
              seq0 + i, "upsert") for i in range(40)],
            "repo string, path string, commit string, lang string,"
            " content string, seq long, op string",
        )

    pipe.apply_batch(batch(0), "b0")  # first batch: warm the plan
    sc = spark.sparkContext
    sc.setJobGroup("cow-apply-batch", "job count")
    try:
        res = pipe.apply_batch(batch(100), "b1")
    finally:
        sc.setJobGroup("", "")
    jobs = sc.statusTracker().getJobIdsForGroup("cow-apply-batch")
    assert res["metrics"]["rows_updated"] == 40
    assert len(jobs) <= 4, sorted(jobs)


def test_mor_apply_batch_job_count(spark, tmp_path):
    """A common-path MoR batch (no quarantine, no NEW op, no compaction)
    runs at most 2 Spark jobs: the delta write, a shuffle-map job plus a
    result job under AQE.  The quarantine and NEW-op observations ride
    that write; lineage comes from the parquet footers."""
    from icdc_dataloader_spark.repos import make_pipeline

    pipe = make_pipeline(spark, str(tmp_path / "p"), n_buckets=4,
                         strategy="mor", compact_every=100)

    def batch(seq0):
        return spark.createDataFrame(
            [(f"r{i % 5}", f"p{i}", f"c{seq0 + i}", "python", f"body {i}",
              seq0 + i, "upsert") for i in range(40)],
            "repo string, path string, commit string, lang string,"
            " content string, seq long, op string",
        )

    pipe.apply_batch(batch(0), "b0")  # first batch: warm the plan
    sc = spark.sparkContext
    sc.setJobGroup("mor-apply-batch", "job count")
    try:
        res = pipe.apply_batch(batch(100), "b1")
    finally:
        sc.setJobGroup("", "")
    jobs = sc.statusTracker().getJobIdsForGroup("mor-apply-batch")
    assert res["metrics"]["rows_appended"] == 40
    assert res["metrics"]["rows_quarantined"] == 0
    assert len(jobs) <= 2, sorted(jobs)


def test_feed_poll_job_count(spark, tmp_path):
    """One change-feed poll over a delta-bearing range, materialized by a
    noop write, runs at most 2 Spark jobs: the one kernel shuffle, a
    shuffle-map job plus a result job under AQE."""
    from icdc_dataloader_spark.streaming.feed import ChangeFeedConsumer

    b = spark.createDataFrame(MOR_ROWS, REPOS_SCHEMA)
    lake, v_from = _feed_range(spark, tmp_path, b)
    consumer = ChangeFeedConsumer(lake, str(tmp_path / "cursor"),
                                  start_version=v_from)
    sc = spark.sparkContext
    sc.setJobGroup("feed-poll", "job count")
    try:
        inc = consumer.poll(spark)
        inc["df"].write.format("noop").mode("overwrite").save()
    finally:
        sc.setJobGroup("", "")
    jobs = sc.statusTracker().getJobIdsForGroup("feed-poll")
    assert inc["df"].count() > 0
    assert len(jobs) <= 2, sorted(jobs)


def _binlog(spark, tmp_path, name, files_per_batch, n_batches=3):
    """A batch-partitioned binlog of ``n_batches`` 200-event batches over
    60 keys (upserts and deletes, keys repeating across batches), each
    batch stored as ``files_per_batch`` Parquet files."""
    from icdc_dataloader_spark.sources.gen import gen_events_pandas

    pdf = gen_events_pandas(n_events=200 * n_batches, n_repos=6, n_paths=10,
                            n_batches=n_batches, p_delete=0.1, p_new=0.0,
                            shuffle_arrival=False)
    path = str(tmp_path / name)
    events = spark.createDataFrame(pdf)
    for bid in sorted(pdf["batch_id"].unique()):
        events.filter(F.col("batch_id") == int(bid)).repartition(
            files_per_batch).write.mode("append").partitionBy(
            "batch_id").parquet(path)
    return path


def _drain_one(spark, pipe, path, group):
    """Drain the next pending batch of the binlog at ``path`` under job
    group ``group``; returns (applied record, job ids)."""
    binlog = spark.read.parquet(path)  # schema inference runs its own job
    sc = spark.sparkContext
    sc.setJobGroup(group, "one drained batch")
    try:
        res = pipe.run(binlog, max_batches=1)
    finally:
        sc.setJobGroup("", "")
    return res["applied"][0], sc.statusTracker().getJobIdsForGroup(group)


def _files_per_bucket(lake, version):
    counts: dict[int, int] = {}
    for f in lake.snapshot(version)["files"]:
        if f["path"].startswith(f"data/v{version}/"):
            counts[f["bucket"]] = counts.get(f["bucket"], 0) + 1
    return counts


def test_mor_one_file_batch_is_one_job(spark, tmp_path):
    """A batch stored as one small Parquet file is one input split: its
    delta is written straight from the scan, one Spark job, and still one
    file per touched bucket."""
    from icdc_dataloader_spark.repos import make_pipeline

    path = _binlog(spark, tmp_path, "binlog", files_per_batch=1)
    pipe = make_pipeline(spark, str(tmp_path / "p"), n_buckets=4,
                         strategy="mor", compact_every=100)
    _drain_one(spark, pipe, path, "mor-one-file-warm")
    applied, jobs = _drain_one(spark, pipe, path, "mor-one-file")
    assert applied["metrics"]["rows_appended"] > 0
    assert len(jobs) == 1, sorted(jobs)
    per_bucket = _files_per_bucket(pipe.lake, applied["version"])
    assert len(per_bucket) == 4 and set(per_bucket.values()) == {1}


def test_mor_multi_file_batch_keeps_colocating_shuffle(spark, tmp_path):
    """The same events stored as 3 files per batch are 3 splits: the write
    keeps the shuffle by bucket, so each touched bucket still gets one
    file, in at most 2 jobs."""
    from icdc_dataloader_spark.repos import make_pipeline

    path = _binlog(spark, tmp_path, "binlog", files_per_batch=3)
    pipe = make_pipeline(spark, str(tmp_path / "p"), n_buckets=4,
                         strategy="mor", compact_every=100)
    _drain_one(spark, pipe, path, "mor-three-files-warm")
    applied, jobs = _drain_one(spark, pipe, path, "mor-three-files")
    assert applied["metrics"]["rows_appended"] > 0
    assert len(jobs) <= 2, sorted(jobs)
    per_bucket = _files_per_bucket(pipe.lake, applied["version"])
    assert len(per_bucket) == 4 and set(per_bucket.values()) == {1}


def test_one_split_check_plans_only(spark, tmp_path):
    """The one-split check accepts only an exchange-free plan over one
    small file, and launches no Spark job deciding."""
    from icdc_dataloader_spark.plans.merge import _one_split_scan

    path = _binlog(spark, tmp_path, "binlog", files_per_batch=1, n_batches=1)
    one = spark.read.parquet(path).filter(F.col("batch_id") == 0).drop(
        "batch_id").withColumn("_bucket", F.lit(0))
    three = spark.read.parquet(
        _binlog(spark, tmp_path, "three", files_per_batch=3, n_batches=1))
    local = spark.createDataFrame([("r", "p", 1)], "repo string, path string,"
                                  " seq long")
    deduped = lww_dedup(one, ["repo", "path"], seq_col="seq",
                        strategy="salted")
    sc = spark.sparkContext
    sc.setJobGroup("one-split-check", "plan only")
    try:
        assert _one_split_scan(one)
        assert not _one_split_scan(three)
        assert not _one_split_scan(deduped)
        assert not _one_split_scan(local)
        # a file above the open cost may be split (filters below make new
        # DataFrames: each plans once, under the conf of its first use)
        spark.conf.set("spark.sql.files.openCostInBytes", "1024")
        try:
            assert not _one_split_scan(one.filter(F.col("seq") >= 0))
        finally:
            spark.conf.unset("spark.sql.files.openCostInBytes")
        # without AQE an exchange stays inline in the plan
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            assert _one_split_scan(one.filter(F.col("seq") >= 1))
            assert not _one_split_scan(one.repartition(4, "_bucket"))
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", "true")
    finally:
        sc.setJobGroup("", "")
    assert sc.statusTracker().getJobIdsForGroup("one-split-check") == []


def test_direct_and_colocated_writes_same_state(spark, tmp_path):
    """The same batches written straight from one-file scans and through
    the colocating shuffle from 3-file scans resolve to the same state,
    before and after compaction."""
    from icdc_dataloader_spark.plans.merge import compact, read_state
    from icdc_dataloader_spark.repos import make_pipeline

    def digest(lake):
        return sorted(
            tuple(r) for r in read_state(spark, lake).select(
                "repo", "path", "commit", "content_sha256").collect()
        )

    lakes = []
    for files in (1, 3):
        pipe = make_pipeline(spark, str(tmp_path / f"p{files}"), n_buckets=4,
                             strategy="mor", compact_every=100)
        res = pipe.run(spark.read.parquet(
            _binlog(spark, tmp_path, f"binlog{files}", files_per_batch=files)))
        assert len(res["applied"]) == 3
        lakes.append(pipe.lake)
    direct, colocated = lakes
    # one delta file per bucket per batch on both sides
    assert len(direct.delta_files()) == len(colocated.delta_files())
    assert digest(direct) == digest(colocated) != []
    for lake in lakes:
        compact(spark, lake)
    assert digest(direct) == digest(colocated)


def test_run_lists_binlog_files_once(spark, tmp_path, monkeypatch):
    """One drain converts the binlog's input-file list once: the drain
    listing and the watermark's footer pass share it."""
    from icdc_dataloader_spark.repos import make_pipeline

    binlog = spark.read.parquet(
        _binlog(spark, tmp_path, "binlog", files_per_batch=1))
    calls = []
    real = type(binlog).inputFiles

    def spy(self):
        calls.append(1)
        return real(self)

    monkeypatch.setattr(type(binlog), "inputFiles", spy)
    pipe = make_pipeline(spark, str(tmp_path / "p"), n_buckets=2,
                         strategy="mor", compact_every=100)
    assert pipe.late_horizon is not None  # the footer pass runs
    res = pipe.run(binlog, max_batches=2)
    assert len(res["applied"]) == 2 and len(calls) == 1
    assert set(pipe._pending_mins) == {"2"}
