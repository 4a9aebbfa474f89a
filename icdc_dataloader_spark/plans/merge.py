"""MERGE INTO planner: set-oriented upsert/new/delete over a LakeTable.

Replaces the reference's per-row Cypher writes (one bolt round-trip per row,
data_loader.py:901-947) with one MERGE per micro-batch:

- ``UPSERT_MODE`` (MERGE ... ON CREATE SET / ON MATCH SET,
  data_loader.py:804-824)  -> op='upsert': LWW winner per key wins.
- ``NEW_MODE`` (CREATE, abort if exists, data_loader.py:787-802,912-918)
  -> op='new': an event whose key is currently live is quarantined to the
  errors relation (reason ``node_exists_in_new_mode``) instead of aborting
  the batch; the rest of the batch applies.
- ``DELETE_MODE`` (data_loader.py:919-922) -> op='delete': a tombstone row
  is stored so late (lower-seq) upserts arriving in later batches still
  lose to the delete — global LWW independent of batch assignment.

One order, one kernel.  The LWW total order is
:func:`operators.dedup.lww_order_key` over ``(_seq, *tiebreakers)`` with
the table's own tiebreakers (:meth:`LakeTable.tiebreakers`).  Every Spark
path that picks a per-key winner — the merge-on-read :func:`resolve`
(``read_state``), the change feed :func:`changes_between` (both
snapshots' winners in one pass), :func:`compact` and the copy-on-write
:func:`merge_into` — runs the same kernel, :func:`_lww_groups`:

1. ``repartition(n_buckets, _bucket)`` — the only payload exchange;
2. the key's tombstone watermark ``_del_max``: a window max over
   ``(_bucket, keys)``.  ``HashPartitioning(_bucket)`` already satisfies
   the window's distribution because ``_bucket`` is a function of the
   bucket columns, so no second exchange; window partitioning groups NULL
   key components together;
3. ``max_by(payload, order)`` grouped on ``(_bucket, keys)``, reusing the
   partitioning and the window's sort.  Created lineage resets across a
   delete->recreate: only rows after the key's latest tombstone count.

The output lands one bucket per partition, ready for the bucket-partitioned
write.  COW scans only the batch's touched buckets (file pruning via the
snapshot manifest — the Spark analogue of the reference's id indexes,
create_index.py:60-95), rewrites them from the kernel over touched base ∪
batch, carries every other file forward and commits atomically keyed by
batch_id (idempotent re-apply).

The timestamps the reference sets in ON CREATE/ON MATCH (datetime(),
data_loader.py:822-823) are deliberately replaced by ``_seq`` lineage
columns (_created_seq/_updated_seq) so replays are bit-deterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from ..operators.dedup import lww_dedup, lww_order_key
from .lake import LakeTable, bucket_expr, _align

INTERNAL_COLS = ["_seq", "_op", "_bucket", "_created_seq", "_updated_seq"]

OP_UPSERT = "upsert"
OP_NEW = "new"
OP_DELETE = "delete"


def table_schema(payload: T.StructType) -> T.StructType:
    """Physical table schema = payload + CDC lineage columns."""
    fields = list(payload.fields) + [
        T.StructField("_seq", T.LongType(), True),
        T.StructField("_op", T.StringType(), True),
        T.StructField("_bucket", T.IntegerType(), True),
        T.StructField("_created_seq", T.LongType(), True),
        T.StructField("_updated_seq", T.LongType(), True),
    ]
    return T.StructType(fields)


def _lww_groups(df: DataFrame, lake: LakeTable, *extra: F.Column) -> DataFrame:
    """The resolve kernel (module docstring): one row per ``(_bucket,
    keys)`` with the LWW winner as struct ``_w`` (every column of ``df``),
    ``_first_seq`` (the created lineage after the key's latest tombstone)
    and the ``extra`` aggregates."""
    key_cols = lake.key_cols()
    main = df.repartition(lake.n_buckets(), "_bucket").withColumn(
        "_del_max",
        F.max(F.when(F.col("_op") == OP_DELETE, F.col("_seq"))).over(
            Window.partitionBy("_bucket", *key_cols)
        ),
    )
    alive_after_delete = (F.col("_op") != OP_DELETE) & (
        F.col("_del_max").isNull() | (F.col("_seq") > F.col("_del_max"))
    )
    return main.groupBy("_bucket", *key_cols).agg(
        F.max_by(
            F.struct(*df.columns), lww_order_key("_seq", *lake.tiebreakers())
        ).alias("_w"),
        F.min(F.when(alive_after_delete, F.col("_created_seq"))).alias(
            "_first_seq"
        ),
        *extra,
    )


def _winner_rows(groups: DataFrame, *keep: str) -> DataFrame:
    """Flatten :func:`_lww_groups` output to the winning rows, with
    ``_created_seq`` taken from the lineage aggregate when it has one."""
    return (
        groups.select("_w.*", "_first_seq", *keep)
        .withColumn(
            "_created_seq",
            F.coalesce(F.col("_first_seq"), F.col("_created_seq")),
        )
        .drop("_first_seq")
    )


def resolve(
    spark: SparkSession,
    lake: LakeTable,
    version: int | None = None,
    buckets: list[int] | None = None,
) -> DataFrame:
    """Current table rows with merge-on-read deltas resolved.

    Delta-free reads (COW snapshots, freshly compacted buckets) return the
    scan as-is.  With deltas, the rows go through the resolve kernel
    (:func:`_lww_groups`), so the output is partitioned one bucket per
    partition.
    """
    df = lake.read(spark, version=version, buckets=buckets)
    deltas = lake.delta_files(version)
    if buckets is not None:
        # bucket-targeted compaction makes mixed states the norm: a
        # bucket-restricted read over delta-free buckets must not pay the
        # kernel just because SOME OTHER bucket still holds deltas
        bset = set(buckets)
        deltas = [f for f in deltas if f["bucket"] in bset]
    if not deltas:
        return df
    return _winner_rows(_lww_groups(df, lake))


def _file_diff(lake: LakeTable, v_from: int, v_to: int):
    """Both snapshots' manifest entries keyed by path, and the buckets
    whose file set changed between them."""
    old, new = ({f["path"]: f for f in lake.snapshot(v)["files"]}
                for v in (v_from, v_to))
    changed = {f["bucket"] for p, f in new.items() if p not in old} | {
        f["bucket"] for p, f in old.items() if p not in new
    }
    return old, new, changed


def changed_buckets(
    lake: LakeTable, v_from: int, v_to: int
) -> list[int]:
    """Hash buckets whose file set changed in (v_from, v_to] —
    driver-side manifest diff, no Spark job.  A downstream consumer only
    needs to re-read these buckets: at 100 TB an incremental batch
    typically touches a small fraction of them.  Compaction rewrites count
    as touches (superset — always safe).

    Both directions of the diff matter: files ADDED (new data) and files
    REMOVED (a bucket that compacted/GC'd/wiped down to zero files leaves
    nothing behind at v_to — self-review round 4: an added-only diff
    silently dropped the delete events for every key in such a bucket).
    """
    return sorted(_file_diff(lake, v_from, v_to)[2])


def changes_between(
    spark: SparkSession,
    lake: LakeTable,
    v_from: int,
    v_to: int | None = None,
) -> DataFrame:
    """Incremental change feed between two snapshots (the CONSUME side of
    the CDC engine — the Iceberg incremental-read analogue): one row per
    key whose live state differs between ``v_from`` and ``v_to``.

    Output: key columns, ``change_type`` ('insert' | 'update' |
    'delete'), and the v_to payload (NULL payload for deletes).

    Plan shape: one kernel pass, no join.  Each file of the
    :func:`changed_buckets` (manifest pruning: untouched buckets are never
    opened) is read once at ``schema(v_to)``, its rows flagged with the
    snapshots holding it; files only in ``v_from`` skip the payload.
    :func:`_lww_groups` takes both winners as two aggregates of its one
    grouping, ``_o`` and ``_n`` (Catalyst prunes the unused window).
    Winners are compared by ``_seq`` (same key + same winning seq == same
    row, by LWW totality); NULL key components group together.  A key
    dead at both versions emits nothing, even if its tombstone was GC'd.
    """
    v_to = lake.latest_version() if v_to is None else v_to
    # a consumer that lagged past vacuum retention cannot resume
    # incrementally — fail with the clear contract error (best-effort at
    # plan time; see LakeTable.ensure_retained)
    lake.ensure_retained(
        v_from,
        hint="Re-bootstrap from read_state() and resume the feed from "
             "the current version.",
    )
    old, new, bks = _file_diff(lake, v_from, v_to)
    key_cols, tiebreakers = lake.key_cols(), lake.tiebreakers()
    target = lake.schema(v_to)
    payload_cols = [
        f.name for f in target.fields
        if f.name not in INTERNAL_COLS and f.name not in key_cols
    ]
    # (files, in v_from, in v_to); added and removed files all lie in
    # changed buckets.  No empty reads: each starts Python workers.
    groups = [g for g in (
        ([f for p, f in old.items() if p not in new], True, False),
        ([f for p, f in new.items() if p in old and f["bucket"] in bks],
         True, True),
        ([f for p, f in new.items() if p not in old], False, True),
    ) if g[0]] or [([], False, True)]
    rows = None
    for files, in_old, in_new in groups:
        df = lake.read_files(spark, files, target)
        if not in_new:  # only the winner's _seq and _op are needed
            df = df.select(*[
                F.lit(None).cast(f.dataType).alias(f.name)
                if f.name in payload_cols and f.name not in tiebreakers
                else F.col(f.name)
                for f in target.fields
            ])
        df = df.withColumn("_in_old", F.lit(in_old)).withColumn(
            "_in_new", F.lit(in_new))
        rows = df if rows is None else rows.unionByName(df)

    order = lww_order_key("_seq", *tiebreakers)

    def winner(flag: str, *cols: str) -> F.Column:
        on = F.col(flag)
        return F.max_by(F.when(on, F.struct(*cols)), F.when(on, order))

    old_live = F.coalesce(F.col("_o._op") != OP_DELETE, F.lit(False))
    new_live = F.coalesce(F.col("_n._op") != OP_DELETE, F.lit(False))
    change = (
        F.when(new_live & ~old_live, "insert")
        .when(old_live & ~new_live, "delete")
        .when(new_live & (F.col("_n._seq") != F.col("_o._seq")), "update")
    )
    return _lww_groups(
        rows, lake,
        winner("_in_old", "_seq", "_op").alias("_o"),
        winner("_in_new", "_seq", "_op", *payload_cols).alias("_n"),
    ).select(
        *key_cols,
        change.alias("change_type"),
        *[F.when(new_live, F.col("_n")[c]).alias(c) for c in payload_cols],
    ).filter(F.col("change_type").isNotNull())


def read_state(spark: SparkSession, lake: LakeTable, version: int | None = None) -> DataFrame:
    """User-facing current state: live rows only, lineage columns dropped."""
    df = resolve(spark, lake, version=version)
    return df.filter(F.col("_op") != OP_DELETE).drop(*[c for c in INTERNAL_COLS if c in df.columns])


def _staging(lake: LakeTable) -> dict:
    """A ``_seq``-stamped batch's bucket and created/updated lineage
    columns, for one ``withColumns`` (see :meth:`LakeTable.layout_exprs`)."""
    return lake.layout_exprs("staging", lambda: {
        "_bucket": bucket_expr(lake.bucket_cols(), lake.n_buckets()),
        "_created_seq": F.col("_seq"),
        "_updated_seq": F.col("_seq"),
    })


def _bucket_lineage(batch: DataFrame) -> dict:
    """Per touched bucket: min/max ``_seq`` and row count of the batch
    (one small aggregate job; its keys are the touched buckets)."""
    return {
        str(r["_bucket"]): {
            "min_seq": r["min_seq"], "max_seq": r["max_seq"], "rows": r["rows"]
        }
        for r in batch.groupBy("_bucket")
        .agg(
            F.min("_seq").alias("min_seq"),
            F.max("_seq").alias("max_seq"),
            F.count(F.lit(1)).alias("rows"),
        )
        .collect()
    }


def merge_into(
    spark: SparkSession,
    lake: LakeTable,
    batch_df: DataFrame,
    batch_id=None,
    error_sink=None,
) -> dict:
    """Apply one CDC batch copy-on-write.  Returns {'version', 'metrics',
    'noop', 'errors', 'lineage'}.

    ``batch_df`` carries payload columns (a subset of the table payload is
    fine — schema-evolution alignment fills NULLs), ``_seq`` and ``_op``.
    Two Spark actions on the common path (four jobs under AQE, which runs
    each shuffle as its own job): the per-bucket lineage aggregate, which
    names the touched buckets, and the rewrite of those buckets, whose
    :class:`Observation` yields the row counts.  Conflicting
    ``new`` rows are recomputed and passed to ``error_sink`` only when the
    write observed some.
    """
    if batch_id is not None and lake.is_batch_committed(batch_id):
        return {
            "version": lake.latest_version(),
            "metrics": {},
            "noop": True,
            "errors": None,
        }

    key_cols = lake.key_cols()
    schema = lake.schema()
    # not persisted: under AQE a cached input costs its own job, more than
    # re-running the staging projection in the rewrite
    batch = _align(batch_df.withColumns(_staging(lake)), schema)
    lineage = _bucket_lineage(batch)
    touched = sorted(int(b) for b in lineage)
    snap = lake.snapshot()
    if not touched:
        version = lake.commit(
            [], snap["files"], operation="merge-empty", batch_id=batch_id, metrics={}
        )
        return {"version": version, "metrics": {}, "noop": False,
                "errors": None, "lineage": {}}

    unioned = (
        lake.read(spark, buckets=touched)
        .withColumn("_src", F.lit("cur"))
        .unionByName(batch.withColumn("_src", F.lit("batch")))
    )
    payload = F.struct(*unioned.columns)
    order = lww_order_key("_seq", *lake.tiebreakers())
    is_batch = F.col("_src") == "batch"
    is_cur = F.col("_src") == "cur"
    groups = _lww_groups(
        unioned,
        lake,
        # the batch-side and current winners, for NEW_MODE conflicts
        F.max_by(F.when(is_batch, payload), F.when(is_batch, order)).alias("_bw"),
        F.max_by(F.when(is_cur, payload), F.when(is_cur, order)).alias("_cw"),
        F.max(
            F.when(is_cur & (F.col("_op") != OP_DELETE), 1).otherwise(0)
        ).alias("_had_live"),
    )
    # NEW_MODE (W2, data_loader.py:912-918): if the batch's winning event is
    # a 'new' on a live key, the whole batch contribution for that key is
    # rejected — the current row stands as stored, and an error row is
    # emitted.
    conflict = F.coalesce(
        (F.col("_bw._op") == OP_NEW) & (F.col("_had_live") == 1), F.lit(False)
    )
    resolved = _winner_rows(
        groups.select(
            F.when(conflict, F.col("_cw")).otherwise(F.col("_w")).alias("_w"),
            F.when(~conflict, F.col("_first_seq")).alias("_first_seq"),
            conflict.alias("_conflict"),
            "_had_live",
        ),
        "_conflict", "_had_live",
    )

    def rows(cond):
        return F.count(F.when(cond, 1))

    won = F.col("_src") == "batch"
    live = F.col("_op") != OP_DELETE
    had = F.col("_had_live") == 1
    obs = Observation()
    out = _align(
        resolved.observe(
            obs,
            rows(won & live & ~had).alias("rows_inserted"),
            rows(won & live & had).alias("rows_updated"),
            rows(won & ~live & had).alias("rows_deleted"),
            rows(~won).alias("rows_unchanged"),
            rows(F.col("_conflict")).alias("new_mode_conflicts"),
        ).drop("_src", "_conflict", "_had_live"),
        schema,
    )
    new_version = lake.latest_version() + 1
    new_files = lake.write_data_files(out, new_version, schema)
    metrics = {k: int(v or 0) for k, v in obs.get.items()}

    errors = None
    if metrics["new_mode_conflicts"]:
        errors = resolved.filter(F.col("_conflict")).select(
            *key_cols,
            F.lit("node_exists_in_new_mode").alias("reason"),
            F.lit("error").alias("severity"),
        )
        if error_sink is not None:
            error_sink(errors)

    touched_set = set(touched)
    carried = [f for f in snap["files"] if f["bucket"] not in touched_set]
    version = lake.commit(
        new_files, carried, operation="merge", batch_id=batch_id, metrics=metrics
    )
    return {"version": version, "metrics": metrics, "noop": False,
            "errors": errors, "lineage": lineage}


# ---------------------------------------------------------------------------
# Merge-on-read: append deltas, resolve at read, compact on threshold
# ---------------------------------------------------------------------------


def _one_split_scan(df: DataFrame) -> bool:
    """Whether ``df`` plans to one input partition with no exchange: its
    only leaf is a file scan listing one file no larger than
    min(``spark.sql.files.maxPartitionBytes``,
    ``spark.sql.files.openCostInBytes``), which Spark never splits.  Such a
    batch is written by one task, so it lands at most one file per bucket
    without a shuffle.

    Reads the planned scan's file listing only: building the scan's RDD
    would broadcast the Hadoop conf, and ``DataFrame.rdd`` would run AQE
    stages.  Under AQE any exchange wraps the plan in an adaptive node,
    which is then its only leaf; without AQE the exchange pattern bit
    catches it.
    """
    plan = df._jdf.queryExecution().executedPlan()
    leaves = plan.collectLeaves()
    if leaves.size() != 1:
        return False
    scan = leaves.head()
    if scan.getClass().getSimpleName() != "FileSourceScanExec":
        return False
    jvm = df.sparkSession._jvm
    if plan.containsPattern(
        jvm.org.apache.spark.sql.catalyst.trees.TreePattern.EXCHANGE()
    ):
        return False
    listing = scan.selectedPartitions()
    conf = df.sparkSession._jsparkSession.sessionState().conf()
    return listing.totalNumberOfFiles() == 1 and listing.totalFileSize() <= min(
        conf.filesMaxPartitionBytes(), conf.filesOpenCostInBytes()
    )


def append_delta(
    spark: SparkSession,
    lake: LakeTable,
    batch_df: DataFrame,
    batch_id=None,
    error_sink=None,
    pre_dedup: bool = True,
) -> dict:
    """MoR apply: write the batch as delta files — NO base rewrite.

    This is the 10^10-scale ingest path: per-batch work is proportional to
    the BATCH, not the table.  The per-key winner is materialized lazily by
    :func:`resolve` / :func:`compact` with the same kernel and order as
    the COW path, so the final state is identical (tested).

    - ``pre_dedup``: explicit key-salted two-phase LWW inside the batch
      before writing (bounds delta size by the batch's key count — the hot
      path of the north rule's salting mechanism).
    - Colocated deltas: one delta file per bucket per batch, with one
      exception for hot buckets.  A batch that plans to one input split
      (:func:`_one_split_scan`, e.g. one small binlog file) is written
      straight from its scan: its one write task already lands one file
      per bucket.  Any other batch is rebalanced by ``_bucket``, and AQE
      splits a shuffle partition larger than
      ``spark.sql.adaptive.advisoryPartitionSizeInBytes`` at map-output
      boundaries.  Such a hot bucket gets one file per map-side piece
      instead of one straggler task; compaction folds the files and
      :func:`resolve` reads multi-file buckets natively.  The split is
      per shuffle partition, so a cold bucket that hash-collides into a
      hot bucket's partition is split along with it.
    - NEW_MODE events require apply-time liveness: if (and only if) the
      batch contains op='new', the current state of the touched buckets is
      resolved (a read, not a rewrite) and every key whose batch-winner is
      a conflicting 'new' is stripped from the delta (same rule as COW).
    """
    if batch_id is not None and lake.is_batch_committed(batch_id):
        return {"version": lake.latest_version(), "metrics": {}, "noop": True,
                "errors": None}

    key_cols = lake.key_cols()
    n_buckets = lake.n_buckets()
    schema = lake.schema()
    tiebreakers = lake.tiebreakers()

    batch = _align(batch_df.withColumns(_staging(lake)), schema)
    if pre_dedup:
        batch = lww_dedup(
            batch, key_cols, seq_col="_seq", tiebreakers=tiebreakers,
            strategy="salted",
        )

    # The common path's only Spark action is the write: one job for a
    # one-split batch, else a shuffle-map job plus a result job under AQE.
    # NEW-op presence is observed during the write; per-bucket lineage
    # comes from the written files' parquet footers (no extra aggregation
    # jobs).  The staging columns above and this aggregate are built once
    # per table.
    obs = Observation()
    batch = batch.observe(obs, lake.layout_exprs(
        "has_new",
        lambda: F.max(F.when(F.col("_op") == OP_NEW, 1).otherwise(0))
        .alias("has_new"),
    ))

    out = (batch if _one_split_scan(batch)
           else batch.hint("rebalance", n_buckets, "_bucket"))
    new_version = lake.latest_version() + 1
    new_files = lake.write_data_files(out, new_version, schema, role="delta")

    n_conflicts = 0
    if obs.get.get("has_new"):
        # rare path: resolve NEW conflicts against current state, re-stage
        # the delta without the conflicting keys (extra jobs only here)
        staged = spark.read.schema(schema).parquet(
            *[f"{lake.root}/{f['path']}" for f in new_files]
        ) if new_files else spark.createDataFrame([], schema)
        touched = sorted({f["bucket"] for f in new_files})
        current = resolve(spark, lake, buckets=touched)
        live = current.filter(F.col("_op") != OP_DELETE).select(*key_cols)
        batch_winner_op = staged.groupBy(*key_cols).agg(
            F.max_by(F.col("_op"), lww_order_key("_seq", *tiebreakers)).alias("_wop")
        )
        conflicts = (
            batch_winner_op.filter(F.col("_wop") == OP_NEW)
            .join(live, key_cols, "left_semi")
            .select(*key_cols)
            .persist()
        )
        n_conflicts = conflicts.count()
        if n_conflicts:
            errors = conflicts.select(
                *key_cols,
                F.lit("node_exists_in_new_mode").alias("reason"),
                F.lit("error").alias("severity"),
            )
            if error_sink is not None:
                error_sink(errors)
            clean = staged.join(conflicts, key_cols, "left_anti")
            new_files = lake.write_data_files(
                clean, new_version, schema, role="delta",
                dirname=f"v{new_version}_resolved",
            )
        conflicts.unpersist()

    n_appended = sum(f["rows"] for f in new_files)
    lineage = {}
    for f in new_files:
        b = str(f["bucket"])
        seq_stats = (f.get("stats") or {}).get("_seq") or {}
        cur = lineage.setdefault(
            b, {"min_seq": None, "max_seq": None, "rows": 0}
        )
        cur["rows"] += f["rows"]
        if seq_stats:
            cur["min_seq"] = (
                seq_stats["min"]
                if cur["min_seq"] is None
                else min(cur["min_seq"], seq_stats["min"])
            )
            cur["max_seq"] = (
                seq_stats["max"]
                if cur["max_seq"] is None
                else max(cur["max_seq"], seq_stats["max"])
            )

    snap = lake.snapshot()
    metrics = {"rows_appended": n_appended, "new_mode_conflicts": n_conflicts}
    version = lake.commit(
        new_files, snap["files"], operation="append-delta", batch_id=batch_id,
        metrics=metrics,
    )
    return {
        "version": version,
        "metrics": metrics,
        "noop": False,
        "errors": None,
        "lineage": lineage,
    }


def compact(
    spark: SparkSession,
    lake: LakeTable,
    drop_tombstones_below_seq: int | None = None,
    buckets: list[int] | None = None,
    min_delta_files: int | None = None,
) -> int:
    """Rewrite base ∪ deltas into per-key winners (new base), drop deltas.

    ``drop_tombstones_below_seq``: tombstones with _seq below this watermark
    (e.g. the ledger's per-partition low-water) are physically removed —
    safe once no event below the watermark can still arrive.

    Bucket-targeted compaction (the 100 TB shape — a full-table rewrite
    per cadence is O(table), exactly the cost MoR exists to avoid):

    - ``buckets``: compact only these hash buckets; every other bucket's
      files are CARRIED into the new snapshot untouched.
    - ``min_delta_files``: auto-select buckets holding at least this many
      delta files (driver-side manifest scan, no job).  ``1`` means
      "every delta-bearing bucket, nothing else" — the in-loop setting:
      a bucket no batch touched is never rewritten.

    Keys hash to exactly one bucket, so per-bucket resolution is complete
    for the keys it covers.  With a restriction, GC is opportunistic: a
    dead tombstone in a SKIPPED bucket's base survives until that bucket
    next compacts (space amplification only — reads filter tombstones).
    Both None (default): full rewrite, tombstone GC everywhere.
    """
    schema = lake.schema()
    if min_delta_files is not None and buckets is None:
        per_bucket: dict[int, int] = {}
        for f in lake.delta_files():
            per_bucket[f["bucket"]] = per_bucket.get(f["bucket"], 0) + 1
        buckets = sorted(
            b for b, n in per_bucket.items() if n >= min_delta_files
        )
        if not buckets:
            return lake.latest_version()  # nothing ripe: no-op
    # always the kernel, deltas or not: its output is already laid out one
    # bucket per partition, so the write needs no second payload shuffle
    winners = _winner_rows(
        _lww_groups(lake.read(spark, buckets=buckets), lake)
    )
    if drop_tombstones_below_seq is not None:
        winners = winners.filter(
            (F.col("_op") != OP_DELETE)
            | (F.col("_seq") >= drop_tombstones_below_seq)
        )
    out = _align(winners, schema)
    new_version = lake.latest_version() + 1
    if buckets is None:
        carried: list[dict] = []
        n_compacted = len(lake.snapshot()["files"])
    else:
        bset = set(buckets)
        snap_files = lake.snapshot()["files"]
        carried = [f for f in snap_files if f["bucket"] not in bset]
        n_compacted = len(snap_files) - len(carried)
    new_files = lake.write_data_files(out, new_version, schema, role="base")
    return lake.commit(new_files, carried, operation="compact", metrics={
        "files_compacted": n_compacted,
    })
