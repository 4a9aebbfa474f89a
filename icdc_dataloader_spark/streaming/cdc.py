"""CDC tail pipeline: event batches -> validate -> LWW dedup -> MERGE -> commit.

The set-oriented successor of the reference's two ingest paths:

- batch load (loader.py / data_loader.py:267-372): check files -> validate
  all -> (backup) -> load nodes -> load relationships, one Cypher per row;
- SQS tail (file_loader.py:428-472): event -> stage -> validate -> upsert
  -> ack-after-success.

Per micro-batch here:

1. **validate** (vectorized, one scan — operators/validate.py) against the
   model; rows with severity=error are quarantined to the errors table,
   never applied (reference: a file with validation errors is not loaded,
   data_loader.py:255-262).  Delete events only need their key (V7,
   data_loader.py:194-228).
2. **parity column**: ``content_sha256 = sha2(content, 256)`` — the
   per-row invariant the replay is judged on (BASELINE input_hint; the
   reference's analogue is file md5/sha512 hashing, file_loader.py:98-113).
3. **LWW** on the table's order (seq, commit, content_sha256 for the
   repos table — ``LakeTable.tiebreakers``): the COW merge, the MoR
   read-time resolve and compaction all run the one resolve kernel of
   plans/merge.py; the explicit key-salted in-batch pass
   (operators/dedup.py) is available via ``pre_dedup=True`` for
   duplicate-heavy bursts.
4. **MERGE INTO** the lake table (plans/merge.py) — idempotent per
   batch_id, exactly-once via atomic snapshot commit.
5. **ledger**: per-bucket lineage (min/max seq, rows) + metrics recorded
   only after the commit succeeded; resume consults the lake's committed
   batch ids as the source of truth.
"""

from __future__ import annotations

import logging
import os
from functools import cached_property

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..model import Model
from ..operators.dedup import lww_dedup
from ..operators.validate import validation_check_pairs, validation_error_checks
from ..plans.lake import LakeTable, bucket_expr
from ..plans.merge import OP_DELETE, append_delta, compact, merge_into
from .ledger import CheckpointLedger

log = logging.getLogger(__name__)


class CDCPipeline:
    def __init__(
        self,
        spark: SparkSession,
        lake: LakeTable,
        ledger: CheckpointLedger,
        model: Model | None = None,
        node_type: str = "repo_file",
        key_cols: tuple = ("repo", "path"),
        seq_col: str = "seq",
        op_col: str = "op",
        content_col: str = "content",
        error_dir: str | None = None,
        pre_dedup: bool = False,
        strategy: str = "cow",
        compact_every: int = 8,
        retry_ttl: int = 3,
        late_horizon: int | None = 0,
        assume_ordered: bool = False,
        source_partition_col: str | None = None,
    ):
        """``strategy``:

        - 'cow' (copy-on-write): every batch rewrites its touched buckets —
          read-optimized, per-batch cost proportional to the TABLE.
        - 'mor' (merge-on-read): batches append delta files (cost
          proportional to the BATCH); reads resolve the per-key winner;
          compaction every ``compact_every`` batches folds deltas into a
          new base.  Identical final state (tested) — this is the ingest
          path that survives 10^10 events.  A hot bucket's delta write is
          split by AQE's rebalance (see :func:`plans.merge.append_delta`),
          so it may land several files per batch until compaction.

        ``pre_dedup``: explicit in-batch key-salted two-phase LWW before the
        append.  OFF by default for MoR: the read-time resolve/compaction
        aggregation performs the same LWW anyway, so pre-dedup pays two
        extra full-payload shuffles per batch and only helps when batches
        are extremely duplicate-heavy (hot-key bursts) — turn it on there
        to bound delta size by the batch's key count.

        ``late_horizon``: the source's cross-drain lateness contract, which
        gates tombstone GC during in-loop compaction.  A delete tombstone
        at seq *t* may be physically dropped only once no upsert with
        seq < *t* can ever arrive.  Events already visible in the binlog
        are handled EXACTLY (the drain tracks the min seq of every not-yet-
        applied batch and never GCs past it); events from *future* drains
        are covered by this contract: "a future event's seq is never lower
        than (min over buckets of the max applied seq) − late_horizon".
        0 (default) requires a SINGLE GLOBALLY-MONOTONE binlog sequence
        (MySQL GTID order, Postgres LSN, a Kafka single-partition offset):
        every future event's seq strictly exceeds every applied one.
        Per-partition monotonicity is NOT enough — a lagging source
        partition may later deliver lower seqs than another partition's
        applied max, and GC at 0 could drop a tombstone a late upsert
        still needs (resurrecting a deleted row).  For a multi-partition
        source with independent per-partition sequences, either set
        ``source_partition_col`` (below — per-partition watermarks make
        late_horizon=0 safe under per-partition monotonicity), set
        ``late_horizon`` to a bound on cross-partition seq lag, or
        ``None`` (no contract — tombstones retained forever; call
        :func:`plans.merge.compact` with an explicit watermark to reclaim
        them).

        ``source_partition_col``: name of a metadata column carrying the
        source partition id (Kafka partition, shard, binlog stream).  When
        set, the ledger tracks the max applied seq PER SOURCE PARTITION
        and tombstone GC bounds future events by min over partitions —
        ``late_horizon=0`` then only requires per-partition monotone
        appends (the natural multi-partition binlog model) instead of a
        single global sequence.  Contract: the partition set is fixed and
        every partition appears in the stream; a quiet partition pins the
        watermark (the standard idle-partition behavior — safe, just
        delays GC).  The column is metadata: it is dropped before the
        merge and never reaches the lake schema.  Costs one tiny
        per-batch aggregate (groupBy(partition).max(seq)).
        """
        self.spark = spark
        self.lake = lake
        self.ledger = ledger
        self.model = model
        self.node_type = node_type
        self.key_cols = list(key_cols)
        self.seq_col = seq_col
        self.op_col = op_col
        self.content_col = content_col
        self.error_dir = error_dir
        self.pre_dedup = pre_dedup
        if strategy not in ("cow", "mor"):
            raise ValueError(f"unknown strategy: {strategy}")
        self.strategy = strategy
        self.compact_every = compact_every
        self.retry_ttl = retry_ttl
        self.late_horizon = late_horizon
        self.source_partition_col = source_partition_col
        # ``assume_ordered``: the caller vouches that apply_batch() is fed
        # batches in source order (a Structured Streaming foreachBatch epoch
        # sequence qualifies — stream.py sets this), so tombstone GC may use
        # the late_horizon contract even without run()'s pending-batch map.
        # Direct out-of-order callers keep the safe default (no GC).
        self.assume_ordered = assume_ordered
        self._batches_since_compact = 0
        # _annotate_fast's expressions per input column set
        self._fast_exprs: dict[tuple, dict] = {}
        # min event seq of every binlog batch not yet applied, maintained by
        # run(); bounds the tombstone-GC watermark exactly for in-flight data
        self._pending_mins: dict[str, int] = {}

    # -- single batch ---------------------------------------------------------

    def _annotate(self, batch_df: DataFrame) -> DataFrame:
        """ONE projection computing everything per-row: validation errors
        (op-aware: deletes only need their key, V7), the sha256 parity
        column, and the hash bucket.  No joins, no second scan."""
        err_struct = (
            "struct<property:string,value:string,reason:string,severity:string>"
        )
        checks = []
        if self.model is not None:
            checks = validation_error_checks(batch_df, self.node_type, self.model)
        upsert_errs = (
            F.filter(F.array(*checks), lambda x: x.isNotNull())
            if checks
            else F.array().cast(f"array<{err_struct}>")
        )
        delete_errs = F.when(
            self._key_null(),
            F.array(
                F.struct(
                    F.lit(",".join(self.key_cols)).alias("property"),
                    F.lit(None).cast("string").alias("value"),
                    F.lit("delete_missing_id").alias("reason"),
                    F.lit("error").alias("severity"),
                )
            ),
        ).otherwise(F.array().cast(f"array<{err_struct}>"))
        is_delete = F.col(self.op_col) == OP_DELETE
        return (
            batch_df.withColumn(
                "_errs", F.when(is_delete, delete_errs).otherwise(upsert_errs)
            )
            .withColumn(
                "content_sha256",
                F.when(
                    ~is_delete,
                    F.sha2(F.coalesce(F.col(self.content_col), F.lit("")), 256),
                ),
            )
            .withColumn("_bucket", bucket_expr(self.key_cols, self.lake.n_buckets()))
        )

    def _key_null(self) -> F.Column:
        key_null = F.lit(False)
        for k in self.key_cols:
            key_null = key_null | F.col(k).isNull()
        return key_null

    def _annotate_fast(self, batch_df: DataFrame) -> DataFrame:
        """Hot-path variant of :meth:`_annotate`: the apply path only needs
        a PER-ROW BOOLEAN (quarantine or not) — the counts and the min
        quarantined seq are aggregates of it.  The same check CONDITIONS
        (one source of truth: validation_check_pairs) are OR-ed into one
        codegen'd boolean ``_bad``; the error structs are only built on the
        rare quarantine path, which still calls :meth:`_annotate`.  A
        condition evaluating NULL means "no violation" (matches F.when's
        false-on-NULL in the _errs form), hence the coalesce.

        The ``_bad``, ``content_sha256`` and ``_bucket`` expressions depend
        only on which columns the batch has, so they are built once per
        column set and applied in one ``withColumns``.  Building them costs
        about 1,500 py4j round trips (PySpark wraps every Column call with
        call-site capture), more driver time than the rest of a tail
        commit's planning."""
        cols = tuple(batch_df.columns)
        exprs = self._fast_exprs.get(cols)
        if exprs is None:
            bad = F.lit(False)
            if self.model is not None:
                for cond, _err in validation_check_pairs(
                    batch_df, self.node_type, self.model
                ):
                    bad = bad | cond
            is_delete = F.col(self.op_col) == OP_DELETE
            exprs = self._fast_exprs[cols] = {
                "_bad": F.when(is_delete, self._key_null()).otherwise(
                    F.coalesce(bad, F.lit(False))
                ),
                "content_sha256": F.when(
                    ~is_delete,
                    F.sha2(F.coalesce(F.col(self.content_col), F.lit("")), 256),
                ),
                "_bucket": bucket_expr(self.key_cols, self.lake.n_buckets()),
            }
        return batch_df.withColumns(exprs)

    @cached_property
    def _quarantine_exprs(self) -> tuple[list[F.Column], F.Column]:
        """The quarantine observation's aggregates and the keep-filter over
        ``_bad``, built once per pipeline (see :meth:`_annotate_fast`)."""
        bad = F.col("_bad")
        return [
            F.sum(F.when(bad, 1).otherwise(0)).alias("n_bad"),
            # min seq over quarantined rows: a GC-watermark hold (recorded
            # in the ledger) — free, same observation the write job fills
            F.min(F.when(bad, F.col(self.seq_col))).alias("min_bad_seq"),
        ], ~bad

    def _heal_ledger(self, batch_df: DataFrame, bid: str) -> None:
        """Re-record a batch the lake committed but the ledger missed
        (crash between commit and record).  Metrics/lineage are lost —
        conservative for watermarks (they simply don't advance) — but the
        quarantine hold is SAFETY-critical and is recomputed here: without
        it the GC watermark could overrun a quarantined seq and drop a
        tombstone the fix-and-resubmit workflow still needs.  One
        aggregation job on a rare crash-heal path."""
        # FAIL-CLOSED: if the hold computation errors (even transiently —
        # executor lost, momentary IO), the exception must propagate.
        # record() early-returns for already-applied batch ids, so a
        # fail-open record-with-None here would discard the hold
        # PERMANENTLY; propagating leaves is_applied(bid) false and the
        # next drain retries the heal.
        ann = self._annotate(batch_df)
        bad_min = (
            ann.filter(F.size("_errs") > 0)
            .agg(F.min(self.seq_col).alias("m"))
            .collect()[0]["m"]
        )
        self.ledger.record(
            bid, self.lake.snapshot()["version"], {}, {},
            quarantined_min=bad_min,
        )

    def apply_batch(self, batch_df: DataFrame, batch_id) -> dict:
        bid = str(batch_id)
        if self.lake.is_batch_committed(bid):
            # heal the ledger after a crash between commit and record
            if not self.ledger.is_applied(bid):
                self._heal_ledger(batch_df, bid)
            return {"batch_id": bid, "noop": True}

        from pyspark.sql import Observation

        src_partitions = None
        spc = (
            self.source_partition_col
            if self.source_partition_col
            and self.source_partition_col in batch_df.columns
            else None
        )

        aggs, keep = self._quarantine_exprs
        obs = Observation()
        valid = (
            self._annotate_fast(batch_df)
            .observe(obs, *aggs)
            .filter(keep)
            .drop("_bad")
        )
        if spc:
            # per-source-partition max seq over APPLIED rows only (tiny
            # agg: one row per partition).  Quarantined rows must not
            # advance the watermark — the reference workflow fixes and
            # re-submits them at their ORIGINAL seq, and a watermark that
            # overran a quarantined seq could GC a tombstone the re-submit
            # still needs.  Exclusion alone is NOT sufficient when an
            # applied row in the same partition has a higher seq: the
            # ledger additionally records the batch's min quarantined seq
            # as a hold that caps _gc_watermark until resolve_quarantined
            # releases it (advice round 4).  The column is binlog
            # metadata: dropped here, never reaches the lake schema.
            src_partitions = {
                str(r["p"]): r["ms"]
                for r in valid.groupBy(F.col(spc).alias("p"))
                .agg(F.max(self.seq_col).alias("ms"))
                .collect()
                if r["ms"] is not None
            }
            valid = valid.drop(spc)
        if self.pre_dedup and self.strategy != "mor":  # mor dedups inside append
            valid = lww_dedup(
                valid,
                self.key_cols,
                seq_col=self.seq_col,
                tiebreakers=self.lake.tiebreakers(),
                strategy="salted",
            )
        staged = valid.withColumnsRenamed({self.seq_col: "_seq", self.op_col: "_op"})
        merge_err_sink = None
        if self.error_dir:
            merge_out = os.path.join(self.error_dir, f"batch={bid}-merge")
            merge_err_sink = lambda df: df.write.mode("overwrite").parquet(merge_out)

        if self.strategy == "mor":
            # the write is the only action (one job for a one-split batch,
            # else <= 2 under AQE): it fills the quarantine observation;
            # lineage comes from parquet footers
            res = append_delta(
                self.spark,
                self.lake,
                staged,
                batch_id=bid,
                error_sink=merge_err_sink,
                pre_dedup=self.pre_dedup,
            )
            lineage = res.get("lineage") or {}
            self._batches_since_compact += 1
            if self._batches_since_compact >= self.compact_every:
                # bucket-targeted: only delta-bearing buckets rewrite;
                # a bucket no batch touched costs nothing (at 10^10
                # events a full-table rewrite per cadence is the
                # O(table) term MoR exists to avoid)
                compact(
                    self.spark,
                    self.lake,
                    drop_tombstones_below_seq=self._gc_watermark(),
                    min_delta_files=1,
                )
                self._batches_since_compact = 0
        else:
            res = merge_into(
                self.spark,
                self.lake,
                staged,
                batch_id=bid,
                error_sink=merge_err_sink,
            )
            lineage = res.get("lineage") or {}

        n_errors = int(obs.get.get("n_bad") or 0)
        # quarantined rows -> error table (recomputed; rare path)
        if self.error_dir and n_errors:
            errors = (
                self._annotate(batch_df)
                .filter(F.size("_errs") > 0)
                .select(
                    F.col(self.seq_col).cast("long").alias("row_id"),
                    F.explode("_errs").alias("e"),
                )
                .select("row_id", "e.property", "e.value", "e.reason", "e.severity")
            )
            out = os.path.join(self.error_dir, f"batch={bid}")
            errors.write.mode("overwrite").parquet(out)

        metrics = dict(res["metrics"])
        metrics["rows_quarantined"] = n_errors
        min_bad = obs.get.get("min_bad_seq") if n_errors else None
        self.ledger.record(
            bid, res["version"], metrics, lineage,
            src_partitions=src_partitions,
            quarantined_min=min_bad,
        )
        return {
            "batch_id": bid,
            "noop": False,
            "version": res["version"],
            "metrics": metrics,
        }

    # -- tombstone GC watermark ------------------------------------------------

    def _gc_watermark(self) -> int | None:
        """Highest seq below which delete tombstones are provably dead.

        Two bounds, take the min:

        - **exact, in-flight**: the min seq of every binlog batch listed but
          not yet applied (``_pending_mins``, maintained by :meth:`run`) —
          an arrival-shuffled source (later batch, lower seqs) can never
          lose a tombstone it still needs;
        - **contractual, future**: minus ``late_horizon``, either min over
          SOURCE partitions of the max applied seq (when
          ``source_partition_col`` is set — sufficient under per-partition
          monotone appends) or min over hash buckets of the max applied
          seq (requires a single globally-monotone sequence at
          ``late_horizon=0``).  ``late_horizon=None`` disables GC.

        A tombstone below the result can only be beaten by upserts that are
        themselves above it, so removing it never changes LWW outcomes.
        """
        if self.late_horizon is None:
            return None
        pending = [m for m in self._pending_mins.values() if m is not None]
        if not pending and not self.assume_ordered:
            # only run() maintains the pending-batch bound; a direct
            # apply_batch() caller may deliver batches in any order, so
            # without that bound GC could drop a tombstone an upcoming
            # lower-seq batch still needs — no info, no GC (the streaming
            # front-end opts back in via assume_ordered)
            return None
        if self.source_partition_col:
            # no future event from partition p can carry seq <= its
            # recorded max; min over partitions bounds them ALL — no
            # global-sequence assumption needed
            lw = self.ledger.source_low_water()
        else:
            lw = self.ledger.low_water()
        if not lw:
            return None
        wm = min(lw.values()) - self.late_horizon
        if pending:
            wm = min(wm, min(pending))
        # exact bound #2: outstanding row-level quarantined rows.  The
        # fix-and-resubmit workflow re-applies them at their ORIGINAL seq;
        # excluding them from the per-partition max is not enough when an
        # APPLIED row in the same partition carries a higher seq (advice
        # round 4) — the hold persists in the ledger until
        # resolve_quarantined() releases it.
        qf = self.ledger.quarantine_floor()
        return min(wm, qf) if qf is not None else wm

    def resolve_quarantined(self, batch_id) -> bool:
        """Release batch ``batch_id``'s row-quarantine GC hold — call after
        its fixed rows were re-submitted (and applied) or dropped for
        good.  Until then the tombstone-GC watermark stays below the
        batch's min quarantined seq."""
        return self.ledger.resolve_quarantined(batch_id)

    @staticmethod
    def _partition_files(events: DataFrame, batch_col: str) -> dict:
        """{batch_id: [local file paths]} from a batch-partitioned binlog's
        directory layout (driver-side metadata, no job).  Hive partition
        dirs percent-escape special chars (':', ' ', '%') — ids are
        unquoted so callers compare real values.  Empty dict when the
        source is not partitioned by ``batch_col`` or its files cannot be
        listed.  :meth:`run` lists once and hands the result to both the
        drain listing and the watermark footer pass, so they never
        disagree on which batches exist (and ``inputFiles()``, about two
        py4j round trips per file, is paid once per drain)."""
        import re as _re
        from urllib.parse import unquote

        try:
            files = events.inputFiles()
        except Exception:
            log.warning(
                "the binlog's input files could not be listed; falling back "
                "to scans of the batch column", exc_info=True,
            )
            return {}
        by_bid: dict[str, list[str]] = {}
        for f in files:
            m = _re.search(rf"/{_re.escape(batch_col)}=([^/]+)/", f)
            if m:
                local = f[len("file://"):] if f.startswith("file://") else f
                by_bid.setdefault(unquote(m.group(1)), []).append(local)
        return by_bid

    def _pending_min_seqs(self, events: DataFrame, batch_col: str,
                          pending: list, by_bid: dict) -> dict:
        """Min event seq per pending batch — from the parquet footers of
        ``by_bid`` (:meth:`_partition_files`) when it lists every pending
        batch (driver-side, no job), else one column-pruned aggregation."""
        try:
            import pyarrow.parquet as pq
            from concurrent.futures import ThreadPoolExecutor

            if set(map(str, pending)) <= set(by_bid):

                def batch_min(bid):
                    lo = None
                    for path in by_bid[str(bid)]:
                        md = pq.ParquetFile(path).metadata
                        if not md.num_row_groups:
                            continue
                        rg0 = md.row_group(0)
                        idx = {
                            rg0.column(j).path_in_schema: j
                            for j in range(rg0.num_columns)
                        }
                        ci = idx.get(self.seq_col)
                        if ci is None:
                            return None  # no stats: caller falls back
                        for rg in range(md.num_row_groups):
                            st = md.row_group(rg).column(ci).statistics
                            if not (st and st.has_min_max):
                                return None
                            lo = st.min if lo is None else min(lo, st.min)
                    return lo

                with ThreadPoolExecutor(max_workers=32) as pool:
                    mins = dict(zip(pending, pool.map(batch_min, pending)))
                if all(v is not None for v in mins.values()):
                    return {str(k): int(v) for k, v in mins.items()}
        except Exception:
            log.warning(
                "pending-batch min seqs from parquet footers failed; "
                "falling back to an aggregation over the binlog",
                exc_info=True,
            )
        rows = (
            events.filter(F.col(batch_col).isin(list(pending)))
            .groupBy(batch_col)
            .agg(F.min(self.seq_col).alias("_lo"))
            .collect()
        )
        return {str(r[batch_col]): r["_lo"] for r in rows}

    # -- full tail loop ---------------------------------------------------------

    @staticmethod
    def _list_batch_ids(events: DataFrame, batch_col: str,
                        by_bid: dict) -> list:
        """Pending batch ids, WITHOUT scanning the binlog when avoidable.

        A batch-partitioned binlog encodes the ids in its directory layout
        (``by_bid``, see :meth:`_partition_files`).  This (a) removes a
        full-binlog scan per drain and (b) keeps the listing alive when one
        batch contains a corrupt file: the poisoned batch then fails in
        apply and is parked by the retry-TTL instead of killing the whole
        drain.  Non-partitioned sources fall back to a distinct scan.
        """
        if by_bid:
            return sorted(
                by_bid,
                key=lambda v: (0, int(v)) if v.lstrip("-").isdigit() else (1, v),
            )
        return [
            r[0]
            for r in events.select(batch_col).distinct().orderBy(batch_col).collect()
        ]

    def run(
        self,
        events: DataFrame,
        batch_col: str = "batch_id",
        max_batches: int | None = None,
    ) -> dict:
        """Drain all pending batches in batch-id order (resumable).

        ``events`` is the full binlog table; each distinct ``batch_col``
        value is one micro-batch.  Already-committed batches are no-ops.

        Scale note: write the binlog PARTITIONED BY the batch column
        (``events.write.partitionBy(batch_col)``) — the per-batch filter
        then prunes to one partition directory instead of rescanning the
        whole binlog per batch (asserted in tests/test_plans.py).

        Poisoned batches (§2.9 retry-with-TTL, file_copier.py:324-330
        analogue): a batch that keeps failing is retried ``retry_ttl``
        times — the count persists in the ledger across crash/resume —
        then PARKED so it never blocks the drain; parked ids are returned
        under 'quarantined'.
        """
        by_bid = self._partition_files(events, batch_col)
        batch_ids = self._list_batch_ids(events, batch_col, by_bid)
        committed = self.lake.committed_batch_ids()
        pending_all = [b for b in batch_ids if str(b) not in committed]
        # min seq of EVERY unapplied batch (including ones beyond
        # max_batches): the tombstone-GC watermark must never pass an
        # event still waiting in the binlog, regardless of arrival order
        if self.late_horizon is not None and pending_all:
            self._pending_mins = self._pending_min_seqs(
                events, batch_col, pending_all, by_bid
            )
        applied = []
        quarantined = []
        for bid in batch_ids:
            if max_batches is not None and len(applied) >= max_batches:
                break
            if str(bid) in committed:
                # heal the ledger after a crash between snapshot commit and
                # ledger record (same as apply_batch's no-op path, which a
                # skipped batch never reaches) — recomputes the batch's
                # quarantine hold, see _heal_ledger
                if not self.ledger.is_applied(bid):
                    self._heal_ledger(
                        events.filter(F.col(batch_col) == bid).drop(batch_col),
                        str(bid),
                    )
                continue
            if self.ledger.is_quarantined(bid):
                quarantined.append(str(bid))
                continue
            batch = events.filter(F.col(batch_col) == bid).drop(batch_col)
            while True:
                try:
                    applied.append(self.apply_batch(batch, bid))
                    self._pending_mins.pop(str(bid), None)
                    break
                except Exception as e:  # noqa: BLE001 — parked, not hidden
                    if self.ledger.record_failure(bid, repr(e), self.retry_ttl):
                        quarantined.append(str(bid))
                        break
        return {
            "applied": applied,
            "quarantined": quarantined,
            "totals": self.ledger.totals(),
        }
