"""Streaming front-end for the lake's incremental change feed.

`plans/merge.changes_between` is the batch consume-side API (Iceberg
incremental-read analogue).  This module lets a consumer TAIL the feed:

1. :class:`ChangeFeedConsumer` — a checkpointed cursor + poll loop over
   the native DataFrame path.  This is the 100 TB shape: each poll is one
   `changes_between` call (manifest-diff bucket pruning, each changed
   bucket's files read once, both snapshots' LWW winners taken in one
   JVM-side kernel pass), and the cursor advances only on consumer commit
   (at-least-once delivery; consumers are expected to be idempotent by
   version range — the same contract the write side keeps per batch_id).

2. :class:`LakeChangeFeedDataSource` — a Spark 4 Python streaming data
   source (``spark.readStream.format("lake_change_feed")``) so the feed
   composes with Structured Streaming checkpoints/sinks.  Offsets are
   lake VERSIONS; each micro-batch's input partitions are the CHANGED
   BUCKETS of (start, end] (driver-side manifest diff — untouched buckets
   are never opened), and each partition takes its bucket's diff in
   ``changes_between``'s one-pass form, in Arrow inside the worker: each
   file read once, both snapshots' winners from one grouping, no join.
   Keys hash to exactly one bucket, so the per-bucket diff is complete
   and the union over partitions equals ``changes_between`` row-for-row
   (pinned by tests/test_change_feed_stream.py and the LWW property
   test).

Reference analogue: consumers of the loader's graph reading what a load
changed (the visit/relationship audit stats the loader prints,
data_loader.py load metrics) — here as a first-class resumable stream.
"""

from __future__ import annotations

import json
import os
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.pandas.types import to_arrow_schema

from ..plans.lake import LakeTable
from ..plans.merge import (
    INTERNAL_COLS, OP_DELETE, _file_diff, changes_between,
)


# ---------------------------------------------------------------------------
# 1. Driver-side cursor consumer (the scale path)
# ---------------------------------------------------------------------------


class ChangeFeedConsumer:
    """Checkpointed incremental consumer of a lake table's change feed.

    ``poll()`` returns the feed DataFrame spanning (cursor, latest] plus
    the version range; the caller processes it durably, then calls
    ``commit(v_to)``.  A crash between poll and commit re-delivers the
    same range — at-least-once, idempotent by (v_from, v_to].
    """

    def __init__(self, lake: LakeTable, checkpoint_dir: str,
                 start_version: int | None = None):
        self.lake = lake
        self.root = checkpoint_dir
        os.makedirs(checkpoint_dir, exist_ok=True)
        self.path = os.path.join(checkpoint_dir, "cursor.json")
        if not os.path.exists(self.path):
            v0 = (lake.latest_version() if start_version is None
                  else start_version)
            self._write(v0)

    def position(self) -> int:
        with open(self.path) as fh:
            return json.load(fh)["version"]

    def _write(self, version: int) -> None:
        tmp = os.path.join(self.root, f".tmp-{uuid.uuid4().hex}")
        with open(tmp, "w") as fh:
            json.dump({"version": int(version)}, fh)
            fh.flush()
            os.fsync(fh.fileno())
        os.rename(tmp, self.path)

    def poll(self, spark: SparkSession) -> dict | None:
        """Next unconsumed increment, or None when caught up."""
        v_from = self.position()
        v_to = self.lake.latest_version()
        if v_to is None or v_to <= v_from:
            return None
        return {
            "v_from": v_from,
            "v_to": v_to,
            "df": changes_between(spark, self.lake, v_from, v_to),
        }

    def commit(self, v_to: int) -> None:
        """Durably advance the cursor — call AFTER processing the poll."""
        if v_to > self.position():
            self._write(v_to)


# ---------------------------------------------------------------------------
# 2. Structured Streaming source (spark.readStream.format("lake_change_feed"))
# ---------------------------------------------------------------------------


@dataclass
class _BucketDiffPartition(InputPartition):
    """One changed bucket's diff task (picklable; carries the file list
    so workers never read manifests)."""

    bucket: int
    files: list = field(default_factory=list)  # [(abs_path, in_old, in_new)]
    schema: object = None  # pa.Schema: every column read, at v_to's types
    key_cols: list = field(default_factory=list)
    tiebreakers: list = field(default_factory=list)
    payload_cols: list = field(default_factory=list)


def _row_groups(files: list, schema, skip_old: set):
    """Each file's rows, one row group at a time, aligned to ``schema``
    (a column missing from an older file is NULL, a widened one cast, as
    ``lake._align`` does) and flagged ``_in_old``/``_in_new``.  Files only
    in ``v_from`` skip the ``skip_old`` columns (NULL)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    for path, in_old, in_new in files:
        pf = pq.ParquetFile(path)
        have = set(pf.schema_arrow.names)
        read = [f.name for f in schema
                if f.name in have and (in_new or f.name not in skip_old)]
        for i in range(pf.num_row_groups):
            rg = pf.read_row_group(i, columns=read)
            n = rg.num_rows
            yield pa.table(
                [rg[f.name].cast(f.type) if f.name in read
                 else pa.nulls(n, f.type) for f in schema]
                + [pa.repeat(in_old, n), pa.repeat(in_new, n)],
                names=[*schema.names, "_in_old", "_in_new"],
            )


def _lww_fold(chunks, key_cols: list[str], tiebreakers: list[str]):
    """Both snapshots' per-key LWW winners over ``chunks``, folded one
    chunk at a time: ``(rows, won)``, where ``rows`` is sorted by
    :func:`operators.dedup.lww_order_key`'s order and ``won`` holds per
    key the row number in ``rows`` of the old (``_o_max``) and new
    (``_n_max``) winner, NULL when the key has no row in that snapshot.

    Each step is a stable sort on ``(_seq, *tiebreakers)`` with NULL
    first (Spark's struct order), then one grouping whose two aggregates
    are the max row number masked by each flag.  Only winning rows carry
    into the next step, so memory is O(live keys + one chunk); the order
    is total, so folding equals one reduction over every row (an exact
    tie keeps the later chunk's row).  NULL key components group
    together, as in the JVM kernel.  ``(None, None)`` for no chunks."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    rows = won = None
    for chunk in chunks:
        if won is not None:
            keep = np.zeros(rows.num_rows, dtype=bool)
            for c in ("_o_max", "_n_max"):
                keep[pc.drop_null(won[c]).to_numpy()] = True
            chunk = pa.concat_tables([rows.filter(keep), chunk])
        rows = chunk.take(pc.sort_indices(
            chunk, [(c, "ascending") for c in ("_seq", *tiebreakers)],
            null_placement="at_start",
        ))
        rn = pa.array(np.arange(rows.num_rows, dtype=np.int64))
        null = pa.scalar(None, pa.int64())
        won = pa.table({
            **{k: rows[k] for k in key_cols},
            "_o": pc.if_else(rows["_in_old"], rn, null),
            "_n": pc.if_else(rows["_in_new"], rn, null),
        }).group_by(key_cols).aggregate([("_o", "max"), ("_n", "max")])
    return rows, won


class LakeChangeFeedDataSource(DataSource):
    """``spark.readStream.format("lake_change_feed").option("path", root)``.

    Options:

    - ``path`` (required): LakeTable root directory.
    - ``startVersion`` (optional): feed starts AFTER this version
      (exclusive).  Default: the latest version at stream start (future
      changes only).

    Offsets are lake versions — monotone, replayable, and exactly the
    unit the write side commits — so Structured Streaming's checkpoint
    gives resume-where-you-left-off for free and a replayed epoch
    recomputes the identical (v_from, v_to] diff (snapshots are
    immutable until vacuum).
    """

    @classmethod
    def name(cls) -> str:
        return "lake_change_feed"

    def schema(self) -> T.StructType:
        return feed_schema(LakeTable(self.options["path"]))

    def streamReader(self, schema: T.StructType) -> "LakeChangeFeedReader":
        return LakeChangeFeedReader(self.options, schema)


def feed_schema(lake: LakeTable) -> T.StructType:
    """The feed's row schema at the lake's CURRENT version:
    key columns, change_type, then payload columns."""
    key_cols = lake.key_cols()
    fields = []
    by_name = {f.name: f for f in lake.schema().fields}
    for k in key_cols:
        fields.append(by_name[k])
    fields.append(T.StructField("change_type", T.StringType(), True))
    for f in lake.schema().fields:
        if f.name not in key_cols and f.name not in INTERNAL_COLS:
            fields.append(f)
    return T.StructType(fields)


class LakeChangeFeedReader(DataSourceStreamReader):
    def __init__(self, options, schema: T.StructType | None = None):
        self.root = options["path"]
        self.start = options.get("startVersion")
        self.lake = LakeTable(self.root)
        # The stream's row arity is FIXED at the schema declared when the
        # stream started; if the lake evolves mid-stream the new columns
        # must NOT appear in emitted rows (Spark kills the query with
        # DATA_SOURCE_RETURN_SCHEMA_MISMATCH otherwise).  Restart the
        # stream to pick up added columns — the same contract as file
        # sources.
        self.declared_schema = (
            schema if schema is not None else feed_schema(self.lake)
        )

    def initialOffset(self) -> dict:
        v = (int(self.start) if self.start is not None
             else (self.lake.latest_version() or 0))
        return {"version": v}

    def latestOffset(self) -> dict:
        return {"version": self.lake.latest_version() or 0}

    def partitions(self, start: dict, end: dict):
        import pyarrow as pa

        v_from, v_to = start["version"], end["version"]
        if v_to <= v_from:
            return []
        lake = self.lake
        # same contract as changes_between: a stream that lagged past
        # vacuum retention must fail clearly, not crash on missing files
        # mid-read (best-effort at plan time, see ensure_retained)
        lake.ensure_retained(
            v_from,
            hint="Restart the stream with a fresh checkpoint after "
                 "re-bootstrapping from the table.",
        )
        key_cols = lake.key_cols()
        tiebreakers = lake.tiebreakers()
        # payload columns come from the schema declared at stream start,
        # NOT lake.schema(v_to): mid-stream evolution must not change the
        # emitted row arity (see __init__).  Rows are read at v_to's types
        # (a declared column v_to lacks keeps its declared type) and cast
        # to the declared ones on emit.
        payload_cols = [
            f.name for f in self.declared_schema.fields
            if f.name not in key_cols and f.name != "change_type"
        ]
        types = {f.name: f for f in to_arrow_schema(self.declared_schema)}
        types.update({f.name: f for f in to_arrow_schema(lake.schema(v_to))})
        schema = pa.schema([types[c] for c in dict.fromkeys(
            [*key_cols, "_seq", "_op", *tiebreakers, *payload_cols]
        )])
        old, new, changed = _file_diff(lake, v_from, v_to)
        files: dict[int, list] = {b: [] for b in sorted(changed)}
        for path, f in {**old, **new}.items():
            if f["bucket"] in files:
                files[f["bucket"]].append(
                    (os.path.join(lake.root, path), path in old, path in new)
                )
        return [
            _BucketDiffPartition(
                bucket=b,
                files=fs,
                schema=schema,
                key_cols=key_cols,
                tiebreakers=tiebreakers,
                payload_cols=payload_cols,
            )
            for b, fs in files.items()
        ]

    # rows per emitted Arrow batch: large enough to amortize the
    # per-batch boundary cost, small enough to bound the serialized batch
    ARROW_BATCH_ROWS = 32_768

    def read(self, partition: _BucketDiffPartition):
        """The bucket's diff in ``changes_between``'s one-pass form: each
        file read once, both winners per key from one grouping (no join),
        classified as the JVM kernel does, emitted as Arrow batches."""
        import pyarrow as pa
        import pyarrow.compute as pc

        p = partition
        rows, won = _lww_fold(
            _row_groups(p.files, p.schema,
                        set(p.payload_cols) - set(p.tiebreakers)),
            p.key_cols, p.tiebreakers,
        )
        if rows is None:
            return
        old, new = won["_o_max"], won["_n_max"]

        def live(idx):
            return pc.fill_null(
                pc.not_equal(rows["_op"].take(idx), OP_DELETE), False)

        old_live, new_live = live(old), live(new)
        moved = pc.fill_null(
            pc.not_equal(rows["_seq"].take(new), rows["_seq"].take(old)),
            False)
        change = pc.case_when(
            pc.make_struct(pc.and_not(new_live, old_live),
                           pc.and_not(old_live, new_live),
                           pc.and_(new_live, moved)),
            "insert", "delete", "update",
        )
        out = pa.table({
            **{k: won[k] for k in p.key_cols},
            "change_type": change,
            **{c: pc.if_else(new_live, rows[c].take(new),
                             pa.scalar(None, rows[c].type))
               for c in p.payload_cols},
        }).filter(pc.is_valid(change))
        # the datasource API ships Arrow batches to the JVM wholesale; the
        # batch schema must match the declared source schema exactly
        out = out.cast(to_arrow_schema(self.declared_schema))
        yield from out.combine_chunks().to_batches(self.ARROW_BATCH_ROWS)

    def commit(self, end: dict) -> None:
        pass  # Structured Streaming's checkpoint owns the offset


def register_change_feed_source(spark: SparkSession) -> None:
    spark.dataSource.register(LakeChangeFeedDataSource)


def read_change_feed_stream(
    spark: SparkSession, lake_root: str, start_version: int | None = None
) -> DataFrame:
    """Convenience: register the source and open the streaming feed."""
    register_change_feed_source(spark)
    reader = spark.readStream.format("lake_change_feed").option(
        "path", lake_root
    )
    if start_version is not None:
        reader = reader.option("startVersion", str(start_version))
    return reader.load()
