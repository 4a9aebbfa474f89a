"""Snapshot lake table — Iceberg-shaped, implemented from scratch on Parquet.

No Iceberg/Delta jars exist in this sandbox (verified: stock Spark jars
only), so the table layer the north rule requires is implemented natively:

- directory = table; ``data/v{N}/_pb={b}/part-*.parquet`` data files;
  ``_log/v{N:012d}.json`` snapshot manifests, committed by atomic
  ``os.rename`` (single-writer; a real deployment swaps in an Iceberg
  catalog — the API mirrors its semantics on purpose).
- a snapshot lists data files with per-file stats (rows, bucket, ``_seq``
  min/max, which give a delta's lineage without a Spark job); MERGE
  prunes by bucket, the Spark analogue of the reference's id-field
  indexes (create_index.py:60-95).  File entries live
  in immutable per-bucket MANIFEST files (``_log/manifests/``); a snapshot
  holds only the manifest paths per bucket, so a commit writes one small
  manifest for its additions and re-references untouched buckets' lists
  verbatim — per-commit metadata write cost is O(new files + touched
  buckets), never O(table files) (the Iceberg manifest-list construction).
- ``committed_batch_ids`` (cumulative) makes batch application idempotent:
  re-applying a committed batch is a no-op — the lineage of the reference's
  delete-SQS-message-only-after-success (file_loader.py:441-445).  Stored
  range-compressed (plans/batchids.py): near-monotonic ids serialize as
  O(#discontinuities) per commit instead of O(batches so far).
- schema evolution: a snapshot carries its own schema; files written under
  older schemas are reconciled at read time (missing columns -> NULL, safe
  widenings cast) — **no rewrite** (north rule: add/widen without rewrite).
  The reference's analogue is MERGE SET absorbing new model props
  (SURVEY.md §1.4).
- time travel: read any retained snapshot version — replaces the
  reference's pre-load backups (data_loader.py:67-113): a backup is just
  the previous snapshot.

Data layout: rows are hash-bucketed by key (``_bucket = pmod(xxhash64(keys),
n_buckets)``) and data files never span buckets, so MERGE touches only the
buckets present in a batch and joins co-locate by bucket.
"""

from __future__ import annotations

import json
import logging
import os
import re
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .batchids import BatchIdSet

log = logging.getLogger(__name__)

_LOG_RE = re.compile(r"^v(\d{12})\.json$")

# commits writing more files than this gather footer stats via a Spark job
# (executors read footer slices) instead of a driver thread pool
FOOTER_JOB_THRESHOLD = 512


def bucket_expr(key_cols: list[str], n_buckets: int):
    return F.pmod(F.xxhash64(*[F.col(c) for c in key_cols]), F.lit(n_buckets)).cast(
        "int"
    )


class LakeTable:
    """A versioned, bucketed Parquet table with atomic snapshot commits."""

    def __init__(self, root: str):
        self.root = root
        self.log_dir = os.path.join(root, "_log")
        self.manifest_dir = os.path.join(self.log_dir, "manifests")
        # snapshots and manifests are immutable once linked into the log,
        # so per-version / per-path caches are safe across writers
        self._snapshot_cache: dict[int, dict] = {}
        self._files_cache: dict[int, list] = {}
        self._manifest_cache: dict[str, list] = {}
        self._latest: int | None = None
        self._layout_exprs: dict[tuple, object] = {}

    # -- creation / snapshot plumbing ---------------------------------------

    @classmethod
    def create(
        cls,
        root: str,
        schema: T.StructType,
        key_cols: list[str],
        n_buckets: int = 16,
        tiebreakers: list[str] | None = None,
        bucket_cols: list[str] | None = None,
    ) -> "LakeTable":
        """``bucket_cols`` (default = key_cols): the hash-bucketing columns.
        A PREFIX/subset of the key lets point lookups on those columns
        bucket-prune — e.g. an edge table keyed (child, rel, parent) but
        bucketed by child co-locates every edge of a child, so re-parent
        lookups by (child, rel) read one bucket instead of the table."""
        if bucket_cols is not None and not set(bucket_cols) <= set(key_cols):
            raise ValueError("bucket_cols must be a subset of key_cols")
        t = cls(root)
        os.makedirs(t.log_dir, exist_ok=True)
        if t.latest_version() is not None:
            return t
        t._write_snapshot(
            version=0,
            snapshot={
                "version": 0,
                "parent": None,
                "operation": "create",
                "schema": schema.json(),
                "key_cols": list(key_cols),
                "bucket_cols": list(bucket_cols or key_cols),
                "tiebreakers": list(tiebreakers or []),
                "n_buckets": n_buckets,
                "manifests": {},
                "batch_id": None,
                "committed_batch_ids": BatchIdSet().to_json(),
                "metrics": {},
                "ts": time.time(),
            },
        )
        return t

    def _log_path(self, version: int) -> str:
        return os.path.join(self.log_dir, f"v{version:012d}.json")

    def latest_version(self) -> int | None:
        """Newest committed version, probed forward from the last one seen:
        two ``stat`` calls per steady-state call instead of a listing of
        ``_log``, which holds one JSON per commit ever made.  Versions are
        dense (each commit links exactly ``prev + 1`` and vacuum keeps the
        snapshot JSONs), so the first missing ``v{V+k}`` ends the probe.
        A vanished ``v{V}`` means the log was replaced under this
        instance: list it again and drop the version-keyed caches."""
        v = self._latest
        if v is None or not os.path.exists(self._log_path(v)):
            self._snapshot_cache.clear()
            self._files_cache.clear()
            if not os.path.isdir(self.log_dir):
                return None
            versions = [
                int(m.group(1))
                for f in os.listdir(self.log_dir)
                if (m := _LOG_RE.match(f))
            ]
            if not versions:
                return None
            v = max(versions)
        while os.path.exists(self._log_path(v + 1)):
            v += 1
        self._latest = v
        return v

    def _raw_snapshot(self, version: int | None = None) -> dict:
        v = self.latest_version() if version is None else version
        if v is None:
            raise FileNotFoundError(f"no snapshots in {self.root}")
        cached = self._snapshot_cache.get(v)
        if cached is None:
            with open(self._log_path(v)) as fh:
                cached = json.load(fh)
            self._snapshot_cache[v] = cached
            # bound driver memory over 10^5-commit runs: only recent
            # versions stay cached (older reads just re-open the JSON)
            for old in sorted(self._snapshot_cache)[:-4]:
                self._snapshot_cache.pop(old, None)
                self._files_cache.pop(old, None)
        return cached

    def snapshot(self, version: int | None = None) -> dict:
        """Snapshot dict with ``files`` resolved from its bucket manifests
        (legacy inline-``files`` snapshots pass through unchanged)."""
        raw = self._raw_snapshot(version)
        snap = dict(raw)
        if "files" in snap:
            snap["files"] = list(snap["files"])
            return snap
        v = snap["version"]
        files = self._files_cache.get(v)
        if files is None:
            files = [
                e
                for bucket in sorted(snap.get("manifests") or {})
                for mp in snap["manifests"][bucket]
                for e in self._load_manifest(mp)
            ]
            self._files_cache[v] = files
        snap["files"] = list(files)
        return snap

    # -- manifest files (immutable, content shared across snapshots) ---------

    def _load_manifest(self, relpath: str) -> list[dict]:
        entries = self._manifest_cache.get(relpath)
        if entries is None:
            with open(os.path.join(self.root, relpath)) as fh:
                doc = json.load(fh)
            schemas = doc.get("schemas") or []
            entries = doc["entries"]
            for e in entries:
                if "schema_idx" in e:
                    e["schema"] = schemas[e.pop("schema_idx")]
            self._manifest_cache[relpath] = entries
            if len(self._manifest_cache) > 512:  # bound driver memory
                for k in list(self._manifest_cache)[:256]:
                    del self._manifest_cache[k]
        return entries

    def _write_manifest(self, entries: list[dict]) -> str:
        """Write one immutable manifest; schema JSON strings are interned
        (every entry of a write shares one schema — without interning each
        file entry repeats a ~1 KB schema string)."""
        os.makedirs(self.manifest_dir, exist_ok=True)
        schemas: list[str] = []
        idx: dict[str, int] = {}
        out = []
        for e in entries:
            e2 = dict(e)
            s = e2.pop("schema", None)
            if s is not None:
                if s not in idx:
                    idx[s] = len(schemas)
                    schemas.append(s)
                e2["schema_idx"] = idx[s]
            out.append(e2)
        name = f"m-{uuid.uuid4().hex}.json"
        full = os.path.join(self.manifest_dir, name)
        with open(full, "w") as fh:
            json.dump({"schemas": schemas, "entries": out}, fh)
            fh.flush()
            os.fsync(fh.fileno())
        relpath = os.path.relpath(full, self.root)
        self._manifest_cache[relpath] = list(entries)
        return relpath

    def _build_manifests(self, prev_raw: dict, all_files: list[dict]) -> dict:
        """Per-bucket manifest lists for a new snapshot.

        A bucket whose file set is unchanged re-references the parent's
        manifest list; a bucket that only GAINED files appends ONE manifest
        holding the additions; anything else (compaction, rewrite) gets a
        fresh single manifest.  Write cost per commit is therefore
        O(added files + changed buckets), independent of table history.
        """
        new_by_bucket: dict[str, list[dict]] = {}
        for f in all_files:
            new_by_bucket.setdefault(str(f["bucket"]), []).append(f)
        prev_manifests = prev_raw.get("manifests")
        if prev_manifests is None:
            # legacy snapshot with inline files: treat as no reusable lists
            prev_manifests = {}
        out: dict[str, list[str]] = {}
        for bucket, entries in new_by_bucket.items():
            prev_list = prev_manifests.get(bucket) or []
            # compare full ENTRIES, not just paths: a commit that edits an
            # entry's stats/rows/role in place must not silently reuse the
            # old manifest and drop the correction
            prev_entries = {
                e["path"]: e
                for mp in prev_list
                for e in self._load_manifest(mp)
            }
            unchanged = {
                e["path"]
                for e in entries
                if prev_entries.get(e["path"]) == e
            }
            new_paths = {e["path"] for e in entries}
            if new_paths == set(prev_entries) == unchanged:
                out[bucket] = list(prev_list)
            elif prev_list and set(prev_entries) <= unchanged:
                added = [e for e in entries if e["path"] not in prev_entries]
                out[bucket] = self._tiered_merge(
                    list(prev_list) + [self._write_manifest(added)]
                )
            else:
                out[bucket] = [self._write_manifest(entries)]
        return out

    def _tiered_merge(self, mlist: list[str]) -> list[str]:
        """Size-tiered manifest compaction (binary-counter / LSM shape):
        merge the newest manifest into its predecessor while it has grown
        to the predecessor's size.  Keeps a bucket's manifest list at
        O(log appends) length with amortized O(log appends) rewrite cost —
        a plain append-per-commit list would put B relpaths in every
        snapshot after B commits (linear snapshot growth again)."""
        while len(mlist) >= 2 and (
            len(self._load_manifest(mlist[-1]))
            >= len(self._load_manifest(mlist[-2]))
        ):
            merged = self._load_manifest(mlist[-2]) + self._load_manifest(
                mlist[-1]
            )
            mlist = mlist[:-2] + [self._write_manifest(merged)]
        return mlist

    def _write_snapshot(self, version: int, snapshot: dict) -> None:
        tmp = os.path.join(self.log_dir, f".tmp-{uuid.uuid4().hex}.json")
        final = self._log_path(version)
        with open(tmp, "w") as fh:
            json.dump(snapshot, fh)
            fh.flush()
            os.fsync(fh.fileno())
        # single-writer commit point: link() FAILS if the version already
        # exists (rename would silently replace it), so when two writers
        # race the version counter exactly one wins and the loser gets a
        # clean, loud error with zero corrupted snapshots — the local-FS
        # analogue of an Iceberg catalog's atomic compare-and-swap.
        try:
            os.link(tmp, final)
        except FileExistsError:
            raise RuntimeError(
                f"snapshot v{version} already exists (concurrent writer "
                f"won the commit race in {self.log_dir}); re-read the "
                "table and retry the commit"
            ) from None
        finally:
            try:
                os.unlink(tmp)
            except OSError:
                pass

    # -- properties ----------------------------------------------------------

    def schema(self, version: int | None = None) -> T.StructType:
        return T.StructType.fromJson(
            json.loads(self._raw_snapshot(version)["schema"])
        )

    def key_cols(self) -> list[str]:
        return self._raw_snapshot()["key_cols"]

    def n_buckets(self) -> int:
        return self._raw_snapshot()["n_buckets"]

    def bucket_cols(self) -> list[str]:
        snap = self._raw_snapshot()
        return snap.get("bucket_cols") or snap["key_cols"]

    def tiebreakers(self) -> list[str]:
        return self._raw_snapshot().get("tiebreakers", [])

    def layout_exprs(self, name: str, build):
        """``build()``'s Column expressions over this table's bucket layout,
        built once and reused by every batch: PySpark pays several py4j
        round trips per expression node, which per batch would dominate a
        tail commit's driver time.  Keyed by the bucket columns and count
        too, so a root re-created with another layout under a live
        instance rebuilds them."""
        key = (name, tuple(self.bucket_cols()), self.n_buckets())
        exprs = self._layout_exprs.get(key)
        if exprs is None:
            exprs = self._layout_exprs[key] = build()
        return exprs

    def delta_files(self, version: int | None = None) -> list[dict]:
        return [
            f for f in self.snapshot(version)["files"] if f.get("role") == "delta"
        ]

    def committed_batch_ids(self) -> BatchIdSet:
        return BatchIdSet.from_json(self._raw_snapshot()["committed_batch_ids"])

    def is_batch_committed(self, batch_id) -> bool:
        return str(batch_id) in self.committed_batch_ids()

    # -- read ----------------------------------------------------------------

    def read(
        self,
        spark: SparkSession,
        version: int | None = None,
        buckets: list[int] | None = None,
    ) -> DataFrame:
        """Read a snapshot, reconciling per-file schemas to the snapshot schema.

        ``buckets`` restricts the scan to the listed hash buckets (file-level
        pruning: untouched buckets are never opened).
        """
        snap = self.snapshot(version)
        files = snap["files"]
        if buckets is not None:
            bset = set(buckets)
            files = [f for f in files if f["bucket"] in bset]
        return self.read_files(
            spark, files, T.StructType.fromJson(json.loads(snap["schema"]))
        )

    def read_files(
        self, spark: SparkSession, files: list[dict], target: T.StructType
    ) -> DataFrame:
        """Scan these manifest entries, each reconciled to ``target``."""
        if not files:
            return spark.createDataFrame([], target)

        # group files by the schema they were written with; cast each group
        by_schema: dict[str, list[str]] = {}
        for f in files:
            by_schema.setdefault(f["schema"], []).append(
                os.path.join(self.root, f["path"])
            )
        parts = []
        for schema_json, paths in by_schema.items():
            df = spark.read.schema(
                T.StructType.fromJson(json.loads(schema_json))
            ).parquet(*paths)
            parts.append(_align(df, target))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    # -- write / commit ------------------------------------------------------

    def write_data_files(
        self,
        df: DataFrame,
        version: int,
        schema: T.StructType,
        role: str = "base",
        dirname: str | None = None,
    ) -> list[dict]:
        """Write ``df`` (must contain ``_bucket``) as this version's data files.

        Files are partitioned by bucket (dir ``_pb={b}``) while keeping
        ``_bucket`` as a physical column; returns manifest entries with the
        file's ``_seq`` min/max from the Parquet footers — delta lineage
        comes from footers, not extra Spark jobs.
        """
        rel_dir = f"data/{dirname or f'v{version}'}"
        out_dir = os.path.join(self.root, rel_dir)
        (
            df.withColumn("_pb", F.col("_bucket"))
            .write.mode("overwrite")
            .partitionBy("_pb")
            .parquet(out_dir)
        )
        import pyarrow.parquet as pq
        from concurrent.futures import ThreadPoolExecutor

        schema_json = schema.json()
        # footer_entry may be pickled to executors: it must not capture
        # self, whose expression cache holds JVM references
        root = self.root
        targets = []
        for dirpath, _dirs, fnames in os.walk(out_dir):
            m = re.search(r"_pb=(\d+)", dirpath)
            bucket = int(m.group(1)) if m else -1
            for fn in fnames:
                if fn.endswith(".parquet"):
                    targets.append((os.path.join(dirpath, fn), bucket))

        def footer_entry(item):
            full, bucket = item
            md = pq.ParquetFile(full).metadata
            stats = {}
            try:
                # statistics are per LEAF column (a map or struct column
                # spans several leaves), so find _seq by its leaf path
                leaves = [md.schema.column(j).path
                          for j in range(md.num_columns)]
                sts = [
                    md.row_group(i).column(leaves.index("_seq")).statistics
                    for i in range(md.num_row_groups)
                ] if "_seq" in leaves else []
                sts = [st for st in sts if st is not None and st.has_min_max]
                if sts:
                    stats["_seq"] = {"min": min(st.min for st in sts),
                                     "max": max(st.max for st in sts)}
            except Exception:
                # the file is still committed; without stats it
                # contributes no lineage
                log.warning(
                    "footer stats unreadable for %s; committing it without "
                    "stats", full, exc_info=True,
                )
            return {
                "path": os.path.relpath(full, root),
                "rows": md.num_rows,
                "bucket": bucket,
                "schema": schema_json,
                "stats": stats,
                "role": role,
            }

        # footer reads are I/O-bound and independent — fan them out so the
        # driver-side commit cost is ~#files/32, not #files (the round-1
        # serial walk was the Amdahl term blocking scaling efficiency; a
        # real deployment would take these stats from the write committer)
        if len(targets) > FOOTER_JOB_THRESHOLD:
            # a 10^10-event commit can write thousands of files; past
            # this point the footer reads themselves become a job —
            # executors each read a slice of footers (pyarrow is on
            # every worker) and ship back only the manifest dicts.
            # Below it, a driver thread pool is faster than a job
            # round-trip (measured: 32 files ≈ 0.03s pooled).
            sc = df.sparkSession.sparkContext
            n_slices = max(2, min(64, len(targets) // 64))
            entries = (
                sc.parallelize(targets, n_slices)
                .map(footer_entry)
                .collect()
            )
        elif len(targets) > 4:
            with ThreadPoolExecutor(max_workers=32) as pool:
                entries = list(pool.map(footer_entry, targets))
        else:
            entries = [footer_entry(t) for t in targets]
        return entries

    def commit(
        self,
        new_files: list[dict],
        carried_files: list[dict],
        operation: str,
        batch_id=None,
        metrics: dict | None = None,
        schema: T.StructType | None = None,
    ) -> int:
        """Commit a new snapshot. Idempotent per batch_id."""
        prev = self._raw_snapshot()
        committed = BatchIdSet.from_json(prev["committed_batch_ids"])
        if batch_id is not None and str(batch_id) in committed:
            return prev["version"]  # already applied: no-op
        version = prev["version"] + 1
        if batch_id is not None:
            committed.add(str(batch_id))
        self._write_snapshot(
            version,
            {
                "version": version,
                "parent": prev["version"],
                "operation": operation,
                "schema": (schema or self.schema()).json(),
                "key_cols": prev["key_cols"],
                "bucket_cols": prev.get("bucket_cols") or prev["key_cols"],
                "tiebreakers": prev.get("tiebreakers", []),
                "n_buckets": prev["n_buckets"],
                "manifests": self._build_manifests(
                    prev, carried_files + new_files
                ),
                "batch_id": None if batch_id is None else str(batch_id),
                "committed_batch_ids": committed.to_json(),
                "metrics": metrics or {},
                "ts": time.time(),
            },
        )
        return version

    def evolve_schema(self, new_schema: T.StructType, operation: str = "evolve_schema") -> int:
        """Metadata-only schema evolution (add / widen) — no data rewrite.

        Widening is checked: existing columns may only change along
        Int->Float (LongType->DoubleType) or to String; anything else is
        rejected (mirrors safe Iceberg promotions).
        """
        cur = self.schema()
        cur_map = {f.name: f.dataType for f in cur.fields}
        for f in new_schema.fields:
            if f.name in cur_map and cur_map[f.name] != f.dataType:
                ok = (
                    isinstance(cur_map[f.name], (T.LongType, T.IntegerType))
                    and isinstance(f.dataType, T.DoubleType)
                ) or isinstance(f.dataType, T.StringType)
                if not ok:
                    raise ValueError(
                        f"unsafe type change for {f.name}: {cur_map[f.name]} -> {f.dataType}"
                    )
        snap = self.snapshot()
        return self.commit(
            new_files=[],
            carried_files=snap["files"],
            operation=operation,
            schema=new_schema,
        )

    def wipe(self, vacuum_now: bool = True) -> int:
        """J10 (data_loader.py:1189-1220): delete everything in the table.

        The reference wipes in 1000-node delete transactions (wipe_db,
        data_loader.py:1200-1220); under snapshot semantics the whole loop
        collapses to ONE metadata-only commit of an empty file list — O(1)
        regardless of table size.  Old data files are reclaimed by vacuum
        (time travel to pre-wipe versions is gone once vacuumed, matching
        the reference's destructive wipe).
        """
        snap = self.snapshot()
        version = self.commit(
            [],
            [],
            operation="wipe",
            metrics={
                "files_wiped": len(snap["files"]),
                "rows_wiped": sum(f.get("rows", 0) for f in snap["files"]),
            },
        )
        if vacuum_now:
            self.vacuum(keep_last=1)
        return version

    def retained_from(self) -> int:
        """Oldest version whose data files are guaranteed intact — every
        version below this has been vacuumed (its snapshot json survives
        for lineage, but data/manifests may be gone).  0 if never
        vacuumed."""
        p = os.path.join(self.log_dir, "vacuum.json")
        if not os.path.exists(p):
            return 0
        with open(p) as fh:
            return int(json.load(fh)["retained_from"])

    def ensure_retained(self, version: int, hint: str = "") -> None:
        """Raise a clear expired-snapshot error if ``version``'s data may
        have been vacuumed (the Iceberg expired-snapshot analogue).

        Best-effort by design: the check runs at PLAN time, so a vacuum
        racing between planning and execution still surfaces as
        missing-file errors mid-read — size the retention window
        (``keep_last``) above the maximum consumer lag."""
        floor = self.retained_from()
        if version < floor:
            raise ValueError(
                f"snapshot v{version} has been vacuumed: retained "
                f"versions start at v{floor}."
                + (f" {hint}" if hint else "")
            )

    def vacuum(self, keep_last: int = 2) -> None:
        """Delete data dirs (and manifests) referenced only by snapshots
        older than the last N."""
        latest = self.latest_version()
        if latest is None:
            return
        # clamp the keep range to the existing retention floor: versions
        # below it lost their manifests in an earlier vacuum, so loading
        # their snapshots here (e.g. a later vacuum called with a LARGER
        # keep_last) would crash on the missing files
        new_floor = max(self.retained_from(), max(0, latest - keep_last + 1))
        keep_versions = range(new_floor, latest + 1)
        # record the retention low-water FIRST (monotone): readers of a
        # version below it get a clear expired-snapshot error instead of
        # an obscure missing-file failure mid-scan, even if this vacuum
        # crashes partway through the deletes
        tmp = os.path.join(self.log_dir, f".tmp-vac-{uuid.uuid4().hex}")
        with open(tmp, "w") as fh:
            json.dump({"retained_from": new_floor}, fh)
            fh.flush()
            os.fsync(fh.fileno())
        os.rename(tmp, os.path.join(self.log_dir, "vacuum.json"))
        live = set()
        live_manifests = set()
        for v in keep_versions:
            for f in self.snapshot(v)["files"]:
                live.add(os.path.join(self.root, f["path"]))
            for paths in (self._raw_snapshot(v).get("manifests") or {}).values():
                live_manifests.update(paths)
        data_root = os.path.join(self.root, "data")
        if os.path.isdir(data_root):
            for d in os.listdir(data_root):
                full = os.path.join(data_root, d)
                # FILE granularity, not directory: bucket-targeted
                # compaction carries some of a version dir's files into
                # later snapshots while superseding others — a dir-level
                # check would pin the dead files forever (unbounded space
                # under repeated partial compactions)
                any_live = False
                for dp, _dirs, fns in os.walk(full):
                    for fn in fns:
                        if not fn.endswith(".parquet"):
                            continue
                        p = os.path.join(dp, fn)
                        if p in live:
                            any_live = True
                        else:
                            os.unlink(p)
                if not any_live:
                    shutil.rmtree(full, ignore_errors=True)
                else:
                    # partial compactions supersede SOME of a version dir's
                    # bucket subdirs: after their parquet is unlinked above,
                    # drop the emptied _pb=N subtrees (marker files like
                    # _SUCCESS/.crc included — a parquet-less subdir of a
                    # data dir holds no data) so repeated partial
                    # compactions don't accumulate empty directories
                    for entry in os.listdir(full):
                        sub = os.path.join(full, entry)
                        if not os.path.isdir(sub):
                            continue
                        has_parquet = any(
                            fn.endswith(".parquet")
                            for _dp, _dirs, fns in os.walk(sub)
                            for fn in fns
                        )
                        if not has_parquet:
                            shutil.rmtree(sub, ignore_errors=True)
        if os.path.isdir(self.manifest_dir):
            for fn in os.listdir(self.manifest_dir):
                rel = os.path.relpath(
                    os.path.join(self.manifest_dir, fn), self.root
                )
                if rel not in live_manifests:
                    os.unlink(os.path.join(self.manifest_dir, fn))
                    self._manifest_cache.pop(rel, None)


def _quote(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def _sql_type(t: T.DataType) -> str:
    """``t`` as a SQL type.  Struct field names are quoted; an array's or
    map's element nullability has no SQL spelling, so a cast or NULL of
    such a type comes out with nullable elements."""
    if isinstance(t, T.StructType):
        return "STRUCT<" + ", ".join(
            f"{_quote(f.name)}: {_sql_type(f.dataType)}"
            + ("" if f.nullable else " NOT NULL")
            for f in t.fields
        ) + ">"
    if isinstance(t, T.ArrayType):
        return f"ARRAY<{_sql_type(t.elementType)}>"
    if isinstance(t, T.MapType):
        return f"MAP<{_sql_type(t.keyType)}, {_sql_type(t.valueType)}>"
    return t.simpleString()


def _align(df: DataFrame, target: T.StructType) -> DataFrame:
    """Project/cast df to the target schema (schema-evolution
    reconciliation): a missing column becomes a typed NULL, a widened one
    a cast.  ``df`` itself when it already matches, else one
    ``selectExpr``: a Column per field costs 2-4 wrapped py4j calls, and
    this runs for every staged batch, compaction and file group read."""
    fields = df.schema.fields
    if [(f.name, f.dataType) for f in fields] == [
        (f.name, f.dataType) for f in target.fields
    ]:
        return df
    have = {f.name: f.dataType for f in fields}
    exprs = []
    for f in target.fields:
        name = _quote(f.name)
        if have.get(f.name) == f.dataType:
            exprs.append(name)
        else:
            src = name if f.name in have else "NULL"
            exprs.append(f"CAST({src} AS {_sql_type(f.dataType)}) AS {name}")
    return df.selectExpr(*exprs)
