"""Checkpoint ledger: resumable replay state with per-partition lineage.

Mirrors, set-oriented, what the reference keeps as in-memory counters and
log lines (data_loader.py:168-177,341-363) plus SQS's delete-after-success
contract (file_loader.py:441-445).

Storage is APPEND-ONLY at scale (round-2 VERDICT flaw #1: the old single
``state.json`` re-serialized every batch record ever on every batch —
O(B²) cumulative driver cost at 10^5–10^6 micro-batches):

- ``segments/seg-NNNNNN.jsonl``: one appended JSON line per applied batch
  ({batch_id, version, metrics, lineage}); segments rotate at
  ``SEGMENT_ROTATE`` records so no single file grows unboundedly.
- ``head.json`` (atomic rename, BOUNDED size): cumulative totals, the
  range-compressed applied-id set, the per-bucket low-water marks
  (maintained incrementally — reading them never scans history), failure/
  retry state, and the applied-record count per segment.

Per-batch ledger cost is therefore O(1): one segment append + one
bounded-size head rewrite.  Crash between the two is healed on load by
re-folding segment lines beyond the head's recorded count (idempotent;
the lake's committed_batch_ids remains the commit source of truth — the
ledger is a cache/index, never a second commit point).  A torn tail line
from a crash mid-append is skipped.
"""

from __future__ import annotations

import json
import logging
import os
import uuid

from ..plans.batchids import BatchIdSet

log = logging.getLogger(__name__)

SEGMENT_ROTATE = 1000


class CheckpointLedger:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)
        self.seg_dir = os.path.join(root, "segments")
        os.makedirs(self.seg_dir, exist_ok=True)
        self.head_path = os.path.join(root, "head.json")
        self.legacy_path = os.path.join(root, "state.json")
        self._head: dict | None = None  # single-writer in-memory cache

    # -- head ---------------------------------------------------------------

    def _empty_head(self) -> dict:
        return {
            "applied": BatchIdSet().to_json(),
            "n_applied": 0,
            "totals": {},
            "failures": {},
            "low_water": {},
            # per SOURCE partition max applied seq (opt-in: folded only
            # when the pipeline passes src_partitions — see
            # CDCPipeline(source_partition_col=...))
            "source_low_water": {},
            # batch_id -> min seq of that batch's row-level quarantined
            # (validation-failed) rows.  An outstanding entry caps the
            # tombstone-GC watermark: the documented workflow re-submits
            # fixed rows at their ORIGINAL seq, so a tombstone above that
            # seq must survive until the hold is released
            # (resolve_quarantined) or it could be GC'd and the re-submit
            # would resurrect the deleted row.
            "quarantined_rows": {},
            "segments": {},  # seg name -> records folded into this head
        }

    def _load_head(self) -> dict:
        if self._head is not None:
            return self._head
        if not os.path.exists(self.head_path):
            head = self._migrate_legacy() or self._empty_head()
        else:
            with open(self.head_path) as fh:
                head = json.load(fh)
        self._heal(head)
        self._head = head
        return head

    def _migrate_legacy(self) -> dict | None:
        """Fold a pre-segmentation ``state.json`` into head + one segment."""
        if not os.path.exists(self.legacy_path):
            return None
        with open(self.legacy_path) as fh:
            state = json.load(fh)
        head = self._empty_head()
        head["failures"] = state.get("failures") or {}
        seg = os.path.join(self.seg_dir, "seg-000000.jsonl")
        with open(seg, "a") as fh:
            for bid in state.get("applied") or []:
                rec = (state.get("batches") or {}).get(bid) or {}
                line = {
                    "batch_id": bid,
                    "version": rec.get("version"),
                    "metrics": rec.get("metrics") or {},
                    "lineage": rec.get("lineage") or {},
                }
                fh.write(json.dumps(line) + "\n")
                self._fold(head, line)
            fh.flush()
            os.fsync(fh.fileno())
        head["segments"]["seg-000000.jsonl"] = head["n_applied"]
        self._save_head(head)
        os.rename(self.legacy_path, self.legacy_path + ".migrated")
        return head

    def _save_head(self, head: dict) -> None:
        tmp = os.path.join(self.root, f".tmp-{uuid.uuid4().hex}.json")
        with open(tmp, "w") as fh:
            json.dump(head, fh)
            fh.flush()
            os.fsync(fh.fileno())
        os.rename(tmp, self.head_path)

    @staticmethod
    def _fold(head: dict, line: dict) -> bool:
        """Incorporate one applied-batch record into the head (idempotent)."""
        applied = BatchIdSet.from_json(head["applied"])
        if not applied.add(line["batch_id"]):
            return False
        head["applied"] = applied.to_json()
        head["n_applied"] += 1
        for k, v in (line.get("metrics") or {}).items():
            if isinstance(v, (int, float)):
                head["totals"][k] = head["totals"].get(k, 0) + v
        for bucket, info in (line.get("lineage") or {}).items():
            ms = (info or {}).get("max_seq")
            if ms is None:
                continue
            cur = head["low_water"].get(bucket)
            if cur is None or ms > cur:
                head["low_water"][bucket] = ms
        slw = head.setdefault("source_low_water", {})
        for part, ms in (line.get("src_partitions") or {}).items():
            if ms is None:
                continue
            cur = slw.get(part)
            if cur is None or ms > cur:
                slw[part] = ms
        if line.get("quarantined_min") is not None:
            head.setdefault("quarantined_rows", {})[line["batch_id"]] = line[
                "quarantined_min"
            ]
        head["failures"].pop(line["batch_id"], None)
        return True

    def _heal(self, head: dict) -> None:
        """Fold segment lines the head hasn't incorporated (crash between
        segment append and head write); skip a torn tail line.

        Runs once per process (the head is cached after) and only touches
        segments the head doesn't fully know: the current tail segment and
        any segment missing from the head entirely — rotated segments with
        a recorded count are immutable history and are never re-read.
        """
        segs = sorted(
            s for s in os.listdir(self.seg_dir) if s.endswith(".jsonl")
        )
        dirty = False
        for seg in segs:
            known = head["segments"].get(seg)
            if known is not None and seg != segs[-1]:
                continue  # rotated + fully recorded: immutable
            known = known or 0
            lines = self._read_segment(seg, repair=True)
            for line in lines[known:]:
                self._fold(head, line)
                dirty = True
            if len(lines) > known:
                # never LOWER a recorded count: fewer parseable lines than
                # the head knows means mid-file corruption (see
                # _read_segment) — shrinking the count would misindex
                # future appends against the healed history
                head["segments"][seg] = len(lines)
                dirty = True
        if dirty:
            self._save_head(head)

    def _parse_segment(self, seg: str) -> tuple[list[dict], int, int]:
        """(records, clean_bytes, total_bytes): parse stops at the first
        line that is unparseable or lacks its trailing newline."""
        out = []
        clean = 0  # bytes up to and including the last good newline
        with open(os.path.join(self.seg_dir, seg), "rb") as fh:
            data = fh.read()
        for raw_line in data.splitlines(keepends=True):
            if not raw_line.endswith(b"\n"):
                break  # no newline = incomplete write: torn, even if it parses
            raw = raw_line.strip()
            if raw:
                try:
                    out.append(json.loads(raw))
                except json.JSONDecodeError:
                    break  # unparseable: tail-torn or corrupt
            clean += len(raw_line)
        return out, clean, len(data)

    def _read_segment(self, seg: str, repair: bool = False) -> list[dict]:
        """Parse a segment's records.  ``repair=True`` (heal path) also
        repairs crash artifacts:

        - a torn TAIL fragment (a crash can only tear the last line) is
          TRUNCATED so the next append starts a clean line — otherwise it
          would concatenate into a garbage line hiding every later record;
        - an unparseable line with MORE complete lines after it is
          mid-file corruption (bit rot), not a crash: committed history is
          never deleted — the segment is RETIRED (renamed ``*.corrupt``,
          its head-folded totals survive) so future appends start a fresh
          segment instead of landing beyond an unreadable region.
        """
        lines, clean, total = self._parse_segment(seg)
        if repair and clean < total:
            path = os.path.join(self.seg_dir, seg)
            with open(path, "rb") as fh:
                fh.seek(clean)
                remainder = fh.read()
            if b"\n" in remainder[:-1] or remainder.endswith(b"\n"):
                os.rename(path, path + ".corrupt")
                log.error(
                    "ledger segment %s is corrupt mid-file at byte %d; "
                    "retired as %s.corrupt — head totals are preserved, "
                    "per-batch detail beyond the damage is gone; the "
                    "lake's committed_batch_ids remains the commit source "
                    "of truth", seg, clean, seg,
                )
            else:
                with open(path, "r+b") as fh:
                    fh.truncate(clean)
        return lines

    def _current_segment(self, head: dict) -> str:
        segs = sorted(head["segments"]) or ["seg-000000.jsonl"]
        last = segs[-1]
        rotated = head["segments"].get(last, 0) >= SEGMENT_ROTATE
        # a retired (renamed *.corrupt) segment keeps its head entry but
        # must never be recreated under its old name — rotate past it
        missing = bool(head["segments"]) and not os.path.exists(
            os.path.join(self.seg_dir, last)
        )
        if rotated or missing:
            last = f"seg-{len(segs):06d}.jsonl"
        return last

    # -- public API ----------------------------------------------------------

    def applied(self) -> list[str]:
        return list(BatchIdSet.from_json(self._load_head()["applied"]))

    def is_applied(self, batch_id) -> bool:
        return str(batch_id) in BatchIdSet.from_json(self._load_head()["applied"])

    def batch_record(self, batch_id) -> dict | None:
        """Full record lookup — scans segments newest-first (audit path,
        not the hot loop)."""
        bid = str(batch_id)
        for seg in sorted(
            (s for s in os.listdir(self.seg_dir) if s.endswith(".jsonl")),
            reverse=True,
        ):
            for line in reversed(self._read_segment(seg)):
                if line["batch_id"] == bid:
                    return {
                        "version": line.get("version"),
                        "metrics": line.get("metrics") or {},
                        "lineage": line.get("lineage") or {},
                    }
        return None

    def totals(self) -> dict:
        return dict(self._load_head()["totals"])

    def record(
        self, batch_id, version: int, metrics: dict,
        lineage: dict | None = None, src_partitions: dict | None = None,
        quarantined_min=None,
    ) -> None:
        head = self._load_head()
        bid = str(batch_id)
        if bid in BatchIdSet.from_json(head["applied"]):
            return
        line = {
            "batch_id": bid,
            "version": version,
            "metrics": metrics or {},
            "lineage": lineage or {},
        }
        if src_partitions:
            line["src_partitions"] = {
                str(k): v for k, v in src_partitions.items()
            }
        if quarantined_min is not None:
            line["quarantined_min"] = int(quarantined_min)
        seg = self._current_segment(head)
        with open(os.path.join(self.seg_dir, seg), "a") as fh:
            fh.write(json.dumps(line) + "\n")
            fh.flush()
            os.fsync(fh.fileno())
        self._fold(head, line)
        head["segments"][seg] = head["segments"].get(seg, 0) + 1
        self._save_head(head)

    # -- retry-with-TTL (§2.9; reference file_copier.py:324-330 analogue:
    # a message re-delivered past its retry budget is parked, not re-run) --

    def record_failure(self, batch_id, error: str, retry_ttl: int) -> bool:
        """Count one failed attempt; returns True once the batch is
        quarantined (attempts >= retry_ttl).  Persisted, so retries survive
        crash/resume."""
        head = self._load_head()
        rec = head["failures"].setdefault(
            str(batch_id), {"retries": 0, "errors": [], "quarantined": False}
        )
        rec["retries"] += 1
        rec["errors"] = (rec["errors"] + [str(error)[:500]])[-5:]
        rec["quarantined"] = rec["retries"] >= retry_ttl
        self._save_head(head)
        return rec["quarantined"]

    def is_quarantined(self, batch_id) -> bool:
        rec = self._load_head()["failures"].get(str(batch_id))
        return bool(rec and rec.get("quarantined"))

    def failures(self) -> dict:
        return dict(self._load_head()["failures"])

    def low_water(self) -> dict:
        """Per-bucket max applied seq — the resume watermark analogue.
        Maintained incrementally in the head: O(buckets) to read, never a
        history scan."""
        return dict(self._load_head()["low_water"])

    def source_low_water(self) -> dict:
        """Per SOURCE partition max applied seq (empty unless the pipeline
        records src_partitions).  min(values) bounds every future event
        under per-partition monotone appends."""
        return dict(self._load_head().get("source_low_water", {}))

    # -- row-level quarantine holds (tombstone-GC safety) --------------------

    def quarantine_holds(self) -> dict:
        """{batch_id: min quarantined seq} for every batch with outstanding
        row-level quarantined (validation-failed) rows."""
        return dict(self._load_head().get("quarantined_rows", {}))

    def quarantine_floor(self):
        """Min seq over all outstanding quarantined rows, or None.

        The tombstone-GC watermark must not pass this: the documented
        fix-and-resubmit workflow re-applies a quarantined row at its
        ORIGINAL seq, and a tombstone with a higher seq must still be
        present to beat it (advice round 4: a quarantined seq BELOW the
        partition's applied max otherwise let the watermark overrun it).
        """
        holds = self._load_head().get("quarantined_rows", {})
        return min(holds.values()) if holds else None

    def resolve_quarantined(self, batch_id) -> bool:
        """Release a batch's quarantine hold after its rows were re-applied
        (fixed re-submit landed) or dropped.  Returns True if a hold
        existed.  Persisted, so the release survives crash/resume."""
        head = self._load_head()
        existed = (
            head.setdefault("quarantined_rows", {}).pop(str(batch_id), None)
            is not None
        )
        if existed:
            self._save_head(head)
        return existed
