"""Spans around calls into the engine's modules, and what they attribute.

The engine is not instrumented.  In a traced run, :func:`install` replaces
public callables with wrappers *where their callers bind them* (for
example ``streaming.cdc.append_delta``, which ``cdc.py`` imports by name)
and the benchmark opens its own spans around the calls it makes directly.

A span is kept in memory as (name, start, end, parent, run id) and written
out when the run ends.  Each span sets a Spark job group, and the Spark
event log (enabled only in traced runs) is parsed afterwards, so jobs,
tasks, shuffle bytes and spill land on the innermost span that was open
when Spark ran them.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import re
import time
from collections import defaultdict

# spans reported in every traced run, whether or not a workload opens them
SPANS = [
    "cdc.run",
    "cdc.apply_batch",
    "merge.append_delta",
    "merge.compact",
    "merge.merge_into",
    "lake.write_data_files",
    "lake.commit",
    "ledger.record",
    "merge.read_state",
    "feed.poll",
    "feed.stream_bootstrap",
]
MEASURES = {
    "calls": "count",
    "self_s": "s",
    "jobs": "count",
    "tasks": "count",
    "shuffle_write_bytes": "B",
    "spill_bytes": "B",
    "task_max_s": "s",
}
TOP = "pb-top"


class NoTracer:
    """Untraced runs: spans cost one attribute lookup and a null context."""

    active = False

    def span(self, name):
        return contextlib.nullcontext()

    def alias_group(self, group):
        pass


class Tracer:
    """Spans are recorded only while ``active`` (the measured loop), so
    set-up and verification never reach the per-layer numbers."""

    def __init__(self, sc, run_id: str):
        self.active = False
        self.sc = sc
        self.run_id = run_id
        self.spans: list[list] = []  # [name, start, end, parent, run_id]
        self.stack: list[int] = []
        self.group_alias: dict[str, int] = {}
        sc.setJobGroup(TOP, "perfbench")

    def span(self, name: str):
        if not self.active:
            return contextlib.nullcontext()
        return self._span(name)

    @contextlib.contextmanager
    def _span(self, name: str):
        sid = len(self.spans)
        parent = self.stack[-1] if self.stack else None
        rec = [name, time.perf_counter(), None, parent, self.run_id]
        self.spans.append(rec)
        self.stack.append(sid)
        self.sc.setJobGroup(f"pb{sid}", name)
        try:
            yield sid
        finally:
            rec[2] = time.perf_counter()
            self.stack.pop()
            self.sc.setJobGroup(
                f"pb{self.stack[-1]}" if self.stack else TOP, "perfbench"
            )

    def alias_group(self, group: str) -> None:
        """Attribute jobs Spark runs under its own job group (a streaming
        query's run id) to the innermost open span."""
        if self.active and self.stack:
            self.group_alias[group] = self.stack[-1]

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for i, (name, s, e, parent, run_id) in enumerate(self.spans):
                fh.write(json.dumps({"id": i, "name": name, "start": s,
                                     "end": e, "parent": parent,
                                     "run_id": run_id}) + "\n")

    def covered(self, t0: float, t1: float) -> float:
        """Wall inside [t0, t1] covered by top-level spans."""
        return sum(
            max(0.0, min(e, t1) - max(s, t0))
            for _n, s, e, parent, _r in self.spans
            if parent is None and e is not None
        )

    def layer_metrics(self, event_log_dir: str | None) -> dict:
        """{span.measure: value} for every name in SPANS."""
        child = defaultdict(float)
        for _n, s, e, parent, _r in self.spans:
            if parent is not None:
                child[parent] += e - s
        out = {f"{n}.{m}": 0.0 for n in SPANS for m in MEASURES}
        for i, (name, s, e, _p, _r) in enumerate(self.spans):
            if name not in SPANS:
                continue
            out[f"{name}.calls"] += 1
            out[f"{name}.self_s"] += (e - s) - child[i]
        for gid, st in _job_stats(event_log_dir).items():
            sid = self.group_alias.get(gid)
            if sid is None and gid.startswith("pb") and gid[2:].isdigit():
                sid = int(gid[2:])
            if sid is None or self.spans[sid][0] not in SPANS:
                continue
            name = self.spans[sid][0]
            for m in ("jobs", "tasks", "shuffle_write_bytes", "spill_bytes"):
                out[f"{name}.{m}"] += st[m]
            out[f"{name}.task_max_s"] = max(out[f"{name}.task_max_s"],
                                            st["task_max_s"])
        return out


def _job_stats(event_log_dir: str | None) -> dict:
    """Per job group: jobs, tasks, shuffle bytes written, bytes spilled and
    the longest task, from Spark's JSON event log."""
    stats: dict = defaultdict(lambda: defaultdict(float))
    if not event_log_dir:
        return stats
    stage_group: dict[int, str] = {}
    # Spark 4 writes a rolling log: a directory of event files per app
    # (events_<n>_<app>, in order of n) beside status and checksum files
    paths = sorted(
        (os.path.join(d, f) for d, _dirs, files in os.walk(event_log_dir)
         for f in files if f.startswith("events_")),
        key=lambda p: [int(t) if t.isdigit() else t for t in re.split(r"(\d+)", p)],
    )
    for path in paths:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    gid = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if gid is None:
                        continue
                    stats[gid]["jobs"] += 1
                    for st in ev.get("Stage IDs", []):
                        stage_group[st] = gid
                elif kind == "SparkListenerTaskEnd":
                    gid = stage_group.get(ev.get("Stage ID"))
                    if gid is None:
                        continue
                    info = ev.get("Task Info") or {}
                    tm = ev.get("Task Metrics") or {}
                    s = stats[gid]
                    s["tasks"] += 1
                    s["shuffle_write_bytes"] += (
                        tm.get("Shuffle Write Metrics") or {}
                    ).get("Shuffle Bytes Written", 0)
                    s["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                        "Disk Bytes Spilled", 0
                    )
                    dur = (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1e3
                    s["task_max_s"] = max(s["task_max_s"], dur)
    return stats


def _wrap(owner, attr: str, name: str, tracer: Tracer, before=None, after=None):
    orig = getattr(owner, attr)

    @functools.wraps(orig)
    def wrapper(*args, **kwargs):
        if not tracer.active:
            return orig(*args, **kwargs)
        state = before(args, kwargs) if before else None
        with tracer.span(name):
            res = orig(*args, **kwargs)
        if after:
            after(args, kwargs, res, state)
        return res

    setattr(owner, attr, wrapper)
    return orig


def install(tracer: Tracer, counts: dict) -> list:
    """Wrap the engine's public callables; returns what to restore."""
    from icdc_dataloader_spark.plans import lake as lake_mod
    from icdc_dataloader_spark.streaming import cdc, ledger

    def snapshot_files(args, kwargs):
        lk = args[1]
        return {f["path"] for f in lk.snapshot()["files"]}

    def compacted(args, kwargs, res, before):
        lk = args[1]
        new = [f for f in lk.snapshot()["files"] if f["path"] not in before]
        counts["merge.compact.bytes_rewritten"] += sum(
            os.path.getsize(os.path.join(lk.root, f["path"])) for f in new
        )
        counts["merge.compact.buckets_rewritten"] += len({f["bucket"] for f in new})

    def written(args, kwargs, res, state):
        lk = args[0]
        counts["lake.bytes_written"] += sum(
            os.path.getsize(os.path.join(lk.root, f["path"])) for f in res
        )

    targets = [
        (cdc.CDCPipeline, "run", "cdc.run", None, None),
        (cdc.CDCPipeline, "apply_batch", "cdc.apply_batch", None, None),
        (cdc, "append_delta", "merge.append_delta", None, None),
        (cdc, "compact", "merge.compact", snapshot_files, compacted),
        (cdc, "merge_into", "merge.merge_into", None, None),
        (lake_mod.LakeTable, "write_data_files", "lake.write_data_files", None, written),
        (lake_mod.LakeTable, "commit", "lake.commit", None, None),
        (ledger.CheckpointLedger, "record", "ledger.record", None, None),
    ]
    return [
        (owner, attr, _wrap(owner, attr, name, tracer, before, after))
        for owner, attr, name, before, after in targets
    ]


def uninstall(saved: list) -> None:
    for owner, attr, orig in saved:
        setattr(owner, attr, orig)
