"""Layered benchmark of the CDC engine and its headline queries.

    python3 perfbench/run.py --workload tail_mor --seed 1 --seconds 5 --trace 0

Runs one workload at local[nproc] from the checkout it lives in, checks
every output against an oracle, and prints one JSON object as the last
line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the
workload with spans around the engine's modules and reports the per-layer
metrics instead.  Inputs are generated from ``--seed`` and cached under
``.perfbench/`` in the checkout; scratch state lives there too and is
removed when the run ends.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import shutil
import sys
import traceback
import uuid

from common import ROOT, Context, cores, ensure_inputs, now

START = now()

# BENCHMARK.json lists tail_mor and doc_queries; cow_burst (the only
# workload on merge_into) is run by hand, see README.md
WORKLOADS = ("tail_mor", "doc_queries", "cow_burst")

END_TO_END = {
    "setup_s": "s",
    "rows_per_cpu_s": "rows/cpu-s",
    "op_cpu_p50_s": "cpu-s",
    "read_cpu_mean_s": "cpu-s",
}


def layer_units(query_names: list[str]) -> dict:
    from spans import MEASURES, SPANS

    units = {f"{s}.{m}": u for s in SPANS for m, u in MEASURES.items()}
    units.update({
        "cdc.rows_quarantined": "count",
        "cdc.superseded_share": "ratio",
        "merge.new_mode_conflicts": "count",
        "merge.compact.bytes_rewritten": "B",
        "merge.compact.buckets_rewritten": "count",
        "lake.meta_bytes_per_commit": "B/commit",
        "ledger.bytes_per_record": "B/record",
        "lake.delta_files_at_read": "count",
        "feed.buckets_per_poll": "count",
        "lake.bytes_per_event": "B/event",
        "lake.write_bytes_per_event": "B/event",
    })
    for q in query_names:
        units[f"queries.{q}.first_s"] = "s"
        units[f"queries.{q}.warm_s"] = "s"
    units.update({
        "bulk_mor.eps_nproc": "events/s",
        "bulk_mor.eps_1core": "events/s",
        "bulk_mor.scaling_1to_nproc": "ratio",
        "wall.rows_per_s": "rows/s",
        "wall.op_p50_s": "s",
        "wall.read_p50_s": "s",
        "yardstick.wall_s": "s",
        "yardstick.cpu_s": "cpu-s",
        "trace.op_cpu_p50_s": "cpu-s",
        "jvm.jit_cpu_s": "cpu-s",
        "trace.uncovered_share": "ratio",
        "mem.peak_rss_mb": "MB",
    })
    return units


def _engine_present() -> bool:
    return os.path.isdir(os.path.join(ROOT, "icdc_dataloader_spark")) and os.path.isfile(
        os.path.join(ROOT, "bench.py")
    )


def _workload_fn(name: str):
    if name == "doc_queries":
        from query_workload import doc_queries

        return doc_queries
    import cdc_workloads

    return getattr(cdc_workloads, name)


def run(ctx: Context) -> None:
    from common import jvm_pid, session_conf, start_session, stop_jvm, vm_hwm_mb
    import spans

    saved = []
    try:
        t = now()
        ctx.phases["inputs_ready"] = t
        ctx.spark = start_session(ctx.cores, session_conf(ctx.work, ctx.event_log_dir))
        ctx.session_s = now() - t
        ctx.find_jit_threads()
        if ctx.trace:
            ctx.tracer = spans.Tracer(ctx.spark.sparkContext, uuid.uuid4().hex[:12])
            saved = spans.install(ctx.tracer, ctx.counts)
        else:
            ctx.tracer = spans.NoTracer()
        _workload_fn(ctx.workload)(ctx)
        ctx.layer["mem.peak_rss_mb"] = vm_hwm_mb(jvm_pid()) + vm_hwm_mb(os.getpid())
        ctx.phases["checked"] = now()
    finally:
        spans.uninstall(saved)
        stop_jvm()
        ctx.phases["jvm_stopped"] = now()
    if ctx.trace:
        t0, t1 = ctx.loop_wall
        covered = ctx.tracer.covered(t0, t1)
        ctx.layer.update(ctx.tracer.layer_metrics(ctx.event_log_dir))
        ctx.layer.update(ctx.counts)
        ctx.layer["trace.op_cpu_p50_s"] = ctx.e2e["op_cpu_p50_s"]
        ctx.layer["trace.uncovered_share"] = ((t1 - t0) - covered) / (t1 - t0)
        out = os.path.join(ROOT, ".perfbench", "traces")
        os.makedirs(out, exist_ok=True)
        ctx.tracer.write(os.path.join(
            out, f"{ctx.workload}-s{ctx.seed}-{ctx.tracer.run_id}.jsonl"))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="Layered CDC-engine benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not _engine_present():
        print(f"perfbench: no engine source beside {os.path.dirname(__file__)}",
              file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, "work", f"{args.workload}-{os.getpid()}")
    # keyed by the generator's source too, so editing inputs.py never
    # reuses inputs or oracle answers made by an older version
    with open(os.path.join(os.path.dirname(__file__), "inputs.py"), "rb") as fh:
        version = hashlib.sha1(fh.read()).hexdigest()[:10]
    cache = os.path.join(base, "cache", f"{args.workload}-s{args.seed}-{version}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)

    ctx = Context(workload=args.workload, seed=args.seed, seconds=args.seconds,
                  cores=cores(), cache=cache, work=work, trace=bool(args.trace),
                  event_log_dir=os.path.join(work, "eventlog") if args.trace else None)
    if ctx.event_log_dir:
        os.makedirs(ctx.event_log_dir)
    try:
        ensure_inputs(args.workload, args.seed, cache)
        run(ctx)
    except Exception:  # noqa: BLE001 - reported as a failed run
        traceback.print_exc()
        ctx.failed += 1
        ctx.attempted += 1
        ctx.problems.append("exception")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    from inputs import headline_queries

    if args.trace:
        units = layer_units(headline_queries())
        values = {k: ctx.layer.get(k, 0.0) for k in units}
    else:
        units = END_TO_END
        values = {k: ctx.e2e.get(k) for k in units}
    ctx.samples["phases_s"] = {k: t - START for k, t in ctx.phases.items()}
    print(json.dumps(ctx.samples), file=sys.stderr)
    for p in ctx.problems:
        print(f"perfbench: FAILED {p}", file=sys.stderr)
    values = {k: None if v is None or math.isnan(v) else v for k, v in values.items()}
    correct = ctx.failed == 0 and all(v is not None for v in values.values())
    print(json.dumps({
        "correct": correct,
        "attempted": max(1, ctx.attempted),
        "failed": ctx.failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
