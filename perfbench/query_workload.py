"""doc_queries: bench.py's HEADLINE queries over seeded TPC-H-style tables.

The first pass is part of set-up (JVM and codegen warm-up); warm passes
follow until the run length is used, at least one.  Every pass's rows
are compared with the DuckDB ``ORACLES`` answer, with a relative float
tolerance: summation order differs between the two engines in the last
digits of large double sums.
"""

from __future__ import annotations

import json
import math
import os
from statistics import fmean

from common import SETUP_REPS, median, now
from inputs import QUERY_TABLES, headline_queries

MIN_WARM_PASSES = 2
REL_TOL = 1e-9


def _norm(v):
    return json.loads(json.dumps(v, default=str))


def _sort_key(row):
    return tuple(
        (v is None, f"{v:.6g}" if isinstance(v, float) else str(v)) for v in row
    )


def _same(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, (int, float)) and not isinstance(b, bool):
        return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=1e-12) or (
            math.isnan(a) and math.isnan(b)
        )
    return a == b


def _matches(rows, columns, want) -> str | None:
    """None when the Spark rows equal the oracle's, else what differs."""
    if sorted(columns) != sorted(want["columns"]):
        return f"columns {sorted(columns)} != {sorted(want['columns'])}"
    got_i = sorted(range(len(columns)), key=lambda i: columns[i])
    want_i = sorted(range(len(want["columns"])), key=lambda i: want["columns"][i])
    got = sorted((tuple(_norm(r[i]) for i in got_i) for r in rows), key=_sort_key)
    exp = sorted((tuple(r[i] for i in want_i) for r in want["rows"]), key=_sort_key)
    if len(got) != len(exp):
        return f"{len(got)} rows, oracle {len(exp)}"
    for g, e in zip(got, exp):
        if len(g) != len(e) or not all(_same(x, y) for x, y in zip(g, e)):
            return f"row {g} != oracle {e}"
    return None


def _run_pass(ctx, queries, names, sf_dir):
    """{name: (wall, cpu, jit)} and {name: (rows, columns)} for one pass."""
    samples, out = {}, {}
    for name in names:
        cell = []
        with ctx.timed(cell), ctx.tracer.span(f"queries.{name}"):
            df = queries[name](ctx.spark, sf_dir)
            rows = df.collect()
        samples[name] = cell[0]
        out[name] = (rows, df.columns)
    return samples, out


def doc_queries(ctx) -> None:
    import pyarrow.parquet as pq

    from icdc_dataloader_spark.queries import QUERIES

    names = headline_queries()
    tables = os.path.join(ctx.cache, "tables")
    with open(os.path.join(ctx.cache, "oracle.json")) as fh:
        oracle = json.load(fh)
    n_rows = sum(
        pq.ParquetFile(os.path.join(tables, f"{t}.parquet")).metadata.num_rows
        for t in QUERY_TABLES
    )

    def checked_pass():
        samples, out = _run_pass(ctx, QUERIES, names, tables)
        for name, (rows, cols) in out.items():
            diff = _matches(rows, cols, oracle[name])
            ctx.check(diff is None, f"{name}: {diff}")
        return samples

    # set-up: the first pass, which is the JVM and codegen warm-up and
    # opens the input tables cold, plus their opening (listing and
    # footers), repeated
    first = checked_pass()
    reps = []
    for _ in range(SETUP_REPS):
        t = now()
        for tname in QUERY_TABLES:
            ctx.spark.read.parquet(os.path.join(tables, f"{tname}.parquet")).schema
        reps.append(now() - t)
    ctx.setup_s(sum(t[0] for t in first.values()), reps)

    passes = []
    # 14 short queries a pass: a yardstick run after every third
    with ctx.measured_loop(yardstick_every=3) as t0:
        while len(passes) < MIN_WARM_PASSES or now() - t0 < ctx.seconds:
            passes.append(checked_pass())

    totals = [tuple(map(sum, zip(*p.values()))) for p in passes]
    # every query weighs the same: the geometric mean over the 14 of each
    # one's median CPU over the warm passes
    per_query = [median([p[name][1] for p in passes]) for name in names]
    ctx.record_loop(totals, [s for p in passes for s in p.values()],
                    n_rows * len(passes),
                    read_cpu=math.exp(fmean(math.log(c) for c in per_query)))
    if ctx.trace:
        for name in names:
            ctx.layer[f"queries.{name}.first_s"] = first[name][0]
            ctx.layer[f"queries.{name}.warm_s"] = median([p[name][0] for p in passes])
