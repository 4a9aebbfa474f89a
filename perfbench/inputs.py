"""Seeded benchmark inputs and their cached oracle answers.

Run as a script, in its own process, before the measured process starts a
Spark session, so that input generation and oracle replay never count
towards set-up time or peak memory:

    python3 perfbench/inputs.py --workload tail_mor --seed 3 --cache DIR
    python3 perfbench/inputs.py --workload tail_mor --seed 3 --cache DIR --prefix 16
    python3 perfbench/inputs.py --workload tail_mor --seed 3 --cache DIR --bulk --prefix 4

The first form writes the workload's inputs under DIR (once per workload
and seed; later calls find them).  ``--prefix K`` additionally caches the
oracle's answer for the first K batches of a CDC binlog, computed with
``oracle.final_live_rows`` over exactly the events those batches hold;
``--bulk`` selects the sustained-ingest binlog of the traced run.

CDC inputs are ``gen_events_pandas`` streams written as a binlog
partitioned by ``batch_id`` (one directory per micro-batch).  The query
workload's tables are generated here with the schemas of the engine's
TPC-H-style query test tables; its oracle is the DuckDB ``ORACLES`` SQL.
"""

from __future__ import annotations

import argparse
import ast
import hashlib
import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Shapes of the CDC binlogs.  Each workload's ``warm`` binlog has the same
# event mix at a smaller size: set-up drains it once to warm the JVM on the
# plan shapes the measured loop runs (tail_mor's includes a compaction).  ``BULK`` is the sustained-ingest drain the traced
# tail_mor run takes at local[nproc] and at local[1].
CDC = {
    "tail_mor": dict(
        n_batches=24, batch_events=5_000, n_repos=1_000, n_paths=20,
        zipf_a=3.0, p_delete=0.02, p_new=0.0, p_invalid_lang=0.0,
        # a tail sees one globally monotone sequence (late_horizon=0)
        shuffle_arrival=False,
        warm=dict(n_batches=4, batch_events=1_000),
    ),
    "cow_burst": dict(
        n_batches=16, batch_events=5_000, n_repos=200, n_paths=50,
        zipf_a=None, p_delete=0.02, p_new=0.04, p_invalid_lang=0.01,
        shuffle_arrival=True,
        warm=dict(n_batches=2, batch_events=2_000),
    ),
}
BULK = dict(
    n_batches=4, batch_events=40_000, n_repos=2_000, n_paths=100,
    zipf_a=3.0, p_delete=0.02, p_new=0.0, p_invalid_lang=0.0,
    shuffle_arrival=True,
)

QUERY_TABLES = [
    "region", "nation", "customer", "orders", "lineitem", "events",
    "documents", "embeddings",
]
# rows per table; the per-query fixed cost dominates at this size
QUERY_SCALE = dict(customer=1_500, orders=15_000, lineitem=60_000,
                   events=10_000, users=150, documents=600, embeddings=600)


def headline_queries() -> list[str]:
    """bench.py's HEADLINE list, read from its source without importing it
    (``import bench`` resolves to the ``bench/`` package)."""
    with open(os.path.join(ROOT, "bench.py")) as fh:
        tree = ast.parse(fh.read())
    for node in tree.body:
        if isinstance(node, ast.Assign) and any(
            getattr(t, "id", None) == "HEADLINE" for t in node.targets
        ):
            return list(ast.literal_eval(node.value))
    raise RuntimeError("bench.py defines no HEADLINE list")


def row_digest_py(rows) -> dict:
    """Order-free digest of (repo, path, content_sha256) rows; the Spark
    side computes the same value in ``common.parity_digest``."""
    x = 0
    n = 0
    for repo, path, sha in rows:
        h = hashlib.sha256(f"{repo}\t{path}\t{sha}".encode()).hexdigest()
        x ^= int(h[:15], 16)
        n += 1
    return {"count": n, "xor": x}


def _atomic_dir(final: str, build) -> None:
    if os.path.isdir(final):
        return
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    try:
        os.rename(tmp, final)
    except OSError:  # another run built it first
        if not os.path.isdir(final):
            raise
        shutil.rmtree(tmp, ignore_errors=True)


# -- CDC ------------------------------------------------------------------


def _gen_events(spec: dict, seed: int):
    from icdc_dataloader_spark.sources.gen import gen_events_pandas

    return gen_events_pandas(
        n_events=spec["n_batches"] * spec["batch_events"],
        n_repos=spec["n_repos"],
        n_paths=spec["n_paths"],
        seed=seed,
        n_batches=spec["n_batches"],
        p_delete=spec["p_delete"],
        p_new=spec["p_new"],
        p_invalid_lang=spec["p_invalid_lang"],
        zipf_a=spec["zipf_a"],
        shuffle_arrival=spec["shuffle_arrival"],
    )


def _write_binlog(df, out: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    for bid, part in df.groupby("batch_id", sort=True):
        d = os.path.join(out, f"batch_id={int(bid)}")
        os.makedirs(d)
        table = pa.Table.from_pandas(
            part.drop(columns=["batch_id"]).reset_index(drop=True),
            preserve_index=False,
        )
        pq.write_table(table, os.path.join(d, "part-00000.parquet"))


def _cdc_inputs(workload: str, seed: int, cache: str) -> None:
    def build(tmp):
        spec = CDC[workload]
        _write_binlog(_gen_events(spec, seed), os.path.join(tmp, "binlog"))
        _write_binlog(_gen_events({**spec, **spec["warm"]}, seed + 1_000_003),
                      os.path.join(tmp, "warm"))

    _atomic_dir(cache, build)


def _bulk_inputs(seed: int, cache: str) -> None:
    _atomic_dir(
        os.path.join(cache, "bulk"),
        lambda tmp: _write_binlog(_gen_events(BULK, seed + 2_000_003),
                                  os.path.join(tmp, "binlog")),
    )


def _read_binlog_events(binlog: str, n_batches: int) -> list[dict]:
    import pyarrow.parquet as pq

    events = []
    for b in range(n_batches):
        t = pq.read_table(os.path.join(binlog, f"batch_id={b}"))
        for ev in t.to_pylist():
            ev["batch_id"] = b
            events.append(ev)
    return events


def _cdc_oracle(binlog_dir: str, prefix: int) -> None:
    """Cache the oracle's answer for the first ``prefix`` batches of
    ``binlog_dir``/binlog in ``binlog_dir``/oracle_k<prefix>.json."""
    from icdc_dataloader_spark import oracle

    path = os.path.join(binlog_dir, f"oracle_k{prefix}.json")
    if os.path.exists(path):
        return
    events = _read_binlog_events(os.path.join(binlog_dir, "binlog"), prefix)
    live = oracle.final_live_rows(events)
    errors = oracle.replay(events)["errors"]
    answer = {
        "events": len(events),
        "live": row_digest_py(
            (r["repo"], r["path"], r["content_sha256"]) for r in live
        ),
        # quarantine counts rows, the oracle lists one entry per violation
        "quarantined_rows": len(
            {e["row_id"] for e in errors if e["reason"] != "node_exists_in_new_mode"}
        ),
        "new_conflicts": sum(
            e["reason"] == "node_exists_in_new_mode" for e in errors
        ),
    }
    tmp = f"{path}.tmp{os.getpid()}"
    with open(tmp, "w") as fh:
        json.dump(answer, fh)
    os.rename(tmp, path)


# -- query tables -----------------------------------------------------------

_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_MARKERS = {
    "de": ["der", "die", "und", "ist", "das"],
    "fr": ["le", "la", "et", "les", "des"],
    "es": ["el", "la", "los", "que", "de"],
}


def _query_tables(out: str, seed: int) -> None:
    import numpy as np
    import pandas as pd

    scale = QUERY_SCALE
    rng = np.random.RandomState(seed)
    t0 = pd.Timestamp("1995-01-01")

    def save(name, df):
        df.to_parquet(os.path.join(out, f"{name}.parquet"), index=False)

    save("region", pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }))
    save("nation", pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    }))
    nc = scale["customer"]
    save("customer", pd.DataFrame({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.randint(0, 25, nc).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], nc
        ),
    }))
    no = scale["orders"]
    save("orders", pd.DataFrame({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.randint(0, nc, no).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": np.round(rng.uniform(1000, 500000, no), 2),
        "o_orderdate": (t0 + pd.to_timedelta(rng.randint(0, 2400, no), unit="D"))
        .astype("datetime64[us]"),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], no
        ),
    }))
    nl = scale["lineitem"]
    save("lineitem", pd.DataFrame({
        "l_orderkey": rng.randint(0, no, nl).astype(np.int64),
        "l_partkey": rng.randint(0, 2000, nl).astype(np.int64),
        "l_suppkey": rng.randint(0, 100, nl).astype(np.int64),
        "l_linenumber": rng.randint(1, 8, nl).astype(np.int32),
        "l_quantity": rng.randint(1, 51, nl).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, nl), 2),
        "l_discount": np.round(rng.randint(0, 11, nl) / 100.0, 2),
        "l_tax": np.round(rng.randint(0, 9, nl) / 100.0, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": (t0 + pd.to_timedelta(rng.randint(0, 2500, nl), unit="D"))
        .astype("datetime64[us]"),
    }))
    ne = scale["events"]
    gaps = rng.exponential(260.0, ne)
    save("events", pd.DataFrame({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": (pd.Timestamp("2024-01-01") + pd.to_timedelta(np.cumsum(gaps), unit="s"))
        .astype("datetime64[us]"),
        "user_id": rng.randint(0, scale["users"], ne).astype(np.int64),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], ne),
        "value": np.round(rng.uniform(0.01, 500.0, ne), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.randint(0, 100, ne)],
    }))
    nd = scale["documents"]
    texts, langs = [], []
    for i in range(nd):
        r = rng.random_sample()
        if i > 10 and r < 0.05:  # exact duplicate of an earlier document
            j = rng.randint(0, i)
            texts.append(texts[j])
            langs.append(langs[j])
            continue
        if i > 10 and r < 0.12:  # near duplicate: a few words changed
            j = rng.randint(0, i)
            w = texts[j].split()
            for p in rng.randint(0, len(w), max(1, len(w) // 20)):
                w[p] = _WORDS[rng.randint(0, len(_WORDS))]
            texts.append(" ".join(w + ["dup"]))
            langs.append(langs[j])
            continue
        lang = rng.choice(["en", "en", "de", "fr", "es", "zh"])
        vocab = _WORDS + _MARKERS.get(lang, [])
        n = rng.randint(10, 100)
        texts.append(" ".join(vocab[k] for k in rng.randint(0, len(vocab), n)))
        langs.append(lang)
    save("documents", pd.DataFrame({
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }))
    nv = scale["embeddings"]
    centers = rng.uniform(-1, 1, (10, 64))
    labels = rng.randint(0, 10, nv)
    vecs = (centers[labels] + 0.35 * rng.uniform(-1, 1, (nv, 64))).astype(np.float32)
    save("embeddings", pd.DataFrame({
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": list(vecs),
        "label": labels.astype(np.int32),
    }))


def _jsonable(v):
    return json.loads(json.dumps(v, default=str))


def _query_oracle(tables: str, names: list[str]) -> dict:
    import duckdb

    from icdc_dataloader_spark.queries import ORACLES

    con = duckdb.connect()
    for t in QUERY_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{os.path.join(tables, t)}.parquet')"
        )
    out = {}
    for name in names:
        res = con.execute(ORACLES[name])
        cols = [d[0] for d in res.description]
        out[name] = {"columns": cols, "rows": _jsonable(res.fetchall())}
    con.close()
    return out


def _query_inputs(seed: int, cache: str) -> None:
    def build(tmp):
        tables = os.path.join(tmp, "tables")
        os.makedirs(tables)
        _query_tables(tables, seed)
        answer = _query_oracle(tables, headline_queries())
        with open(os.path.join(tmp, "oracle.json"), "w") as fh:
            json.dump(answer, fh)

    _atomic_dir(cache, build)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--cache", required=True)
    ap.add_argument("--prefix", type=int, default=None,
                    help="also cache the oracle for the first PREFIX batches")
    ap.add_argument("--bulk", action="store_true",
                    help="the bulk reference binlog instead of the workload's")
    args = ap.parse_args(argv)
    sys.path.insert(0, ROOT)
    os.makedirs(os.path.dirname(os.path.abspath(args.cache)), exist_ok=True)
    if args.workload == "doc_queries":
        _query_inputs(args.seed, args.cache)
        return 0
    _cdc_inputs(args.workload, args.seed, args.cache)
    binlog_dir = args.cache
    if args.bulk:
        _bulk_inputs(args.seed, args.cache)
        binlog_dir = os.path.join(args.cache, "bulk")
    if args.prefix is not None:
        _cdc_oracle(binlog_dir, args.prefix)
    return 0


if __name__ == "__main__":
    sys.exit(main())
