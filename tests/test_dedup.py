"""LWW dedup: strategy equivalence, permutation invariance, tie-breaking."""

import pandas as pd
from pyspark.sql import functions as F

from icdc_dataloader_spark.operators.dedup import exact_dedup, lww_dedup
from icdc_dataloader_spark.sources.gen import gen_events_pandas


def _winners(df, strategy):
    out = lww_dedup(
        df, ["repo", "path"], "seq", tiebreakers=["commit"], strategy=strategy
    )
    rows = out.select("repo", "path", "seq", "commit").collect()
    return {(r["repo"], r["path"]): (r["seq"], r["commit"]) for r in rows}


def test_strategies_agree(spark):
    pdf = gen_events_pandas(n_events=2000, n_repos=10, n_paths=5, seed=7)
    df = spark.createDataFrame(pdf)
    agg = _winners(df, "agg")
    salted = _winners(df, "salted")
    assert agg == salted
    # ground truth in pandas
    pdf2 = pdf.sort_values(["seq", "commit"]).groupby(["repo", "path"]).tail(1)
    exp = {
        (r.repo, r.path): (r.seq, r.commit) for r in pdf2.itertuples()
    }
    assert agg == exp


def test_permutation_invariance(spark):
    base = gen_events_pandas(n_events=1000, n_repos=5, n_paths=4, seed=1, shuffle_arrival=False)
    shuffled = base.sample(frac=1.0, random_state=99).reset_index(drop=True)
    w1 = _winners(spark.createDataFrame(base), "salted")
    w2 = _winners(spark.createDataFrame(shuffled), "salted")
    assert w1 == w2


def test_tiebreak_deterministic(spark):
    # duplicate (key, seq) with different commits: highest commit wins
    pdf = pd.DataFrame(
        {
            "seq": [5, 5, 5],
            "repo": ["r"] * 3,
            "path": ["p"] * 3,
            "commit": ["aaa", "ccc", "bbb"],
        }
    )
    w = _winners(spark.createDataFrame(pdf), "agg")
    assert w[("r", "p")] == (5, "ccc")


def test_skewed_keys(spark):
    # one hot key with 90% of events — salted two-phase still returns one winner
    pdf = gen_events_pandas(n_events=5000, n_repos=3, n_paths=2, seed=3, zipf_a=8.0)
    df = spark.createDataFrame(pdf)
    w = _winners(df, "salted")
    assert w == _winners(df, "agg")


def test_exact_dedup(spark):
    df = spark.createDataFrame(
        [(1, "hello"), (2, "hello"), (3, "world"), (4, "hello")],
        "doc_id long, text string",
    )
    out = {r["rep_id"]: r["dup_count"] for r in exact_dedup(df).collect()}
    assert out == {1: 3, 3: 1}
