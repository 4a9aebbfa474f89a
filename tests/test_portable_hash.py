"""Portable-hash operator evidence:

- uuid5_expr (native sha1 Catalyst expression) == pure-Python reference
  get_uuid == the pandas-UDF path, including the pinned reference vector;
- portable doc_fingerprint / simhash match an independent pure-Python
  reimplementation (md5 primitive, same fold);
- embedding_cosine_near_dups finds PLANTED near-identical vectors (the
  round-1 gap: zero evidence) and the bucket cap bounds degenerate inputs;
- the Spark SQL text form of hex_int equals its Column form, the text
  family members equal a pure-Python a + i * b, and the family index
  guard fires before any Spark job.
"""

import hashlib
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pytest
from pyspark.sql import functions as F

from icdc_dataloader_spark.functions.identity import (
    get_uuid,
    make_uuid5_udf,
    uuid5_expr,
)
from icdc_dataloader_spark.functions.porthash import (
    B_MOD,
    FAMILY_MAX_I,
    family_member_expr,
    hash_pair_from_digest,
    hex_int,
    hex_int_expr,
)
from icdc_dataloader_spark.functions.text import doc_fingerprint
from icdc_dataloader_spark.operators.dedup import simhash_portable
from icdc_dataloader_spark.operators.similarity import (
    embedding_cosine_near_dups,
    lsh_topk,
)

SAMPLES = ["123", "case_42", "", "héllo wörld", "a|b|c", "0"]


def test_uuid5_expr_matches_reference_and_udf(spark):
    domain = "caninecommons.cancer.gov"
    df = spark.createDataFrame([(s,) for s in SAMPLES], "sig string")
    udf = make_uuid5_udf(domain)
    out = df.select(
        "sig",
        uuid5_expr(domain, "case", F.col("sig")).alias("native"),
        udf(F.lit("case"), F.col("sig")).alias("via_udf"),
    ).collect()
    for row in out:
        expected = get_uuid(domain, "case", row["sig"])
        assert row["native"] == expected
        assert row["via_udf"] == expected


def test_uuid5_pinned_reference_vector(spark):
    # reference tests/test_loader.py:65-66 pinned value
    df = spark.range(1).select(
        uuid5_expr(
            "caninecommons.cancer.gov", "case", F.lit("{ case_id: 123 }")
        ).alias("u")
    )
    assert df.collect()[0]["u"] == get_uuid(
        "caninecommons.cancer.gov", "case", "{ case_id: 123 }"
    )


def test_text_forms_match_column_forms_and_reference(spark):
    df = spark.createDataFrame([(s,) for s in SAMPLES + [None]], "s string")
    df = df.select("s", hash_pair_from_digest(F.md5("s")).alias("_p"))
    idx = [0, 1, 17, FAMILY_MAX_I]
    cols = [hex_int(F.col("s")).alias("c_hex"),
            F.expr(hex_int_expr("s")).alias("t_hex"),
            hex_int(F.col("s"), 8).alias("c_hex8"),
            F.expr(hex_int_expr("s", 8)).alias("t_hex8")]
    cols += [F.expr(family_member_expr("_p", i)).alias(f"t_m{i}") for i in idx]
    rows = {r["s"]: r for r in df.select("s", *cols).collect()}
    assert set(rows) == set(SAMPLES) | {None}
    for s, r in rows.items():
        assert r["c_hex"] == r["t_hex"] and r["c_hex8"] == r["t_hex8"], s
        if s is None:
            assert r["t_hex"] is None
            assert all(r[f"t_m{i}"] is None for i in idx)
            continue
        assert r["t_hex"] == _hex_int(s)
        a, b = _hash_pair(s)
        for i in idx:
            assert r[f"t_m{i}"] == a + i * b, (s, i)


def test_family_guard_raises_before_any_job(spark):
    from icdc_dataloader_spark.operators.dedup import minhash_signatures

    with pytest.raises(ValueError):
        family_member_expr("_p", FAMILY_MAX_I + 1)
    docs = spark.createDataFrame([(1, "a b c d e f")], "doc_id long, text string")
    sc = spark.sparkContext
    sc.setJobGroup("minhash-guard", "family index guard")
    try:
        with pytest.raises(ValueError):
            minhash_signatures(docs, num_hashes=FAMILY_MAX_I + 2,
                               hash_mode="portable")
    finally:
        sc.setJobGroup("", "")
    assert sc.statusTracker().getJobIdsForGroup("minhash-guard") == []


def _hex_int(s: str, n_hex: int = 15) -> int:
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:n_hex], 16)


def _hash_pair(s: str) -> tuple[int, int]:
    h = hashlib.md5(s.encode("utf-8")).hexdigest()
    return int(h[:15], 16), int(h[15:30], 16) % B_MOD


def _py_fingerprint(text: str, mod: int = 1_000_000_007, base: int = 131) -> int:
    toks = [t for t in text.strip().lower().split() if t]
    fp, pw = 0, 1
    for t in toks:
        fp = (fp + (_hex_int(t) % mod) * pw) % mod
        pw = (pw * base) % mod
    return fp


def _py_simhash(text: str, bits: int = 32) -> int:
    toks = [t for t in text.strip().lower().split() if t]
    hs = [_hex_int(t, 8) for t in toks]
    out = 0
    for i in range(bits):
        set_cnt = sum(1 for h in hs if (h >> i) & 1)
        if hs and 2 * set_cnt > len(hs):
            out |= 1 << i
    return out


TEXTS = [
    "the quick brown fox jumps over the lazy dog",
    "one",
    "",
    "  spaced   out\ttokens \n here ",
    "repeat repeat repeat repeat",
]


def test_doc_fingerprint_portable_matches_python(spark):
    df = spark.createDataFrame([(i, t) for i, t in enumerate(TEXTS)], "i long, text string")
    got = {
        r["i"]: r["fp"]
        for r in df.select(
            "i", doc_fingerprint(F.col("text"), hash_mode="portable").alias("fp")
        ).collect()
    }
    for i, t in enumerate(TEXTS):
        assert got[i] == _py_fingerprint(t), f"text={t!r}"


def test_simhash_portable_matches_python(spark):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(TEXTS)], "doc_id long, text string"
    )
    got = {r["id"]: r["simhash"] for r in simhash_portable(df).collect()}
    for i, t in enumerate(TEXTS):
        assert got[i] == _py_simhash(t), f"text={t!r}"


def _unit(vec):
    n = math.sqrt(sum(x * x for x in vec))
    return [x / n for x in vec]


def test_embedding_near_dups_finds_planted_pair(spark):
    import random

    rng = random.Random(11)
    dim = 16
    rows = []
    for i in range(40):
        rows.append((i, _unit([rng.gauss(0, 1) for _ in range(dim)])))
    # plant: 100 is a tiny perturbation of 0 (cosine ~0.9999), 101 a copy of 1
    base = rows[0][1]
    perturbed = _unit([x + 0.001 * (j % 3 - 1) for j, x in enumerate(base)])
    rows.append((100, perturbed))
    rows.append((101, list(rows[1][1])))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = {
        (r["id_a"], r["id_b"])
        for r in embedding_cosine_near_dups(
            df, dim=dim, threshold=0.99, n_planes=4, n_tables=6, seed=3
        ).collect()
    }
    assert (0, 100) in pairs
    assert (1, 101) in pairs


def test_lsh_bucket_cap_bounds_degenerate_corpus(spark):
    # all-identical vectors: every comparison ties => ONE bucket per table.
    # With max_bucket_size below the corpus size the degenerate bucket is
    # dropped and the candidate join stays bounded (returns no candidates)
    # instead of going O(n^2).
    dim = 8
    vec = [0.0] * dim
    corpus = spark.createDataFrame(
        [(i, vec) for i in range(50)], "vec_id long, embedding array<double>"
    )
    queries = spark.createDataFrame(
        [(1000, vec)], "vec_id long, embedding array<double>"
    )
    out = lsh_topk(
        corpus, queries, dim=dim, k=5, n_planes=4, n_tables=2, seed=1,
        max_bucket_size=10,
    )
    assert out.count() == 0
