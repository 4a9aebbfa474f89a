"""Driver-contract queries for the hash-based operators, WITH full oracles.

Round 1 shipped these six as rows-only (``no_oracle``) because xxhash64 has
no DuckDB equivalent.  Round 2 closes them: each operator gains a *portable*
mode whose only difference is the hash primitive (md5-derived, identical in
Spark / DuckDB / Python — functions/porthash.py), and the oracle SQL below
replicates the ENTIRE algorithm — shingling, minhash, banding, bucket caps,
WTA-LSH bucketing, rerank — term for term in DuckDB.  The driver therefore
value-checks the full pipelines, not just row counts.

uuid5 is the one exception: DuckDB 1.0 has no sha1, so its oracle is a
pinned VALUES table computed by the pure-Python reference ``get_uuid``
(the same 3-level chain the reference uses, bento.common.utils via
icdc_schema.py:119-128) — ground truth by construction.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .functions import text as TXT
from .functions.identity import get_uuid, uuid5_expr
from .functions.porthash import family_member_sql, hash_pair_sql, hex_int_sql
from .operators import dedup, similarity
from .operators.similarity import wta_pairs

# ---------------------------------------------------------------------------
# shared SQL fragments
# ---------------------------------------------------------------------------

# non-empty whitespace tokens of lower(trim(text)) — mirrors TXT.tokens
_TOKS = (
    "list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x <> '')"
)
# UNFILTERED split — mirrors dedup._words, which does not drop empties
_WORDS_RAW = "string_split_regex(lower(trim(text)), '\\s+')"

UUID_DOMAIN = "repos.example.org"
FP_MOD = 1_000_000_007
FP_BASE = 131
_SHIFT = 1 << 31  # encodes (fp, pw) fold state in one BIGINT for list_reduce


def _t(spark, sf_dir, name):
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# P5: uuid5 synthesis — native sha1 Catalyst expression vs pinned Python
# ---------------------------------------------------------------------------

UUID5_N_PINNED = 500


def uuid5_synthesis(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < UUID5_N_PINNED)
    return docs.select(
        "doc_id",
        uuid5_expr(UUID_DOMAIN, "document", F.col("doc_id")).alias("uuid"),
    ).orderBy("doc_id")


def _uuid5_sql() -> str:
    values = ",".join(
        f"({i},'{get_uuid(UUID_DOMAIN, 'document', str(i))}')"
        for i in range(UUID5_N_PINNED)
    )
    return f"""
SELECT d.doc_id, v.uuid
FROM documents d JOIN (VALUES {values}) v(doc_id, uuid) ON d.doc_id = v.doc_id
WHERE d.doc_id < {UUID5_N_PINNED}
ORDER BY d.doc_id
"""


UUID5_SQL = _uuid5_sql()


# ---------------------------------------------------------------------------
# Fingerprint: rolling polynomial hash (portable word hash)
# ---------------------------------------------------------------------------


def doc_fingerprints(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        TXT.doc_fingerprint(
            F.col("text"), modulus=FP_MOD, base=FP_BASE, hash_mode="portable"
        ).alias("fingerprint"),
    ).orderBy("doc_id")


# The fold state (fp, pw) is packed into one BIGINT (fp*2^31 + pw; both are
# < MOD < 2^31) because DuckDB's list_reduce has no separate init value and
# the accumulator must have the element type.  Magnitude check:
# x*pw < MOD^2 ~ 2^60 and fp'*2^31 < 2^61 — no BIGINT overflow.
FINGERPRINT_SQL = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS w FROM documents),
h AS (SELECT doc_id,
             list_transform(w, x -> {hex_int_sql('x')} % {FP_MOD}) AS hs
      FROM t)
SELECT doc_id,
       list_reduce(
         list_prepend(CAST(1 AS BIGINT), hs),
         (acc, x) -> ((acc // {_SHIFT} + x * (acc % {_SHIFT})) % {FP_MOD}) * {_SHIFT}
                     + ((acc % {_SHIFT}) * {FP_BASE}) % {FP_MOD}
       ) // {_SHIFT} AS fingerprint
FROM h ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# SimHash (32-bit portable)
# ---------------------------------------------------------------------------

SIMHASH_BITS = 32


def simhash_fingerprints(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return dedup.simhash_portable(docs, bits=SIMHASH_BITS).orderBy("id")


def _simhash_sql() -> str:
    terms = []
    for i in range(SIMHASH_BITS):
        terms.append(
            f"(CASE WHEN n > 0 AND 2 * len(list_filter(hs, v -> ((v >> {i}) & 1) = 1)) > n"
            f" THEN CAST({1 << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        )
    body = "\n     + ".join(terms)
    return f"""
WITH t AS (SELECT doc_id, {_TOKS} AS w FROM documents),
h AS (SELECT doc_id, list_transform(w, x -> {hex_int_sql('x', 8)}) AS hs,
             len(w) AS n
      FROM t)
SELECT doc_id AS id,
       {body} AS simhash
FROM h ORDER BY id
"""


SIMHASH_SQL = _simhash_sql()


# ---------------------------------------------------------------------------
# MinHash + LSH near-dups: full algorithm replica
# ---------------------------------------------------------------------------

MH_NUM_HASHES = 32
MH_BANDS = 8
MH_ROWS = MH_NUM_HASHES // MH_BANDS
MH_SHINGLE_K = 5
MH_THRESHOLD = 0.3
MH_MAX_BUCKET = 200


def minhash_near_dups(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return dedup.minhash_lsh_dedup(
        docs,
        num_hashes=MH_NUM_HASHES,
        bands=MH_BANDS,
        shingle_k=MH_SHINGLE_K,
        jaccard_threshold=MH_THRESHOLD,
        max_bucket_size=MH_MAX_BUCKET,
        hash_mode="portable",
    ).orderBy("id_a", "id_b")


def _minhash_sql() -> str:
    k = MH_SHINGLE_K
    sig_cols = ",\n       ".join(
        f"MIN({family_member_sql('a', 'b', i)}) AS s{i}"
        for i in range(MH_NUM_HASHES)
    )
    band_selects = []
    for b in range(MH_BANDS):
        parts = " || ',' || ".join(
            f"CAST(s{b * MH_ROWS + r} AS VARCHAR)" for r in range(MH_ROWS)
        )
        band_selects.append(
            f"SELECT doc_id, {b} AS band_id, {hex_int_sql(f'({parts})')} AS band_hash FROM sig"
        )
    bands_union = "\n  UNION ALL ".join(band_selects)
    matches = " + ".join(
        f"(CASE WHEN sa.s{i} = sb.s{i} THEN 1 ELSE 0 END)"
        for i in range(MH_NUM_HASHES)
    )
    return f"""
WITH toks AS (SELECT doc_id, {_WORDS_RAW} AS w FROM documents),
sh AS (
  SELECT doc_id, array_to_string(w[i+1:i+{k}], ' ') AS shingle
  FROM toks, UNNEST(range(len(w) - {k - 1})) u(i)
  WHERE len(w) >= {k}
  UNION ALL
  SELECT doc_id, array_to_string(w, ' ') AS shingle FROM toks WHERE len(w) < {k}
),
base AS (SELECT DISTINCT doc_id,
                {hash_pair_sql('shingle')[0]} AS a,
                {hash_pair_sql('shingle')[1]} AS b
         FROM sh),
sig AS (SELECT doc_id,
       {sig_cols}
  FROM base GROUP BY doc_id),
banded AS (
  {bands_union}
),
capped AS (
  SELECT banded.* FROM banded
  JOIN (SELECT band_id, band_hash FROM banded
        GROUP BY 1, 2 HAVING COUNT(*) <= {MH_MAX_BUCKET}) ok
  USING (band_id, band_hash)
),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM capped a JOIN capped b USING (band_id, band_hash)
  WHERE a.doc_id < b.doc_id
)
SELECT id_a, id_b,
       ({matches}) / CAST({MH_NUM_HASHES} AS DOUBLE) AS est_jaccard
FROM pairs JOIN sig sa ON sa.doc_id = id_a JOIN sig sb ON sb.doc_id = id_b
WHERE ({matches}) / CAST({MH_NUM_HASHES} AS DOUBLE) >= {MH_THRESHOLD}
ORDER BY id_a, id_b
"""


MINHASH_SQL = _minhash_sql()


# ---------------------------------------------------------------------------
# WTA-LSH: approximate top-k and embedding near-dups — full replica
# ---------------------------------------------------------------------------

LSH_DIM = 64
LSH_K = 5
# tuned on the sf0.1 corpus against exact-cosine ground truth
# (recall@10 over 50 queries): planes=4/tables=16 -> 0.93; the old
# 6/4 -> 0.27.  Fewer planes = coarser (bigger) buckets = more candidate
# pairs per table; more tables = more chances to collide.  Full sweep in
# tests/test_lsh_recall.py; bench.py reports the recall per round.
LSH_PLANES = 4
LSH_TABLES = 16
LSH_SEED = 42
LSH_MAX_BUCKET = 1000

ND_THRESHOLD = 0.99
ND_PLANES = 8
ND_TABLES = 4
ND_SEED = 7
ND_PLANT = 5          # first N vectors duplicated as planted near-dups
ND_PLANT_OFFSET = 1_000_000


def _bucket_sql(pairs: list[tuple[int, int]], vec: str = "v") -> str:
    terms = [
        f"(CASE WHEN {vec}[{p + 1}] >= {vec}[{q + 1}] THEN {1 << j} ELSE 0 END)"
        for j, (p, q) in enumerate(pairs)
    ]
    return " + ".join(terms)


def _tabled_sql(src: str, id_alias: str, n_planes: int, n_tables: int, seed: int) -> str:
    selects = []
    for t in range(n_tables):
        pairs = wta_pairs(LSH_DIM, n_planes, seed + 1000 * t)
        selects.append(
            f"SELECT id AS {id_alias}, v, {t} AS table_id, "
            f"{_bucket_sql(pairs)} AS bucket FROM {src}"
        )
    return "\n  UNION ALL ".join(selects)


_COS = (
    "ROUND(list_dot_product(CAST(qv AS DOUBLE[]), CAST(cv AS DOUBLE[])) /"
    " (sqrt(list_dot_product(CAST(qv AS DOUBLE[]), CAST(qv AS DOUBLE[]))) *"
    "  sqrt(list_dot_product(CAST(cv AS DOUBLE[]), CAST(cv AS DOUBLE[])))), 6)"
)


def lsh_ann_topk(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    corpus = emb.filter(F.col("vec_id") >= 10)
    return similarity.lsh_topk(
        corpus,
        queries,
        dim=LSH_DIM,
        k=LSH_K,
        n_planes=LSH_PLANES,
        n_tables=LSH_TABLES,
        seed=LSH_SEED,
        max_bucket_size=LSH_MAX_BUCKET,
    ).orderBy("query_id", "rank")


def _lsh_ann_sql() -> str:
    return f"""
WITH q AS (SELECT vec_id AS id, embedding AS v FROM embeddings WHERE vec_id < 10),
c AS (SELECT vec_id AS id, embedding AS v FROM embeddings WHERE vec_id >= 10),
cb AS (
  {_tabled_sql('c', 'neighbor_id', LSH_PLANES, LSH_TABLES, LSH_SEED)}
),
cbk AS (
  SELECT cb.* FROM cb
  JOIN (SELECT table_id, bucket FROM cb
        GROUP BY 1, 2 HAVING COUNT(*) <= {LSH_MAX_BUCKET}) ok
  USING (table_id, bucket)
),
qb AS (
  {_tabled_sql('q', 'query_id', LSH_PLANES, LSH_TABLES, LSH_SEED)}
),
cand AS (
  SELECT DISTINCT query_id, neighbor_id
  FROM cbk JOIN qb USING (table_id, bucket)
),
scored AS (
  SELECT cand.query_id, cand.neighbor_id, {_COS} AS sim
  FROM cand
  JOIN (SELECT id, v AS qv FROM q) ql ON ql.id = cand.query_id
  JOIN (SELECT id, v AS cv FROM c) cl ON cl.id = cand.neighbor_id
)
SELECT query_id, neighbor_id, rank, sim FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY sim DESC, neighbor_id) AS rank
  FROM scored
) WHERE rank <= {LSH_K} ORDER BY query_id, rank
"""


LSH_ANN_SQL = _lsh_ann_sql()


def embedding_near_dups(spark, sf_dir):
    """Near-dup detection with planted duplicates: the driver tables carry
    no natural cosine>=0.99 pairs (verified — round 1 returned 0 rows), so
    the query plants copies of the first {ND_PLANT} vectors under shifted
    ids, exactly as the oracle SQL does (same UNION) — the operator must
    find precisely those pairs plus any natural ones."""
    emb = _t(spark, sf_dir, "embeddings")
    planted = emb.filter(F.col("vec_id") < ND_PLANT).withColumn(
        "vec_id", F.col("vec_id") + F.lit(ND_PLANT_OFFSET)
    )
    aug = emb.unionByName(planted)
    return similarity.embedding_cosine_near_dups(
        aug,
        dim=LSH_DIM,
        threshold=ND_THRESHOLD,
        n_planes=ND_PLANES,
        n_tables=ND_TABLES,
        seed=ND_SEED,
        max_bucket_size=LSH_MAX_BUCKET,
    ).orderBy("id_a", "id_b")


def _embedding_near_dups_sql() -> str:
    return f"""
WITH aug AS (
  SELECT vec_id AS id, embedding AS v FROM embeddings
  UNION ALL
  SELECT vec_id + {ND_PLANT_OFFSET} AS id, embedding AS v
  FROM embeddings WHERE vec_id < {ND_PLANT}
),
banded AS (
  {_tabled_sql('aug', 'id', ND_PLANES, ND_TABLES, ND_SEED)}
),
capped AS (
  SELECT banded.* FROM banded
  JOIN (SELECT table_id, bucket FROM banded
        GROUP BY 1, 2 HAVING COUNT(*) <= {LSH_MAX_BUCKET}) ok
  USING (table_id, bucket)
),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM capped a JOIN capped b USING (table_id, bucket)
  WHERE a.id < b.id
),
scored AS (
  SELECT cand.id_a, cand.id_b, {_COS} AS sim
  FROM cand
  JOIN (SELECT id, v AS qv FROM aug) va ON va.id = cand.id_a
  JOIN (SELECT id, v AS cv FROM aug) vb ON vb.id = cand.id_b
)
SELECT id_a, id_b, sim FROM scored WHERE sim >= {ND_THRESHOLD}
ORDER BY id_a, id_b
"""


EMBEDDING_NEAR_DUPS_SQL = _embedding_near_dups_sql()


HASH_QUERIES = {
    "uuid5_synthesis": uuid5_synthesis,
    "doc_fingerprints": doc_fingerprints,
    "simhash_fingerprints": simhash_fingerprints,
    "minhash_near_dups": minhash_near_dups,
    "lsh_ann_topk": lsh_ann_topk,
    "embedding_near_dups": embedding_near_dups,
}

HASH_ORACLES = {
    "uuid5_synthesis": UUID5_SQL,
    "doc_fingerprints": FINGERPRINT_SQL,
    "simhash_fingerprints": SIMHASH_SQL,
    "minhash_near_dups": MINHASH_SQL,
    "lsh_ann_topk": LSH_ANN_SQL,
    "embedding_near_dups": EMBEDDING_NEAR_DUPS_SQL,
}
