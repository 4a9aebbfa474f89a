"""Driver-contract queries: every SQL-expressible operator from SURVEY.md §2
expressed over the driver-provided tables, each paired with a DuckDB oracle.

Conventions that make the driver's value-hash comparison deterministic:

- every computed column aliased identically in Spark and SQL;
- money-ish double aggregates computed as exact DECIMAL(18,4) sums then one
  cast to DOUBLE (identical bits regardless of partial-agg order);
- similarity scores rounded to 6 digits; ratios to 4;
- no raw timestamps or arrays in outputs (epoch seconds / joined strings).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions import text as TXT
from .functions.identity import signature_expr
from .model import Model, PropDef
from .operators import dedup, relationships, similarity, validate
from .functions import coerce
from .tables import table as _t


def _dsum(col) -> F.Column:
    """Exact decimal sum -> double (partial-agg-order independent)."""
    return F.sum(col.cast("decimal(18,4)")).cast("double")


# a tiny model over the documents table, used by validation queries
def documents_model() -> Model:
    return Model(
        nodes={
            "document": {
                "text": PropDef("text", "String", required=True),
                "lang": PropDef("lang", "String", enum={"en", "de", "fr"}),
                "n_chars": PropDef("n_chars", "Int", minimum=0, maximum=100000),
            }
        },
        relationships={},
    )


# ---------------------------------------------------------------------------
# TPC-H-style headline aggregations (A-family; reference A1-A6 analogues)
# ---------------------------------------------------------------------------


def q1_pricing_summary(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    disc = F.col("l_extendedprice").cast("decimal(18,4)") * (
        F.lit(1).cast("decimal(18,4)") - F.col("l_discount").cast("decimal(18,4)")
    )
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dsum(F.col("l_quantity")).alias("sum_qty"),
            _dsum(F.col("l_extendedprice")).alias("sum_base_price"),
            F.sum(disc).cast("double").alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) *
                (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE)
           AS sum_disc_price,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= DATE '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q3_shipping_priority(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1998-03-15")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1998-03-15")
    rev = F.col("l_extendedprice").cast("decimal(18,4)") * (
        F.lit(1).cast("decimal(18,4)") - F.col("l_discount").cast("decimal(18,4)")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
        .select(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_orderpriority",
            "revenue",
        )
    )


Q3_SQL = """
SELECT l_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
       o_orderpriority,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) *
                (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE)
           AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
     JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING' AND o_orderdate < DATE '1998-03-15'
      AND l_shipdate > DATE '1998-03-15'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


# ---------------------------------------------------------------------------
# A7: LWW dedup — the north-star operator over the driver's events table
# ---------------------------------------------------------------------------


def lww_latest_event(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    # 'agg' (one-shuffle hash aggregate with map-side partial collapse)
    # instead of the explicit two-phase 'salted' plan: the round-4 skew
    # bench measured partial aggregation as the structurally skew-safe AND
    # faster plan (2.3s vs 3.5s at 32M rows) — salted pays a second
    # shuffle that the partial phase makes redundant.  Identical rows:
    # event_id is unique, so the per-key max is the same winner under any
    # plan.  The explicit salted path stays covered by the dedup test
    # suite and by append_delta, whose pre_dedup defaults to it.
    win = dedup.lww_dedup(
        ev, ["user_id", "event_type"], seq_col="event_id", strategy="agg"
    )
    return win.select(
        "user_id",
        "event_type",
        F.col("event_id").alias("last_event_id"),
        F.round("value", 2).alias("last_value"),
    ).orderBy("user_id", "event_type")


LWW_SQL = """
SELECT user_id, event_type,
       event_id AS last_event_id,
       ROUND(value, 2) AS last_value
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                   ORDER BY event_id DESC) rn FROM events)
WHERE rn = 1
ORDER BY user_id, event_type
"""


# ---------------------------------------------------------------------------
# Validation family (V2/V3/V5/V6, A2)
# ---------------------------------------------------------------------------


def required_prop_errors(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    # inject guaranteed violations (same rows injected in the oracle SQL)
    extra = spark.createDataFrame(
        [(-1, None, "en", "src0", 0), (-2, "", "en", "src0", 0)],
        docs.schema,
    )
    errs = validate.validation_errors(
        docs.unionByName(extra), "document", documents_model(), row_id_col="doc_id"
    )
    return errs.filter(F.col("reason") == "value_empty").select(
        "row_id", "property", "reason", "severity"
    ).orderBy("row_id")


REQUIRED_SQL = """
WITH all_docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL SELECT -1, NULL UNION ALL SELECT -2, ''
)
SELECT doc_id AS row_id, 'text' AS property, 'value_empty' AS reason,
       'error' AS severity
FROM all_docs WHERE text IS NULL OR text = ''
ORDER BY row_id
"""


def enum_validation(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    errs = validate.validation_errors(
        docs, "document", documents_model(), row_id_col="doc_id"
    )
    return errs.filter(F.col("reason") == "non_permissive_value").select(
        "row_id", "property", "value", "reason"
    ).orderBy("row_id")


ENUM_SQL = """
SELECT doc_id AS row_id, 'lang' AS property, lang AS value,
       'non_permissive_value' AS reason
FROM documents
WHERE lang IS NOT NULL AND lang <> '' AND lang NOT IN ('en', 'de', 'fr')
ORDER BY row_id
"""


def range_validation(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return ev.filter((F.col("value") < 0) | (F.col("value") > 450)).select(
        F.col("event_id").alias("row_id"),
        F.lit("value").alias("property"),
        F.round("value", 2).alias("value"),
        F.lit("out_of_range").alias("reason"),
    ).orderBy("row_id")


RANGE_SQL = """
SELECT event_id AS row_id, 'value' AS property, ROUND(value, 2) AS value,
       'out_of_range' AS reason
FROM events WHERE value < 0 OR value > 450
ORDER BY row_id
"""


def validation_report_grouping(spark, sf_dir):
    errs = range_validation(spark, sf_dir)
    return (
        errs.groupBy("property", "reason")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.array_join(
                F.sort_array(F.collect_set(F.col("row_id"))).cast("array<string>"), ","
            ).alias("row_ids"),
        )
        .orderBy("property")
    )


REPORT_SQL = """
SELECT 'value' AS property, 'out_of_range' AS reason, COUNT(*) AS n,
       array_to_string(list_sort(list(DISTINCT event_id)), ',') AS row_ids
FROM events WHERE value < 0 OR value > 450
GROUP BY 1, 2 ORDER BY property
"""


def dup_id_check(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    out = validate.duplicate_id_errors(
        ev, ["user_id"], F.col("event_type"), row_id_col="event_id"
    )
    return out.select(
        "user_id",
        "n_rows",
        "n_signatures",
        F.lit("duplicate_id_conflicting_properties").alias("reason"),
    ).orderBy("user_id")


DUP_SQL = """
SELECT user_id, COUNT(*) AS n_rows,
       COUNT(DISTINCT event_type) AS n_signatures,
       'duplicate_id_conflicting_properties' AS reason
FROM events GROUP BY user_id HAVING COUNT(DISTINCT event_type) > 1
ORDER BY user_id
"""


def missing_parent_anti_join(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") < 100)
    errs = validate.parent_exists_errors(
        ev, cust, child_fk="user_id", parent_key="c_custkey", row_id_col="event_id"
    )
    return errs.select("row_id", F.col("value").alias("user_id"), "reason").orderBy(
        "row_id"
    )


MISSING_PARENT_SQL = """
SELECT event_id AS row_id, CAST(user_id AS VARCHAR) AS user_id,
       'missing_parent' AS reason
FROM events e
WHERE user_id IS NOT NULL
  AND NOT EXISTS (SELECT 1 FROM customer c
                  WHERE c.c_custkey < 100 AND c.c_custkey = e.user_id)
ORDER BY row_id
"""


# ---------------------------------------------------------------------------
# Join family (J2/J3/J6/J9, as-of)
# ---------------------------------------------------------------------------


def parent_resolve_join(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    res = relationships.resolve_parents(
        orders.withColumn("o_custkey_s", F.col("o_custkey").cast("string")),
        cust.withColumn("c_custkey_s", F.col("c_custkey").cast("string")),
        pointer_col="o_custkey_s",
        parent_key="c_custkey_s",
        rel_type="placed_by",
        child_id_col="o_orderkey",
    )
    return (
        res["edges"]
        .groupBy("parent_id")
        .agg(F.count(F.lit(1)).alias("n_children"))
        .orderBy(F.col("n_children").desc(), F.col("parent_id"))
        .limit(20)
    )


PARENT_RESOLVE_SQL = """
SELECT CAST(c_custkey AS VARCHAR) AS parent_id, COUNT(*) AS n_children
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY 1 ORDER BY n_children DESC, parent_id LIMIT 20
"""


def one_to_one_conflict(spark, sf_dir):
    supp = _t(spark, sf_dir, "supplier")
    edges = supp.select(
        F.col("s_suppkey").cast("string").alias("child_id"),
        F.lit("located_in").alias("rel_type"),
        F.col("s_nationkey").cast("string").alias("parent_id"),
    )
    return relationships.one_to_one_conflicts(edges).orderBy("parent_id")


CONFLICT_SQL = """
SELECT CAST(s_nationkey AS VARCHAR) AS parent_id, 'located_in' AS rel_type,
       COUNT(DISTINCT s_suppkey) AS n_children
FROM supplier GROUP BY 1, 2 HAVING COUNT(DISTINCT s_suppkey) > 1
ORDER BY parent_id
"""


def rel_stats_agg(spark, sf_dir):
    """A4: the ICDC stats query shape (queries/ICDC_stats.cypher) over TPC-H."""
    region = _t(spark, sf_dir, "region")
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.countDistinct("n_nationkey").alias("n_nations"),
            F.countDistinct("c_custkey").alias("n_customers"),
            _dsum(F.col("c_acctbal")).alias("sum_acctbal"),
        )
        .orderBy("r_name")
    )


STATS_SQL = """
SELECT r_name,
       COUNT(DISTINCT n_nationkey) AS n_nations,
       COUNT(DISTINCT c_custkey) AS n_customers,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS sum_acctbal
FROM customer JOIN nation ON c_nationkey = n_nationkey
     JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name ORDER BY r_name
"""


def as_of_join_last_signup(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") != "signup").select(
        "user_id", "event_id", "ts"
    )
    right = ev.filter(F.col("event_type") == "signup").select(
        "user_id", F.col("event_id").alias("signup_event_id"), "ts"
    )
    out = relationships.as_of_join(
        left,
        right,
        keys=["user_id"],
        left_ts="ts",
        right_ts="ts",
        right_value_cols=["signup_event_id"],
    )
    return out.select(
        "event_id", F.col("asof_signup_event_id").alias("last_signup_event_id")
    ).orderBy("event_id")


ASOF_SQL = """
WITH u AS (
  SELECT user_id, event_id, ts, 1 AS side, NULL::BIGINT AS r_id
  FROM events WHERE event_type <> 'signup'
  UNION ALL
  SELECT user_id, event_id, ts, 0 AS side, event_id AS r_id
  FROM events WHERE event_type = 'signup'
), c AS (
  SELECT event_id, side,
         last_value(r_id IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY ts, side, r_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_signup_event_id
  FROM u
)
SELECT event_id, last_signup_event_id FROM c WHERE side = 1 ORDER BY event_id
"""


def cascade_delete_fixed(spark, sf_dir):
    """J6 over the strict region->nation->customer->orders hierarchy: the
    delete closure of one region, as golden counts (the iterative fixpoint
    operator is operators/cascade.py, exercised in tests)."""
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    nat = nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey, "left_semi"
    )
    cus = cust.join(nat, cust.c_nationkey == nat.n_nationkey, "left_semi")
    ords = orders.join(cus, orders.o_custkey == cus.c_custkey, "left_semi")
    return spark.createDataFrame(
        [(nat.count(), cus.count(), ords.count())],
        "n_nations long, n_customers long, n_orders long",
    )


CASCADE_SQL = """
WITH nat AS (SELECT n_nationkey FROM nation
             WHERE n_regionkey IN (SELECT r_regionkey FROM region WHERE r_name='ASIA')),
     cus AS (SELECT c_custkey FROM customer WHERE c_nationkey IN (SELECT n_nationkey FROM nat)),
     ords AS (SELECT o_orderkey FROM orders WHERE o_custkey IN (SELECT c_custkey FROM cus))
SELECT (SELECT COUNT(*) FROM nat) AS n_nations,
       (SELECT COUNT(*) FROM cus) AS n_customers,
       (SELECT COUNT(*) FROM ords) AS n_orders
"""


def top_k_per_group(spark, sf_dir):
    from pyspark.sql.window import Window

    ev = _t(spark, sf_dir, "events")
    per_user = ev.groupBy("event_type", "user_id").agg(
        _dsum(F.col("value")).alias("total_value")
    )
    w = Window.partitionBy("event_type").orderBy(
        F.col("total_value").desc(), F.col("user_id")
    )
    return (
        per_user.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("event_type", "user_id", "total_value", "rank")
        .orderBy("event_type", "rank")
    )


TOPK_SQL = """
SELECT event_type, user_id, total_value, rank FROM (
  SELECT event_type, user_id,
         CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) DESC,
                                     user_id) AS rank
  FROM events GROUP BY event_type, user_id
) WHERE rank <= 3 ORDER BY event_type, rank
"""


def per_type_counters(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("event_type")
    )


COUNTERS_SQL = """
SELECT event_type, COUNT(*) AS n_events, COUNT(DISTINCT user_id) AS n_users
FROM events GROUP BY event_type ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# Hash / identity family (P5/P9/P12, P2 coercion)
# ---------------------------------------------------------------------------


def content_sha256_parity(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", F.sha2(F.col("text"), 256).alias("content_sha256")
    ).orderBy("doc_id")


SHA_SQL = "SELECT doc_id, sha256(text) AS content_sha256 FROM documents ORDER BY doc_id"


def signature_md5(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", F.md5(signature_expr(["doc_id", "lang"])).alias("sig_md5")
    ).orderBy("doc_id")


SIG_SQL = """
SELECT doc_id,
       md5('{ ' || 'doc_id: ' || CAST(doc_id AS VARCHAR) || ', ' ||
           'lang: ' || COALESCE(lang, 'None') || ' }') AS sig_md5
FROM documents ORDER BY doc_id
"""


def boolean_coercion_parity(spark, sf_dir):
    corpus = [
        "yes", "YeS13", "no", " Normal ", "true", "FALSE", "ltf", "abc", "",
        "maybe true", "NOPE",
    ]
    df = spark.createDataFrame([(i, v) for i, v in enumerate(corpus)], "i long, v string")
    return df.select(
        "i", "v", coerce.boolean_expr(F.col("v")).alias("coerced")
    ).orderBy("i")


BOOL_SQL = """
SELECT i, v,
       CASE WHEN regexp_matches(v, '(?i)yes|true') THEN TRUE
            WHEN regexp_matches(v, '(?i)no|false') THEN FALSE
            ELSE NULL END AS coerced
FROM (VALUES (0,'yes'),(1,'YeS13'),(2,'no'),(3,' Normal '),(4,'true'),
             (5,'FALSE'),(6,'ltf'),(7,'abc'),(8,''),(9,'maybe true'),
             (10,'NOPE')) t(i, v)
ORDER BY i
"""


# ---------------------------------------------------------------------------
# Training-data family: dedup, text analysis, similarity
# ---------------------------------------------------------------------------


def exact_dedup_docs(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return dedup.exact_dedup(docs).orderBy("rep_id")


EXACT_DEDUP_SQL = """
SELECT MIN(doc_id) AS rep_id, md5(text) AS content_md5, COUNT(*) AS dup_count
FROM documents GROUP BY md5(text) ORDER BY rep_id
"""


def token_count_quality(spark, sf_dir):
    # tokenize ONCE per case-variant in a dedicated projection and compute
    # all measures from the materialized arrays: the inline form re-split
    # the text ~5x per row (higher-order-function lambdas are interpreted —
    # no codegen subexpression elimination dedups them).  Same expressions
    # over the same arrays, so every value is bit-identical.
    docs = _t(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        TXT.tokens(F.col("text")).alias("_t"),
        TXT.tokens(F.lower(F.col("text"))).alias("_lt"),
    )
    t, lt = F.col("_t"), F.col("_lt")
    n = F.size(t)
    # sum of token lengths == length of the concatenation (tokens are
    # never NULL): length(array_join) stays in codegen where the
    # aggregate() lambda ran interpreted (round 6)
    total = F.length(F.array_join(t, ""))
    mean = F.when(n > 0, total / n.cast("double")).otherwise(F.lit(0.0))
    sw = F.array(*[F.lit(s) for s in TXT.EN_STOPWORDS])
    ln = F.size(lt)
    hits = F.size(F.filter(lt, lambda x: F.array_contains(sw, x)))
    swr = F.when(ln > 0, hits / ln.cast("double")).otherwise(F.lit(0.0))
    return base.select(
        "doc_id",
        n.alias("n_tokens"),
        F.round(mean, 4).alias("mean_token_len"),
        F.round(swr, 4).alias("stopword_ratio"),
    ).orderBy("doc_id")


TOKEN_SQL = f"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS toks,
         list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x <> '') AS ltoks
  FROM documents
)
SELECT doc_id,
       len(toks) AS n_tokens,
       ROUND(CASE WHEN len(toks) > 0
             THEN list_sum(list_transform(toks, x -> length(x))) / CAST(len(toks) AS DOUBLE)
             ELSE 0.0 END, 4) AS mean_token_len,
       ROUND(CASE WHEN len(ltoks) > 0
             THEN len(list_filter(ltoks, x -> x IN ({','.join("'" + s + "'" for s in TXT.EN_STOPWORDS)})))
                  / CAST(len(ltoks) AS DOUBLE)
             ELSE 0.0 END, 4) AS stopword_ratio
FROM t ORDER BY doc_id
"""


def lang_id_heuristic(spark, sf_dir):
    # Round 6 plan change, same values: the explode + window(rn=1) shape
    # shuffled 4 rows per doc just to pick the per-doc max — and
    # TXT.lang_scores re-tokenized the text once per language.  Now the
    # lower-cased tokens are materialized ONCE, the four scores are
    # computed from that array, and the winner is array_max over
    # (score, lang) structs — exactly the window's (score DESC, lang DESC)
    # order, with no exchange at all.  Score expressions are unchanged
    # term-for-term, so every value matches the oracle bit-for-bit.
    docs = _t(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id", TXT.tokens(F.lower(F.col("text"))).alias("_lt")
    )
    n = F.size(F.col("_lt"))
    pairs = []
    for lang, markers in sorted(TXT.LANG_MARKERS.items()):
        arr = F.array(*[F.lit(m) for m in markers])
        hits = F.size(F.filter(F.col("_lt"), lambda t: F.array_contains(arr, t)))
        score = F.when(n > 0, F.round(hits / n.cast("double"), 6)).otherwise(
            F.lit(0.0)
        )
        pairs.append(F.struct(score.alias("score"), F.lit(lang).alias("lang")))
    scored = base.select("doc_id", F.array_max(F.array(*pairs)).alias("_best"))
    return scored.select(
        "doc_id",
        F.when(F.col("_best.score") > 0, F.col("_best.lang"))
        .otherwise("und")
        .alias("pred_lang"),
        F.col("_best.score").alias("best_score"),
    ).orderBy("doc_id")


def _lang_markers_sql() -> str:
    rows = []
    for lang, markers in sorted(TXT.LANG_MARKERS.items()):
        in_list = ",".join(f"'{m}'" for m in markers)
        rows.append(
            f"SELECT doc_id, '{lang}' AS lang, "
            f"CASE WHEN len(ltoks) > 0 THEN ROUND(len(list_filter(ltoks, x -> x IN ({in_list})))"
            f" / CAST(len(ltoks) AS DOUBLE), 6) ELSE 0.0 END AS score FROM t"
        )
    return " UNION ALL ".join(rows)


LANG_SQL = f"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x <> '') AS ltoks
  FROM documents
), long AS ({_lang_markers_sql()}),
ranked AS (
  SELECT doc_id, lang, score,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, lang DESC) AS rn
  FROM long
)
SELECT doc_id,
       CASE WHEN score > 0 THEN lang ELSE 'und' END AS pred_lang,
       score AS best_score
FROM ranked WHERE rn = 1 ORDER BY doc_id
"""


def ngram_jaccard_docs(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.2).orderBy(
        "id_a", "id_b"
    )


NGRAM_SQL = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x <> '') AS w
  FROM documents
), grams AS (
  SELECT DISTINCT doc_id,
         array_to_string(w[i+1:i+3], ' ') AS gram
  FROM toks, UNNEST(range(CASE WHEN len(w) >= 3 THEN len(w) - 2 ELSE 0 END)) AS u(i)
  WHERE len(w) >= 3
  UNION
  SELECT DISTINCT doc_id, array_to_string(w, ' ') AS gram FROM toks WHERE len(w) < 3
), sizes AS (SELECT doc_id, COUNT(*) AS n_grams FROM grams GROUP BY doc_id),
capped AS (
  SELECT g.* FROM grams g
  JOIN (SELECT gram FROM grams GROUP BY gram HAVING COUNT(*) <= 1000) f USING (gram)
), shared AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
  FROM capped a JOIN capped b USING (gram)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       shared / CAST(sa.n_grams + sb.n_grams - shared AS DOUBLE) AS jaccard
FROM shared JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
WHERE shared / CAST(sa.n_grams + sb.n_grams - shared AS DOUBLE) >= 0.2
ORDER BY id_a, id_b
"""


def ann_cosine_topk(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    corpus = emb.filter(F.col("vec_id") >= 10)
    return similarity.cosine_topk(corpus, queries, k=5).orderBy("query_id", "rank")


ANN_SQL = """
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
     c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings WHERE vec_id >= 10),
scored AS (
  SELECT query_id, neighbor_id,
         ROUND(list_dot_product(CAST(qv AS DOUBLE[]), CAST(cv AS DOUBLE[])) /
               (sqrt(list_dot_product(CAST(qv AS DOUBLE[]), CAST(qv AS DOUBLE[]))) *
                sqrt(list_dot_product(CAST(cv AS DOUBLE[]), CAST(cv AS DOUBLE[])))), 6) AS sim
  FROM q CROSS JOIN c
)
SELECT query_id, neighbor_id, rank, sim FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY sim DESC, neighbor_id) AS rank
  FROM scored
) WHERE rank <= 5 ORDER BY query_id, rank
"""


def multi_case_individuals(spark, sf_dir):
    """J7+W8 (individual_creator.py:38-93) over TPC-H shapes: a 'clerk' is
    the registration, its distinct customers are the cases.  Clerks spanning
    more than one case get an 'individual' whose id is allocated
    max+row_number formatted '0000' (the reference's
    ``apoc.number.format(max(toInteger(id))+1, '0000')``) via the same
    allocate_sequence_ids operator GraphLoader's IndividualCreator uses."""
    from .plans.graph_loader import allocate_sequence_ids

    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    multi = (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(F.countDistinct("c_custkey").alias("n_cases"))
        .filter(F.col("n_cases") > 1)
    )
    out = allocate_sequence_ids(
        multi, existing_max=0, id_col="individual_id", order_col="n_name"
    )
    return out.select(
        F.col("n_name").alias("registration"), "n_cases", "individual_id"
    ).orderBy("registration")


MULTI_CASE_SQL = """
SELECT n_name AS registration, n_cases,
       printf('%04d', ROW_NUMBER() OVER (ORDER BY n_name)) AS individual_id
FROM (SELECT n_name, COUNT(DISTINCT c_custkey) AS n_cases
      FROM customer JOIN nation ON c_nationkey = n_nationkey
      GROUP BY n_name HAVING COUNT(DISTINCT c_custkey) > 1)
ORDER BY registration
"""


# --- hash-based operator queries (portable-hash mode, full DuckDB oracle
# replicas — see hash_queries.py; round 1 shipped these as rows-only) -------

from .hash_queries import HASH_ORACLES, HASH_QUERIES  # noqa: E402


# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------

QUERIES = {
    "q1_pricing_summary": q1_pricing_summary,
    "q3_shipping_priority": q3_shipping_priority,
    "lww_latest_event": lww_latest_event,
    "required_prop_errors": required_prop_errors,
    "enum_validation": enum_validation,
    "range_validation": range_validation,
    "validation_report_grouping": validation_report_grouping,
    "dup_id_check": dup_id_check,
    "missing_parent_anti_join": missing_parent_anti_join,
    "parent_resolve_join": parent_resolve_join,
    "one_to_one_conflict": one_to_one_conflict,
    "rel_stats_agg": rel_stats_agg,
    "as_of_join_last_signup": as_of_join_last_signup,
    "cascade_delete_fixed": cascade_delete_fixed,
    "top_k_per_group": top_k_per_group,
    "per_type_counters": per_type_counters,
    "content_sha256_parity": content_sha256_parity,
    "signature_md5": signature_md5,
    "boolean_coercion_parity": boolean_coercion_parity,
    "exact_dedup_docs": exact_dedup_docs,
    "token_count_quality": token_count_quality,
    "lang_id_heuristic": lang_id_heuristic,
    "ngram_jaccard_docs": ngram_jaccard_docs,
    "ann_cosine_topk": ann_cosine_topk,
    "multi_case_individuals": multi_case_individuals,
    **HASH_QUERIES,
}

ORACLES = {
    "q1_pricing_summary": Q1_SQL,
    "q3_shipping_priority": Q3_SQL,
    "lww_latest_event": LWW_SQL,
    "required_prop_errors": REQUIRED_SQL,
    "enum_validation": ENUM_SQL,
    "range_validation": RANGE_SQL,
    "validation_report_grouping": REPORT_SQL,
    "dup_id_check": DUP_SQL,
    "missing_parent_anti_join": MISSING_PARENT_SQL,
    "parent_resolve_join": PARENT_RESOLVE_SQL,
    "one_to_one_conflict": CONFLICT_SQL,
    "rel_stats_agg": STATS_SQL,
    "as_of_join_last_signup": ASOF_SQL,
    "cascade_delete_fixed": CASCADE_SQL,
    "top_k_per_group": TOPK_SQL,
    "per_type_counters": COUNTERS_SQL,
    "content_sha256_parity": SHA_SQL,
    "signature_md5": SIG_SQL,
    "boolean_coercion_parity": BOOL_SQL,
    "exact_dedup_docs": EXACT_DEDUP_SQL,
    "token_count_quality": TOKEN_SQL,
    "lang_id_heuristic": LANG_SQL,
    "ngram_jaccard_docs": NGRAM_SQL,
    "ann_cosine_topk": ANN_SQL,
    "multi_case_individuals": MULTI_CASE_SQL,
    **HASH_ORACLES,
}


def interval_join_visit_cycle(spark, sf_dir):
    """J8 (visit_creator.py:99-173) over TPC-H shapes: per customer, orders
    ordered by date form 'cycles' (end = next start - 1 day, last open);
    lineitem ship dates are 'visits'; each visit attaches to its containing
    cycle, <=7 days before the first cycle attaches to it, no match -> NULL."""
    from pyspark.sql.window import Window

    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    cycles = orders.select(
        F.col("o_custkey").alias("case_id"),
        F.col("o_orderkey").alias("cycle_id"),
        F.col("o_orderdate").cast("date").alias("start_date"),
        F.date_sub(F.lead(F.col("o_orderdate").cast("date")).over(w), 1).alias(
            "end_date"
        ),
    )
    visits = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            F.col("o_custkey").alias("case_id"),
            F.col("l_shipdate").cast("date").alias("visit_date"),
        )
        .distinct()
    )
    out = relationships.interval_join_visits_to_cycles(
        visits, cycles, case_col="case_id", visit_date="visit_date",
        cycle_start="start_date", cycle_end="end_date", cycle_id="cycle_id",
        predate_days=7,
    )
    return out.select(
        "case_id",
        F.date_format("visit_date", "yyyy-MM-dd").alias("visit_date"),
        "cycle_id",
    ).orderBy("case_id", "visit_date", "cycle_id")


INTERVAL_SQL = """
WITH cycles AS (
  SELECT o_custkey AS case_id, o_orderkey AS cycle_id,
         CAST(o_orderdate AS DATE) AS start_,
         lead(CAST(o_orderdate AS DATE)) OVER
           (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
           - INTERVAL 1 DAY AS end_,
         ROW_NUMBER() OVER
           (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn
  FROM orders
), visits AS (
  SELECT DISTINCT o_custkey AS case_id, CAST(l_shipdate AS DATE) AS vdate
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
), matched AS (
  SELECT v.case_id, v.vdate, c.cycle_id,
         ROW_NUMBER() OVER (PARTITION BY v.case_id, v.vdate
                            ORDER BY c.start_, c.cycle_id) AS pick
  FROM visits v JOIN cycles c ON v.case_id = c.case_id
   AND v.vdate >= (CASE WHEN c.rn = 1 THEN c.start_ - INTERVAL 7 DAY ELSE c.start_ END)
   AND v.vdate <= COALESCE(CAST(c.end_ AS DATE), DATE '9999-12-31')
)
SELECT v.case_id AS case_id, strftime(v.vdate, '%Y-%m-%d') AS visit_date,
       m.cycle_id AS cycle_id
FROM visits v LEFT JOIN (SELECT * FROM matched WHERE pick = 1) m
     ON v.case_id = m.case_id AND v.vdate = m.vdate
ORDER BY v.case_id, visit_date, m.cycle_id
"""

QUERIES["interval_join_visit_cycle"] = interval_join_visit_cycle
ORACLES["interval_join_visit_cycle"] = INTERVAL_SQL


def session_windows(spark, sf_dir):
    """Gap-based sessionization (the BATCH analogue of the streaming
    change_bursts operator, streaming/stateful.py): per user, events more
    than 30 min apart start a new session.  lag + running-sum window —
    one shuffle on user_id; value totals in integer cents so the oracle
    comparison is bit-exact under any summation order."""
    from pyspark.sql.window import Window

    epoch0 = F.lit("2000-01-01 00:00:00").cast("timestamp_ntz")
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        # tz-independent truncating seconds (NTZ minus fixed NTZ epoch;
        # matches DuckDB date_diff('second', ...) exactly)
        (F.col("ts").cast("timestamp_ntz") - epoch0).cast("long").alias("ts_s"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    w = Window.partitionBy("user_id").orderBy("ts_s", "event_id")
    new_sess = F.when(
        F.col("ts_s") - F.lag("ts_s").over(w) > 1800, 1
    ).otherwise(0)
    sess = ev.withColumn(
        "session_no",
        F.sum(new_sess).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        sess.groupBy("user_id", "session_no")
        .agg(
            F.min("ts_s").alias("session_start_s"),
            F.max("ts_s").alias("session_end_s"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum("cents").alias("total_cents"),
        )
        .orderBy("user_id", "session_no")
    )


SESSION_SQL = """
WITH ev AS (
  SELECT user_id, event_id,
         CAST(date_diff('second', TIMESTAMP '2000-01-01 00:00:00', ts)
              AS BIGINT) AS ts_s,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
), tagged AS (
  SELECT *, CASE WHEN ts_s - lag(ts_s) OVER
              (PARTITION BY user_id ORDER BY ts_s, event_id) > 1800
            THEN 1 ELSE 0 END AS new_sess
  FROM ev
), sess AS (
  -- CAST: DuckDB SUM(BIGINT) yields HUGEINT, which pandas renders as
  -- float64 and breaks the driver's value hash even when every value
  -- matches Spark's BIGINT output (round-3 red row).
  SELECT *, CAST(SUM(new_sess) OVER
      (PARTITION BY user_id ORDER BY ts_s, event_id
       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      AS session_no
  FROM tagged
)
SELECT user_id, session_no, MIN(ts_s) AS session_start_s,
       MAX(ts_s) AS session_end_s, COUNT(*) AS n_events,
       CAST(SUM(cents) AS BIGINT) AS total_cents
FROM sess GROUP BY user_id, session_no
ORDER BY user_id, session_no
"""

QUERIES["session_windows"] = session_windows
ORACLES["session_windows"] = SESSION_SQL


def file_format_parse(spark, sf_dir):
    """P11 (file_copier.py:189-201): derive file_format from a filename,
    skipping one trailing compression suffix when another extension
    precedes it.  Filenames synthesized deterministically from doc ids so
    the DuckDB oracle re-derives the SAME names and replicates the parse
    with its own string functions (independent implementation)."""
    from .sources.adapters import file_format_expr

    exts = [".txt.gz", ".tar.bz2", ".zip", "", ".CSV", ".fastq.GZ"]
    docs = _t(spark, sf_dir, "documents")
    ext_arr = F.array(*[F.lit(e) for e in exts])
    name = F.concat(
        F.lit("doc_"),
        F.col("doc_id").cast("string"),
        F.element_at(ext_arr, (F.col("doc_id") % 6 + 1).cast("int")),
    )
    return docs.select(
        "doc_id",
        name.alias("file_name"),
        file_format_expr(name).alias("file_format"),
    ).orderBy("doc_id")


FILE_FORMAT_SQL = """
WITH named AS (
  SELECT doc_id,
         'doc_' || CAST(doc_id AS VARCHAR) ||
         (['.txt.gz', '.tar.bz2', '.zip', '', '.CSV', '.fastq.GZ'])
           [CAST(doc_id % 6 AS INT) + 1] AS file_name
  FROM documents
), split AS (
  SELECT doc_id, file_name,
         string_split(lower(file_name), '.') AS parts
  FROM named
)
SELECT doc_id, file_name,
       CASE WHEN len(parts) < 2 THEN NULL
            WHEN parts[len(parts)] IN ('gz','zip','7z','bz2','xz','rar')
                 AND len(parts) > 2 THEN parts[len(parts) - 1]
            ELSE parts[len(parts)]
       END AS file_format
FROM split
ORDER BY doc_id
"""

QUERIES["file_format_parse"] = file_format_parse
ORACLES["file_format_parse"] = FILE_FORMAT_SQL


def model_property_docs(spark, sf_dir):  # noqa: ARG001 - schema-derived
    """es_loader.py:167-209 'property' model-index documents for the
    fixtures model (sf_dir unused: the docs derive from the SCHEMA).
    Oracle: pinned VALUES literal generated from the same YAML (the
    uuid5_synthesis precedent — verifies the Spark-side doc construction
    end-to-end)."""
    from .plans.export import model_index_docs
    from .repos import load_repos_model

    return model_index_docs(spark, load_repos_model(), "property").orderBy(
        "node", "property"
    )


def _model_property_docs_sql() -> str:
    from .repos import load_repos_model

    model = load_repos_model()
    rows = []
    for nt in sorted(model.nodes):
        for pn in sorted(model.props_of(nt)):
            p = model.props_of(nt)[pn]
            ptype = "Enum" if p.enum else p.type
            req = "TRUE" if p.required else "FALSE"
            rows.append(
                f"('property', '{nt}', '{nt}', '{pn}', '{pn}', '{pn}', '', "
                f"{req}, '{ptype}')"
            )
    return (
        "SELECT * FROM (VALUES " + ", ".join(rows) + ") AS t("
        "type, node, node_name, property, property_name, property_kw, "
        "property_description, property_required, property_type) "
        "ORDER BY node, property"
    )


QUERIES["model_property_docs"] = model_property_docs
ORACLES["model_property_docs"] = _model_property_docs_sql()


def sbg_manifest_chain(spark, sf_dir):
    """Deep-chain manifest export — the ctdc_sbg_manifect.py:16-107 shape
    over TPC-H tables: a 4-hop chain join (region <- nation <- customer <-
    orders) with PIVOTED OPTIONAL ARMS (the Cypher's four OPTIONAL MATCH
    ihc_assay_report lookups per gene become per-returnflag lineitem
    aggregates left-joined per order, 'UNKNOWN'-coalesced), a computed
    label column (the experimental-strategy CASE), and a synthesized GUID.
    One manifest row per order, ordered like the reference's CSV.

    Plan shape: the chain joins are broadcastable dims (region/nation) +
    key-partitioned joins; the optional arms come from ONE grouped pass
    over lineitem (conditional aggregation), not one join per arm — the
    reference pays four OPTIONAL MATCH traversals per row."""
    region = _t(spark, sf_dir, "region")
    nation = _t(spark, sf_dir, "nation")
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 20 == 0)
    li = _t(spark, sf_dir, "lineitem")

    # one pass computes every "optional arm": per-flag line counts
    arms = li.groupBy(F.col("l_orderkey").alias("o_arm_key")).agg(
        F.sum(F.when(F.col("l_returnflag") == "R", 1)).alias("_r"),
        F.sum(F.when(F.col("l_returnflag") == "A", 1)).alias("_a"),
        F.sum(F.when(F.col("l_returnflag") == "N", 1)).alias("_n"),
    )
    chain = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(nation, customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .join(arms, orders.o_orderkey == F.col("o_arm_key"), "left")
    )
    strategy = (
        F.when(F.col("o_orderpriority").startswith("1"), "URGENT: EXPEDITE")
        .when(F.col("o_orderpriority").startswith("2"), "HIGH: EXPEDITE")
        .otherwise("ROUTINE")
    )
    return chain.select(
        F.col("r_name").alias("trial_id"),
        F.col("n_name").alias("arm_id"),
        F.col("c_custkey").alias("case_id"),
        F.col("c_mktsegment").alias("category"),
        F.col("o_orderkey").alias("specimen_id"),
        F.coalesce(F.col("_r").cast("string"), F.lit("UNKNOWN")).alias("r_status"),
        F.coalesce(F.col("_a").cast("string"), F.lit("UNKNOWN")).alias("a_status"),
        F.coalesce(F.col("_n").cast("string"), F.lit("UNKNOWN")).alias("n_status"),
        strategy.alias("experimental_strategy"),
        F.concat(F.lit("dg.4DFC/"), F.col("o_orderkey")).alias("guid"),
    ).orderBy("trial_id", "arm_id", "case_id", "specimen_id")


SBG_MANIFEST_SQL = """
WITH arms AS (
  SELECT l_orderkey AS o_arm_key,
         SUM(CASE WHEN l_returnflag = 'R' THEN 1 END) AS _r,
         SUM(CASE WHEN l_returnflag = 'A' THEN 1 END) AS _a,
         SUM(CASE WHEN l_returnflag = 'N' THEN 1 END) AS _n
  FROM lineitem GROUP BY l_orderkey
)
SELECT r_name AS trial_id, n_name AS arm_id, c_custkey AS case_id,
       c_mktsegment AS category, o_orderkey AS specimen_id,
       COALESCE(CAST(_r AS VARCHAR), 'UNKNOWN') AS r_status,
       COALESCE(CAST(_a AS VARCHAR), 'UNKNOWN') AS a_status,
       COALESCE(CAST(_n AS VARCHAR), 'UNKNOWN') AS n_status,
       CASE WHEN o_orderpriority LIKE '1%' THEN 'URGENT: EXPEDITE'
            WHEN o_orderpriority LIKE '2%' THEN 'HIGH: EXPEDITE'
            ELSE 'ROUTINE' END AS experimental_strategy,
       'dg.4DFC/' || CAST(o_orderkey AS VARCHAR) AS guid
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
LEFT JOIN arms ON o_orderkey = o_arm_key
WHERE o_orderkey % 20 = 0
ORDER BY trial_id, arm_id, case_id, specimen_id
"""

QUERIES["sbg_manifest_chain"] = sbg_manifest_chain
ORACLES["sbg_manifest_chain"] = SBG_MANIFEST_SQL




def _cdc_mapped_events(ev: DataFrame) -> DataFrame:
    """The shared deterministic events -> CDC change-event mapping used by
    cdc_final_state / schema_evolution_state / incremental_changes (one
    home — the DuckDB side mirrors it via :func:`_cdc_ev_cte`):
    key ('u'||user_id, event_type), seq = event_id, delete every 7th,
    lang from the fixed event_type map, content = props, batch = id%4."""
    lang = F.element_at(
        F.create_map(
            *[F.lit(x) for kv in _LANG_BY_TYPE.items() for x in kv]
        ),
        F.col("event_type"),
    )
    is_del = F.col("event_id") % 7 == 0
    return ev.select(
        F.col("event_id").alias("seq"),
        F.when(is_del, F.lit("delete")).otherwise(F.lit("upsert"))
        .alias("op"),
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("repo"),
        F.col("event_type").alias("path"),
        F.when(is_del, F.lit(None).cast("string")).otherwise(
            F.concat(F.lit("c"), F.col("event_id").cast("string"))
        ).alias("commit"),
        F.when(is_del, F.lit(None).cast("string")).otherwise(lang)
        .alias("lang"),
        F.when(is_del, F.lit(None).cast("string"))
        .otherwise(F.col("props")).alias("content"),
        (F.col("event_id") % 4).alias("batch_id"),
        F.col("ts"),
    )


def _cdc_ev_cte(extra_cols: str = "") -> str:
    """DuckDB replica of :func:`_cdc_mapped_events` (column-for-column)."""
    return f"""
  SELECT event_id AS seq,
         CASE WHEN event_id % 7 = 0 THEN 'delete' ELSE 'upsert' END AS op,
         'u' || CAST(user_id AS VARCHAR) AS repo,
         event_type AS path,
         'c' || CAST(event_id AS VARCHAR) AS commit,
         CASE event_type WHEN 'error' THEN 'python' WHEN 'view' THEN 'go'
              WHEN 'signup' THEN 'rust' WHEN 'click' THEN 'c'
              ELSE 'md' END AS lang,
         props AS content,
         event_id % 4 AS batch{extra_cols}
  FROM events"""


def _query_workdir(name: str, sf_dir: str) -> str:
    """Deterministic scratch dir for pipeline-backed queries.

    The returned DataFrame lazily reads the lake built here AFTER the
    query function returns (the driver collects later), so the dir cannot
    be removed in a finally.  Instead each (query, sf_dir) pair owns ONE
    fixed path that is wiped and rebuilt per invocation — disk usage is
    bounded at one copy per query instead of leaking a tree per run
    (self-review round 4)."""
    import hashlib
    import shutil
    import tempfile

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    root = os.path.join(
        tempfile.gettempdir(), "spark_graft_queries", f"{name}_{tag}"
    )
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root, exist_ok=True)
    return root


# -- cdc_final_state: the flagship MERGE/MoR apply path, oracle-checked --------

_LANG_BY_TYPE = {
    "error": "python", "view": "go", "signup": "rust",
    "click": "c", "purchase": "md",
}


def cdc_final_state(spark, sf_dir):
    """North-star end-to-end check (round-3 VERDICT #7): replay the testdata
    ``events`` table through a REAL MoR lake — batched drain, LWW merge,
    in-loop compaction, tombstone GC — and return the final keyed state.

    The mapping events -> change events is deterministic so DuckDB can
    replay it arithmetically (arg-max per key, tombstones applied):

    - key (repo, path) = ('u' || user_id, event_type)
    - seq = event_id (globally unique; LWW ties impossible)
    - op = 'delete' every 7th event, else 'upsert'
    - batch_id = event_id % 4 — DELIBERATELY arrival-shuffled (a later
      batch carries lower seqs), exercising the exact pending-batch GC
      bound rather than the monotone-contract leg
    - commit = 'c' || event_id; lang from a fixed event_type map (always
      enum-valid so validation is a verified no-op); content = props

    The lake is built in a fresh temp dir per call; compact_every=2 forces
    real compactions (with tombstone GC) inside the measured drain.
    lww_latest_event proves the dedup OPERATOR; this proves the applied
    TABLE — reference parity: loader.py load -> final graph state equality
    (tests/test_reloading_data.py shape).
    """
    from .plans.merge import read_state
    from .repos import make_pipeline

    mapped = _cdc_mapped_events(_t(spark, sf_dir, "events"))
    root = _query_workdir("cdc_final_state", sf_dir)
    binlog = f"{root}/binlog"
    mapped.write.partitionBy("batch_id").parquet(binlog)
    pipe = make_pipeline(
        spark, f"{root}/lake", n_buckets=8, strategy="mor", compact_every=2
    )
    res = pipe.run(spark.read.parquet(binlog))
    assert not res.get("quarantined"), res
    return read_state(spark, pipe.lake).select(
        "repo", "path", "commit", "lang", "content_sha256"
    )


CDC_FINAL_STATE_SQL = f"""
WITH ev AS ({_cdc_ev_cte()}
), win AS (
  SELECT *, row_number() OVER (PARTITION BY repo, path
                               ORDER BY seq DESC) AS rn
  FROM ev
)
SELECT repo, path, commit, lang, sha256(content) AS content_sha256
FROM win WHERE rn = 1 AND op = 'upsert'
"""

QUERIES["cdc_final_state"] = cdc_final_state
ORACLES["cdc_final_state"] = CDC_FINAL_STATE_SQL


def salted_ingest_state(spark, sf_dir):
    """The same end-to-end replay as :func:`cdc_final_state`, but with
    split hot buckets: each binlog batch is stored as two files (two map
    tasks) and the drain runs under a 1 KB
    ``spark.sql.adaptive.advisoryPartitionSizeInBytes``, so AQE's
    rebalance splits every bucket of the delta write at map-output
    boundaries (the hot-bucket straggler mitigation of
    :func:`plans.merge.append_delta`).  In-loop compaction, tombstone GC
    and the final resolve all run over MULTI-FILE delta buckets.  The
    split only changes which task writes a bucket's rows, so the state
    must be bit-identical to the unsplit replay (same SQL as
    cdc_final_state).
    """
    from .plans.merge import read_state
    from .repos import make_pipeline

    mapped = _cdc_mapped_events(_t(spark, sf_dir, "events"))
    root = _query_workdir("salted_ingest_state", sf_dir)
    binlog = f"{root}/binlog"
    mapped.repartition(2).write.partitionBy("batch_id").parquet(binlog)
    pipe = make_pipeline(
        spark, f"{root}/lake", n_buckets=8, strategy="mor", compact_every=2
    )
    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    prev = spark.conf.get(key)
    spark.conf.set(key, "1k")
    try:
        res = pipe.run(spark.read.parquet(binlog))
    finally:
        spark.conf.set(key, prev)
    assert not res.get("quarantined"), res
    return read_state(spark, pipe.lake).select(
        "repo", "path", "commit", "lang", "content_sha256"
    )


QUERIES["salted_ingest_state"] = salted_ingest_state
ORACLES["salted_ingest_state"] = CDC_FINAL_STATE_SQL


def schema_evolution_state(spark, sf_dir):
    """North-rule schema evolution, oracle-checked end-to-end: drain even
    event_ids under the base schema, evolve the lake (add ``stars`` long —
    metadata-only commit, no rewrite), drain odd event_ids carrying the
    new column, and return the final state.  A key whose LWW winner
    predates the evolution reads back stars=NULL from the ORIGINAL data
    files (proving no rewrite happened); post-evolution winners carry
    stars = event_id % 97.  DuckDB replays the same outcome arithmetically.
    Reference analogue: model-YAML v2 adds a property and the loader
    keeps loading (icdc_schema.py property map drives the columns).
    """
    from pyspark.sql import types as T

    from .plans.merge import read_state, table_schema
    from .repos import make_pipeline, repos_payload_schema

    ev = _t(spark, sf_dir, "events")
    root = _query_workdir("schema_evolution_state", sf_dir)
    early = _cdc_mapped_events(ev.filter(F.col("event_id") % 2 == 0))
    late = _cdc_mapped_events(
        ev.filter(F.col("event_id") % 2 == 1)
    ).withColumn(
        "stars",
        F.when(F.col("seq") % 7 == 0, F.lit(None).cast("long"))
        .otherwise(F.col("seq") % 97),
    )
    early.write.partitionBy("batch_id").parquet(f"{root}/b1")
    late.write.partitionBy("batch_id").parquet(f"{root}/b2")
    pipe = make_pipeline(
        spark, f"{root}/lake", n_buckets=8, strategy="mor", compact_every=2
    )
    r1 = pipe.run(spark.read.parquet(f"{root}/b1"))
    files_before = {f["path"] for f in pipe.lake.snapshot()["files"]}
    pipe.lake.evolve_schema(
        table_schema(repos_payload_schema().add("stars", T.LongType()))
    )
    # metadata-only: the evolution commit rewrote NO data files
    assert {f["path"] for f in pipe.lake.snapshot()["files"]} == files_before
    r2 = pipe.run(spark.read.parquet(f"{root}/b2"))
    assert not r1.get("quarantined") and not r2.get("quarantined")
    return read_state(spark, pipe.lake).select(
        "repo", "path", "commit", "lang", "stars", "content_sha256"
    )


_STARS_COL = (
    ", CASE WHEN event_id % 2 = 1 THEN CAST(event_id % 97 AS BIGINT)"
    " END AS stars"
)
SCHEMA_EVOLUTION_SQL = f"""
WITH ev AS ({_cdc_ev_cte(extra_cols=_STARS_COL)}
), win AS (
  SELECT *, row_number() OVER (PARTITION BY repo, path
                               ORDER BY seq DESC) AS rn
  FROM ev
)
SELECT repo, path, commit, lang, stars,
       sha256(content) AS content_sha256
FROM win WHERE rn = 1 AND op = 'upsert'
"""

QUERIES["schema_evolution_state"] = schema_evolution_state
ORACLES["schema_evolution_state"] = SCHEMA_EVOLUTION_SQL


def incremental_changes(spark, sf_dir):
    """The CONSUME side of the CDC engine, oracle-checked: drain batches
    0-1 of the mapped event stream (-> v_from), drain batches 2-3
    (-> v_to), then emit the keyed change feed between the two snapshots
    via plans/merge.changes_between — insert / update / delete per key,
    resolved only over manifest-diffed changed buckets.  DuckDB replays
    both states arithmetically (winner over batches<=1 vs winner over
    all) and diffs them.  Iceberg incremental-read analogue; reference
    analogue: consumers of the loader's graph reading what a load changed
    (visit/relationship audit stats, data_loader.py load metrics).
    """
    from .plans.merge import changes_between
    from .repos import make_pipeline

    mapped = _cdc_mapped_events(_t(spark, sf_dir, "events"))
    root = _query_workdir("incremental_changes", sf_dir)
    mapped.write.partitionBy("batch_id").parquet(f"{root}/binlog")
    pipe = make_pipeline(
        spark, f"{root}/lake", n_buckets=8, strategy="mor", compact_every=3
    )
    binlog = spark.read.parquet(f"{root}/binlog")
    r1 = pipe.run(binlog, max_batches=2)
    v_from = pipe.lake.latest_version()
    r2 = pipe.run(binlog)
    assert not r1.get("quarantined") and not r2.get("quarantined")
    return changes_between(spark, pipe.lake, v_from).select(
        "repo", "path", "change_type", "commit", "lang", "content_sha256"
    )


INCREMENTAL_CHANGES_SQL = f"""
WITH ev AS ({_cdc_ev_cte()}
), s1 AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY repo, path
                                 ORDER BY seq DESC) AS rn
    FROM ev WHERE batch <= 1
  ) WHERE rn = 1 AND op = 'upsert'
), s2 AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY repo, path
                                 ORDER BY seq DESC) AS rn
    FROM ev
  ) WHERE rn = 1 AND op = 'upsert'
)
SELECT COALESCE(s2.repo, s1.repo) AS repo,
       COALESCE(s2.path, s1.path) AS path,
       CASE WHEN s1.repo IS NULL THEN 'insert'
            WHEN s2.repo IS NULL THEN 'delete'
            ELSE 'update' END AS change_type,
       s2.commit AS commit, s2.lang AS lang,
       sha256(s2.content) AS content_sha256
FROM s2 FULL OUTER JOIN s1
  ON s1.repo = s2.repo AND s1.path = s2.path
WHERE s1.repo IS NULL OR s2.repo IS NULL OR s1.seq <> s2.seq
"""

QUERIES["incremental_changes"] = incremental_changes
ORACLES["incremental_changes"] = INCREMENTAL_CHANGES_SQL


def changes_across_gc(spark, sf_dir):
    """Change feed across a GC/compaction boundary (round-4 VERDICT #2):
    the window (v_from, v_to] contains a delete wave that tombstones EVERY
    key, one re-insert, and a full compaction whose tombstone GC empties
    most buckets to ZERO files.  changed_buckets must therefore include
    removed-file-only buckets (asserted in-query) and the feed must still
    report one delete per formerly-live key — the round-4 self-review bug
    class (an added-files-only manifest diff silently dropped exactly
    these) now oracle-checked end-to-end at sf volume.

    Deterministic construction (DuckDB replays it arithmetically):

    - phase 1: drain arrival-shuffled batches 0-1 of the mapped event
      stream -> v_from (same mapping as incremental_changes);
    - phase 2: drain batches 2-3, then one delete per DISTINCT key of the
      whole stream at seq 10^9 (LWW: beats everything), then a single
      re-insert ('u1','view') at seq 2*10^9, then compact with the GC
      watermark above all tombstones -> v_to.

    Expected feed: 'delete' for every key live at v_from except
    ('u1','view') which reads 'update' (or 'insert' if it wasn't live);
    keys born and killed inside the window stay silent.
    """
    from .plans.merge import changed_buckets, changes_between, compact
    from .repos import make_pipeline

    mapped = _cdc_mapped_events(_t(spark, sf_dir, "events"))
    root = _query_workdir("changes_across_gc", sf_dir)
    mapped.write.partitionBy("batch_id").parquet(f"{root}/binlog")
    pipe = make_pipeline(
        spark, f"{root}/lake", n_buckets=8, strategy="mor", compact_every=3
    )
    binlog = spark.read.parquet(f"{root}/binlog")
    r1 = pipe.run(binlog, max_batches=2)
    v_from = pipe.lake.latest_version()
    r2 = pipe.run(binlog)

    nulls = [F.lit(None).cast("string").alias(c)
             for c in ("commit", "lang", "content")]
    wave = (
        mapped.select("repo", "path").distinct()
        .select(
            F.lit(1_000_000_000).alias("seq"), F.lit("delete").alias("op"),
            "repo", "path", *nulls, F.lit(4).alias("batch_id"),
            F.lit(None).cast("timestamp").alias("ts"),
        )
        .unionByName(spark.sql("""
            SELECT CAST(2000000000 AS BIGINT) seq, 'upsert' op,
                   'u1' repo, 'view' path, 'cReborn' commit, 'go' lang,
                   'reborn' content, 5 batch_id, CAST(NULL AS TIMESTAMP) ts
        """))
    )
    wave.write.partitionBy("batch_id").parquet(f"{root}/wave")
    r3 = pipe.run(spark.read.parquet(f"{root}/wave"))
    assert not (r1.get("quarantined") or r2.get("quarantined")
                or r3.get("quarantined"))
    compact(spark, pipe.lake, drop_tombstones_below_seq=3_000_000_000)
    v_to = pipe.lake.latest_version()

    bks = changed_buckets(pipe.lake, v_from, v_to)
    at_to = {f["bucket"] for f in pipe.lake.snapshot(v_to)["files"]}
    removed_only = [b for b in bks if b not in at_to]
    assert removed_only, (
        "GC boundary must leave removed-file-only buckets in the diff"
    )
    return changes_between(spark, pipe.lake, v_from, v_to).select(
        "repo", "path", "change_type", "commit", "lang", "content_sha256"
    )


CHANGES_ACROSS_GC_SQL = f"""
WITH ev AS ({_cdc_ev_cte()}
), s1 AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY repo, path
                                 ORDER BY seq DESC) AS rn
    FROM ev WHERE batch <= 1
  ) WHERE rn = 1 AND op = 'upsert'
), s2 AS (
  SELECT CAST(2000000000 AS BIGINT) AS seq, 'u1' AS repo, 'view' AS path,
         'cReborn' AS commit, 'go' AS lang, 'reborn' AS content
)
SELECT COALESCE(s2.repo, s1.repo) AS repo,
       COALESCE(s2.path, s1.path) AS path,
       CASE WHEN s1.repo IS NULL THEN 'insert'
            WHEN s2.repo IS NULL THEN 'delete'
            ELSE 'update' END AS change_type,
       s2.commit AS commit, s2.lang AS lang,
       sha256(s2.content) AS content_sha256
FROM s2 FULL OUTER JOIN s1
  ON s1.repo = s2.repo AND s1.path = s2.path
WHERE s1.repo IS NULL OR s2.repo IS NULL OR s1.seq <> s2.seq
"""

QUERIES["changes_across_gc"] = changes_across_gc
ORACLES["changes_across_gc"] = CHANGES_ACROSS_GC_SQL


def quarantine_resubmit_state(spark, sf_dir):
    """The quarantine fix-and-resubmit workflow (§2.9 retry + V3
    validation split), oracle-checked end-to-end — the round-4 ADVICE
    hazard as a driver query:

    1. Drain batches 0-3 where every upsert with ``seq % 11 == 3``
       carries an invalid enum (``lang='NOT_A_LANG'``) — those rows are
       row-level quarantined and leave per-batch GC-watermark HOLDS in
       the ledger (min quarantined seq).
    2. Drain one high-seq filler batch (fresh keys, seq = 10^9+user_id,
       touching every bucket) with ``compact_every=1`` so its in-loop
       compaction runs tombstone GC.  WITHOUT the holds the watermark
       (min per-bucket applied max) would overrun every base-stream
       tombstone and drop it; the holds cap it at the min quarantined
       seq, so every tombstone a future re-submit could meet survives
       (pinned sharp by tests/test_r5_advice.py's disabled-hold variant,
       which really does resurrect deleted keys).
    3. Re-submit the FIXED rows at their ORIGINAL seq (the documented
       workflow, reference analogue loader.py re-run after fixing a
       validation report): each fix must LOSE to any later tombstone and
       WIN where it is the key's true LWW winner.
    4. Release the holds (``resolve_quarantined``) — workflow complete.

    DuckDB replays it arithmetically: the final state equals arg-max LWW
    over (base stream with CORRECT lang) ∪ (filler), because the fixed
    copies apply at the poisoned rows' original seqs.
    """
    from .plans.merge import read_state
    from .repos import make_pipeline

    mapped = _cdc_mapped_events(_t(spark, sf_dir, "events"))
    poison = (F.col("op") == "upsert") & (F.col("seq") % 11 == 3)
    root = _query_workdir("quarantine_resubmit_state", sf_dir)

    # the hazard must actually exist in the data: >=1 key whose LWW
    # winner is a tombstone ABOVE a poisoned seq — exactly the key an
    # engine without holds resurrects in step 3
    dead = mapped.groupBy("repo", "path").agg(
        F.max_by("op", "seq").alias("last_op"),
        F.max("seq").alias("last_seq"),
    )
    hazard_keys = (
        mapped.filter(poison)
        .join(dead.filter(F.col("last_op") == "delete"), ["repo", "path"])
        .filter(F.col("seq") < F.col("last_seq"))
        .select("repo", "path")
        .distinct()
    )
    assert hazard_keys.count() > 0, (
        "construction must contain resurrectable keys"
    )

    mapped.withColumn(
        "lang",
        F.when(poison, F.lit("NOT_A_LANG")).otherwise(F.col("lang")),
    ).write.partitionBy("batch_id").parquet(f"{root}/binlog")
    pipe = make_pipeline(
        spark, f"{root}/lake", n_buckets=8, strategy="mor", compact_every=1
    )
    res1 = pipe.run(spark.read.parquet(f"{root}/binlog"))
    assert not res1["quarantined"]
    holds = pipe.ledger.quarantine_holds()
    assert holds, "poisoned rows must leave GC-watermark holds"

    fill = (
        _t(spark, sf_dir, "events").select("user_id").distinct()
        .select(
            (F.lit(1_000_000_000) + F.col("user_id")).cast("long")
            .alias("seq"),
            F.lit("upsert").alias("op"),
            F.concat(F.lit("z"), F.col("user_id").cast("string"))
            .alias("repo"),
            F.lit("fill").alias("path"),
            F.concat(F.lit("cf"), F.col("user_id").cast("string"))
            .alias("commit"),
            F.lit("python").alias("lang"),
            F.concat(F.lit("fill"), F.col("user_id").cast("string"))
            .alias("content"),
            F.lit(4).alias("batch_id"),
            F.lit(None).cast("timestamp").alias("ts"),
        )
    )
    fill.write.partitionBy("batch_id").parquet(f"{root}/fill")
    res2 = pipe.run(spark.read.parquet(f"{root}/fill"))
    assert not res2["quarantined"]
    # the hold is the BINDING watermark bound after the filler drain:
    # every bucket's applied max is now filler-high, so without the
    # holds nothing else keeps the GC watermark low...
    lw = pipe.ledger.low_water()
    assert lw and pipe.ledger.quarantine_floor() < min(lw.values())
    # ...and the EFFECT holds: tombstones the re-submits must lose to
    # survived the in-loop GC (the negative-control test shows they are
    # dropped when the hold is disabled)
    surviving = (
        pipe.lake.read(spark)
        .filter(F.col("_op") == "delete")
        .join(hazard_keys, ["repo", "path"], "left_semi")
        .count()
    )
    assert surviving > 0, "hazard tombstones must survive the GC"

    fixes = mapped.filter(poison).withColumn("batch_id", F.lit(5))
    fixes.write.partitionBy("batch_id").parquet(f"{root}/fixes")
    res3 = pipe.run(spark.read.parquet(f"{root}/fixes"))
    assert not res3["quarantined"]
    for bid in holds:
        pipe.resolve_quarantined(bid)
    assert pipe.ledger.quarantine_floor() is None
    return read_state(spark, pipe.lake).select(
        "repo", "path", "commit", "lang", "content_sha256"
    )


QUARANTINE_RESUBMIT_SQL = f"""
WITH ev AS ({_cdc_ev_cte()}
), fill AS (
  SELECT 1000000000 + user_id AS seq, 'upsert' AS op,
         'z' || CAST(user_id AS VARCHAR) AS repo, 'fill' AS path,
         'cf' || CAST(user_id AS VARCHAR) AS commit, 'python' AS lang,
         'fill' || CAST(user_id AS VARCHAR) AS content
  FROM (SELECT DISTINCT user_id FROM events)
), allev AS (
  SELECT seq, op, repo, path, commit, lang, content FROM ev
  UNION ALL
  SELECT seq, op, repo, path, commit, lang, content FROM fill
), win AS (
  SELECT *, row_number() OVER (PARTITION BY repo, path
                               ORDER BY seq DESC) AS rn
  FROM allev
)
SELECT repo, path, commit, lang, sha256(content) AS content_sha256
FROM win WHERE rn = 1 AND op = 'upsert'
"""

QUERIES["quarantine_resubmit_state"] = quarantine_resubmit_state
ORACLES["quarantine_resubmit_state"] = QUARANTINE_RESUBMIT_SQL
