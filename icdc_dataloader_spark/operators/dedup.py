"""Deduplication operators.

1. **LWW (last-writer-wins) CDC dedup** — the north-star operator.  The
   reference's analogue is the duplicate-ID check (data_loader.py:660-692:
   same id + same signature = benign, keep one; different signature = error)
   combined with MERGE last-write-wins per id (data_loader.py:804-824).  At
   10^10 events the winner per ``(repo, path)`` must be computed without
   funneling a hot key through one task.

2. **Training-data dedup family** over a document corpus: exact (hash
   groupBy), MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine — see
   the sibling functions below and operators/similarity.py.

Scale notes (the reason for each design choice):

- ``lww_dedup`` default strategy is ``agg``: ``max_by(struct(payload),
  order_key)`` under ``groupBy(keys)``.  Spark's hash aggregate performs
  *partial* (map-side) aggregation before the shuffle, so a hot key is
  collapsed to one candidate row per map task before any data moves — the
  two-phase merge the north rule asks for, with Catalyst doing phase one.
  Measured (round 4, 32M events, hottest key 29% of rows, local[32]):
  ``agg`` 2.3 s against 12.9 s for a plain ``row_number`` window, which
  funnels each key through one reduce task.
- ``strategy='salted'`` makes the two phases explicit: groupBy(keys, salt)
  -> local winner, then groupBy(keys) -> global winner (3.5 s in the same
  heat: its phase-one shuffle is one that partial aggregation makes
  redundant).  The CDC ``pre_dedup`` paths use it: it bounds the per-task
  state by salting first, independent of optimizer rewrites, when the
  payload is huge (partial agg buffers whole rows).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def lww_order_key(seq_col: str = "seq", *tiebreakers: str) -> Column:
    """Total order for LWW: (seq, *tiebreakers) — SURVEY.md §7.4.  The
    engine's only definition of it: dedup, resolve, compaction, the change
    feed and the COW merge all order by this key (the streaming feed
    source's Arrow fold sorts by the same columns, NULL first).

    Ties on ``seq`` (duplicate replays / equal-seq events) are broken
    deterministically by the tiebreaker columns (engine default:
    (seq, commit, sha2(content,256))), so any arrival order and any
    partitioning yield the same winner.  The struct keeps each column's
    own type and Spark's struct ordering: fields compare left to right by
    type (a LongType 10 beats 9), and NULL sorts lowest, below ``''``.
    """
    return F.struct(F.col(seq_col), *[F.col(c) for c in tiebreakers])


SALT_BUCKETS = 64  # phase-one salt fan-out of the 'salted' plan


def lww_dedup(
    df: DataFrame,
    keys: list[str],
    seq_col: str = "seq",
    tiebreakers: list[str] | None = None,
    strategy: str = "agg",
) -> DataFrame:
    """One winning row per key by max (seq, *tiebreakers).

    Returns the full winning row (all columns of ``df``).  ``strategy``
    is 'agg' (one shuffle, map-side partial collapse) or 'salted' (the
    explicit two-phase plan); both pick the same winner.
    """
    tiebreakers = tiebreakers or []
    order = lww_order_key(seq_col, *tiebreakers)
    payload_cols = [c for c in df.columns]

    if strategy == "agg":
        # Partial agg map-side => skew-resistant without explicit salt.
        winner = (
            df.groupBy(*keys)
            .agg(F.max_by(F.struct(*payload_cols), order).alias("_w"))
            .select("_w.*")
        )
        return winner

    if strategy == "salted":
        # Explicit two-phase: salt derived from the order key so same-key
        # rows spread across SALT_BUCKETS reducers in phase one.
        salted = df.withColumn(
            "_salt", F.pmod(F.xxhash64(F.col(seq_col)), F.lit(SALT_BUCKETS))
        )
        local = (
            salted.groupBy(*keys, "_salt")
            .agg(F.max_by(F.struct(*payload_cols), order).alias("_w"))
            .select(*keys, "_w")
        )
        return (
            local.groupBy(*keys)
            .agg(
                F.max_by(
                    F.col("_w"),
                    lww_order_key(
                        f"_w.{seq_col}", *[f"_w.{c}" for c in tiebreakers]
                    ),
                ).alias("_w")
            )
            .select("_w.*")
        )

    raise ValueError(f"unknown lww strategy: {strategy}")


# ---------------------------------------------------------------------------
# Document-corpus dedup family (training-data pipeline operators)
# ---------------------------------------------------------------------------


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup by content hash: keep the min-id representative per md5.

    Output: (rep_id, content_md5, dup_count).  Pure shuffle-on-hash groupBy
    with map-side combine; scales linearly.
    """
    return (
        df.select(F.col(id_col), F.md5(F.col(text_col)).alias("content_md5"))
        .groupBy("content_md5")
        .agg(
            F.min(id_col).alias("rep_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
        .select("rep_id", "content_md5", "dup_count")
    )


def _words(text_col: Column) -> Column:
    """Lower-cased, whitespace-split word array.  Project it once, in its
    own ``select``, and shingle that column: the split inlined into a
    shingle lambda is re-run for every shingle (O(words²) per document)."""
    return F.split(F.lower(F.trim(text_col)), r"\s+")


def _shingle_starts(words: Column, k: int) -> Column:
    """0-based start of each word k-shingle of a :func:`_words` column; a
    document shorter than k words (or NULL) has one, at 0."""
    return F.sequence(F.lit(0), F.greatest(F.size(words) - F.lit(k), F.lit(0)))


def _shingle_at(words: Column, start: Column, k: int) -> Column:
    """The k-shingle at ``start``; a document shorter than k words is one
    shingle, its whole (normalized) text, and a NULL one a NULL shingle."""
    return F.when(
        F.size(words) >= k, F.array_join(F.slice(words, start + 1, k), " ")
    ).otherwise(F.array_join(words, " "))


def _shingles(words: Column, k: int = 5) -> Column:
    """Word k-shingles of a :func:`_words` column as an array<string>."""
    return F.transform(_shingle_starts(words, k), lambda i: _shingle_at(words, i, k))


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    shingle_k: int = 5,
    repartition: bool = True,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """MinHash signature per doc: num_hashes 64-bit min values over shingles.

    All JVM-side: shingle -> hash(shingle, seed_i) -> array_min.  No
    Python in the loop; one map stage.  Two scale details:

    - the shingle array is materialized ONCE per row (hash the shingles to
      longs first), so the num_hashes min-expressions reuse it instead of
      re-building 100+ strings per row per hash function;
    - compute-heavy-but-small inputs (one parquet file) are repartitioned
      to the session's parallelism — a single input split must not
      serialize the whole corpus onto one core.

    ``hash_mode='portable'`` uses the md5-derived cross-engine primitive
    (functions/porthash.py) so the DuckDB oracle can replicate the full
    algorithm value-for-value; 'xxhash64' is the codegen scale path.

    The num_hashes minima are one ``F.expr`` of SQL text,
    ``array(min(m_0), ..., min(m_n))``, not num_hashes ``F.min`` Columns:
    PySpark wraps every Column-building call in ``_with_origin``, about
    five py4j commands each, so building the 32-wide aggregate from
    Columns cost more driver time than running it at small inputs.

    Output: (id, sig: array<long>).
    """
    from ..functions.porthash import family_member_expr, hash_pair_from_digest

    if repartition:
        sc = df.sparkSession.sparkContext
        df = df.repartition(sc.defaultParallelism)
    # Plan shape (round 6): explode the shingles and take the num_hashes
    # mins in ONE whole-stage-codegen hash aggregate instead of
    # num_hashes array_min(transform(...)) passes.  Higher-order-function
    # lambdas are evaluated by the INTERPRETED expression evaluator (no
    # codegen, no subexpression elimination), so the old shape paid
    # interpreted per-element eval 33x per shingle AND re-computed the md5
    # inside the lambda; exploding moves the base hash into a codegen'd
    # projection (one md5/xxhash64 per shingle, guaranteed by hashing the
    # digest column) and the mins into a codegen'd partial aggregate.
    # Same values: min over the exploded multiset == array_min over the
    # array, member arithmetic unchanged (measured ~6x on the portable
    # leg, see OPTIMIZATION_r06.md).  A NULL shingle (NULL text) yields a
    # NULL-sig row in both shapes: explode keeps NULL *elements* (only
    # NULL/empty arrays drop rows, and a document always has one shingle
    # start).  The word array is projected once and the shingle starts
    # exploded, so slice/array_join run in codegen, not in a lambda.
    w = F.col("_w")
    sh = (
        df.select(F.col(id_col).alias("id"), _words(F.col(text_col)).alias("_w"))
        .select("id", "_w", F.explode(_shingle_starts(w, shingle_k)).alias("_i"))
        .select("id", _shingle_at(w, F.col("_i"), shingle_k).alias("_s"))
    )
    if hash_mode == "portable":
        # Kirsch-Mitzenmacher basis from ONE md5 per shingle; each family
        # member is a multiply-add — bit-identical in DuckDB.
        hashed = sh.select(
            "id", hash_pair_from_digest(F.md5(F.col("_s"))).alias("_p")
        )
        members = [family_member_expr("_p", i) for i in range(num_hashes)]
    else:
        hashed = sh.select("id", F.xxhash64(F.col("_s")).alias("_h"))
        members = [f"xxhash64(_h, {i})" for i in range(num_hashes)]
    mins = ", ".join(f"min({m})" for m in members)
    return hashed.groupBy("id").agg(F.expr(f"array({mins})").alias("sig"))


def minhash_lsh_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 5,
    jaccard_threshold: float = 0.8,
    max_bucket_size: int = 200,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs via MinHash banding + bucket join.

    shingle -> minhash -> split signature into ``bands`` bands -> hash each
    band -> explode (band_id, band_hash) -> self-join on the bucket ->
    estimate Jaccard from signature agreement -> filter by threshold.

    Scale discipline (what keeps this linear-ish at 100 TB):

    - buckets larger than ``max_bucket_size`` are dropped before the
      self-join — an oversized bucket is non-discriminative (stop-phrase
      shingles) and would contribute O(size^2) candidate pairs;
    - the self-join and pair-dedup carry ONLY ids; the 32-long signatures
      are re-attached to the deduplicated pairs afterwards;
    - the signature DataFrame is MATERIALIZED ONCE via localCheckpoint:
      the plan references it four times (banding -> bucket-size agg,
      banding -> capped join, and both sides of the signature re-attach),
      and without materialization Spark recomputes the
      shingle->num_hashes-min subtree — by far the most expensive stage —
      once per reference (4 references eliminated; measured ~30x on the
      xx64 leg at sf0.1 where the subtree dominated, see
      BENCH/BASELINE.md round 5).  Signatures are tiny
      ((id, num_hashes x long) ~ 300 B/row vs multi-KB documents, ~3 GB
      per 10^7 docs with overhead) and spill gracefully.
      ``localCheckpoint`` rather than ``persist``: cache entries are
      pinned by the CacheManager until an explicit unpersist — in a
      long-lived session every call would leak its signature cache —
      while a checkpointed RDD is released by the ContextCleaner as soon
      as the result DataFrame is garbage-collected (advice round 5).

    The band hashes (one ``posexplode(array(...))``) and the Jaccard
    estimate are SQL text for the reason given in
    :func:`minhash_signatures` (``_with_origin`` costs about five py4j
    commands per Column call).  The estimate counts agreeing positions
    with a sum of ``CASE`` terms instead of ``size(filter(zip_with(...)))``:
    same values (``sig`` is built by ``array(...)``, never a NULL array; a
    NULL element counts 0 in both; k/num_hashes as a double) and no
    interpreted lambda in the plan.

    Output: (id_a, id_b, est_jaccard) with id_a < id_b, distinct.
    """
    from ..functions.porthash import hex_int_expr

    rows = num_hashes // bands
    sigs = minhash_signatures(
        df, text_col, id_col, num_hashes, shingle_k, hash_mode=hash_mode
    ).localCheckpoint(eager=False)

    def band_hash(b: int) -> str:
        key = "concat_ws(',', %s)" % ", ".join(
            f"CAST(element_at(sig, {b * rows + r + 1}) AS STRING)"
            for r in range(rows)
        )
        return hex_int_expr(key) if hash_mode == "portable" else f"xxhash64({key})"

    band_hashes = ", ".join(band_hash(b) for b in range(bands))
    banded = sigs.select(
        "id",
        F.expr(f"posexplode(array({band_hashes}))").alias("band_id", "band_hash"),
    )
    bucket_sizes = banded.groupBy("band_id", "band_hash").agg(
        F.count(F.lit(1)).alias("_n")
    )
    capped = banded.join(
        bucket_sizes.filter(F.col("_n") <= max_bucket_size).select(
            "band_id", "band_hash"
        ),
        ["band_id", "band_hash"],
    )
    a = capped.select(F.col("id").alias("id_a"), "band_id", "band_hash")
    b = capped.select(F.col("id").alias("id_b"), "band_id", "band_hash")
    pairs = (
        a.join(b, ["band_id", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    sa = sigs.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
    agree = " + ".join(
        f"CASE WHEN sig_a[{i}] = sig_b[{i}] THEN 1 ELSE 0 END"
        for i in range(num_hashes)
    )
    est = F.expr(f"({agree}) / {num_hashes}D").alias("est_jaccard")
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", est)
        .filter(F.col("est_jaccard") >= jaccard_threshold)
    )


def simhash(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 64
) -> DataFrame:
    """64-bit SimHash per doc, JVM-side.

    Each word hashes to 64 bits; the fingerprint bit_i = sign of the sum of
    (+1/-1) over word-hash bit_i.  Expressed with aggregate() over the word
    array — no shuffle, one map stage (repartitioned to session parallelism
    so a single input split doesn't serialize the corpus onto one core).
    Output: (id, simhash: long).
    """
    df = df.repartition(df.sparkSession.sparkContext.defaultParallelism)
    words = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    # accumulate per-bit counts: array of `bits` ints
    zero = F.array_repeat(F.lit(0), bits)

    def step(acc, w):
        h = F.xxhash64(w)
        deltas = F.array(
            *[
                F.when(
                    F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, F.lit(1)
                ).otherwise(F.lit(-1))
                for i in range(bits)
            ]
        )
        return F.zip_with(acc, deltas, lambda a, d: a + d)

    counts = F.aggregate(words, zero, step)
    # bit i weight as a signed-long literal (bit 63 = sign bit)
    weights = [(1 << i) if i < 63 else -(1 << 63) for i in range(bits)]
    bit_vals = F.zip_with(
        counts,
        F.array(*[F.lit(w).cast("long") for w in weights]),
        lambda c, wgt: F.when(c > 0, wgt).otherwise(F.lit(0).cast("long")),
    )
    fingerprint = F.aggregate(
        bit_vals, F.lit(0).cast("long"), lambda acc, x: acc.bitwiseOR(x)
    )
    return df.select(F.col(id_col).alias("id"), fingerprint.alias("simhash"))


def simhash_portable(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 32
) -> DataFrame:
    """Cross-engine-verifiable SimHash (same algorithm, portable word hash).

    Word hash = first 8 md5 hex chars as int (functions/porthash.py), word
    stream = non-empty whitespace tokens of lower(trim(text)), fingerprint
    bit_i set iff strictly more word hashes have bit_i set than clear.
    Replicated term-for-term by the DuckDB oracle (hash_queries.SIMHASH_SQL).
    Output: (id, simhash: long).  Still one JVM map stage — the md5 is
    ~3x the cost of xxhash64 but stays in codegen.
    """
    from ..functions.porthash import hex_int

    df = df.repartition(df.sparkSession.sparkContext.defaultParallelism)
    toks = F.filter(
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+"), lambda t: t != ""
    )
    # materialize the hashed-word array ONCE per row; the 32 per-bit counts
    # below reuse it instead of re-hashing every word per bit
    hashed = df.select(
        F.col(id_col).alias("id"),
        F.transform(toks, lambda t: hex_int(t, 8)).alias("_hs"),
    )
    n = F.size(F.col("_hs"))

    def _bit_set(i):  # unary lambda: 2-arg form would bind the array index
        return lambda h: F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1

    terms = []
    for i in range(bits):
        set_cnt = F.size(F.filter(F.col("_hs"), _bit_set(i)))
        terms.append(
            F.when((n > 0) & (set_cnt * 2 > n), F.lit(1 << i).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
        )
    fingerprint = terms[0]
    for t in terms[1:]:
        fingerprint = fingerprint + t
    return hashed.select("id", fingerprint.alias("simhash"))


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for candidate pairs sharing >=1 n-gram.

    explode(distinct n-grams) -> self-join on the n-gram -> count shared ->
    |A ∪ B| = |A| + |B| - shared.  The join is equi on the n-gram; frequency
    cap (drop n-grams appearing in > 1000 docs) bounds the blow-up on
    stop-phrase n-grams at scale.

    ``grams`` is materialized once via localCheckpoint: the plan
    references it five times (per-doc sizes, gram frequencies, the capped
    set, and both sides of the self-join) and each reference would
    otherwise re-split and re-shingle every document — the same
    compute-once discipline as :func:`minhash_lsh_dedup`'s signatures.
    localCheckpoint rather than persist because the exploded (id, gram)
    relation is several times the corpus size and a CacheManager entry
    would pin it for the whole session (advice round 5: the worst of the
    two leaks); a checkpointed RDD spills the same way (MEMORY_AND_DISK)
    but is released by the ContextCleaner once the result is dropped.
    Output: (id_a, id_b, jaccard).
    """
    grams = (
        df.select(F.col(id_col).alias("id"), _words(F.col(text_col)).alias("_w"))
        .select("id", F.explode(F.array_distinct(_shingles(F.col("_w"), n)))
                .alias("gram"))
        .localCheckpoint(eager=False)
    )
    sizes = grams.groupBy("id").agg(F.count(F.lit(1)).alias("n_grams"))
    freq = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("df_"))
    grams_capped = grams.join(
        F.broadcast(freq.filter(F.col("df_") <= 1000).select("gram")), "gram"
    )
    a = grams_capped.select(F.col("id").alias("id_a"), "gram")
    b = grams_capped.select(F.col("id").alias("id_b"), "gram")
    shared = (
        a.join(b, "gram")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_grams").alias("na"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_grams").alias("nb"))
    return (
        shared.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.col("shared")
                / (F.col("na") + F.col("nb") - F.col("shared")).cast("double")
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
