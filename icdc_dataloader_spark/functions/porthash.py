"""Portable (cross-engine) hash primitives.

The scale-path operators hash with ``xxhash64`` — JVM whole-stage-codegen,
the fastest primitive Spark has.  xxhash64 does not exist in other engines,
so every hash-based operator (minhash, simhash, fingerprint, LSH) also has
a *portable* mode whose primitive is md5 — bit-identical in Spark, DuckDB
and Python — with the first ``n_hex`` hex chars reinterpreted as a
non-negative int64 (15 hex chars = 60 bits < 2^63, so the value is identical
under signed and unsigned interpretation).

The operators are otherwise IDENTICAL in both modes; only the hash
primitive is swapped.  Portable mode is what the driver's DuckDB oracle
verifies value-for-value; xxhash64 mode is what the benchmark runs.  The
reference has no analogue (it hashes with Python hashlib row-at-a-time,
e.g. file md5/sha512 at file_loader.py:98-113).

The forms that must agree all live here: Spark Columns (``hex_int``,
``hash_pair_from_digest``), Spark SQL text for ``F.expr``
(``hex_int_expr``, ``family_member_expr``) and DuckDB SQL text
(``*_sql``).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

N_HEX = 15  # 60 bits


def hex_int(col: Column, n_hex: int = N_HEX) -> Column:
    """Spark side: first ``n_hex`` md5 hex chars as a non-negative long."""
    return F.conv(F.substring(F.md5(col), 1, n_hex), 16, 10).cast("long")


def hex_int_expr(expr: str, n_hex: int = N_HEX) -> str:
    """Spark SQL text of :func:`hex_int`, for ``F.expr`` over wide
    expressions: one py4j call for the whole text, where every Column
    call costs about five (PySpark's ``_with_origin`` wrapper)."""
    return f"CAST(conv(substring(md5({expr}), 1, {n_hex}), 16, 10) AS BIGINT)"


def hex_int_sql(expr: str, n_hex: int = N_HEX) -> str:
    """DuckDB side of :func:`hex_int` — same bits, same value."""
    return f"CAST('0x' || substr(md5({expr}), 1, {n_hex}) AS BIGINT)"


# -- hash family from ONE digest (Kirsch-Mitzenmacher) ----------------------
#
# g_i(x) = a(x) + i * b(x), where a = first 15 md5 hex chars (60 bits) and
# b = hex chars 16..30 reduced mod 2^55.  One md5 per input yields the whole
# family; i <= 63 keeps a + i*b < 2^61 (no int64 overflow in Spark OR
# DuckDB, so the arithmetic is bit-identical).  The md5-per-(input, i)
# remix this replaces cost num_hashes digests per shingle — the minhash
# portable leg dropped ~2.5x in wall time with identical guarantees.

B_MOD = 1 << 55
FAMILY_MAX_I = 63


def hash_pair_from_digest(digest: Column) -> Column:
    """(a, b) family basis from an already-computed md5 hex digest column.

    Takes the digest, not the input, so callers can materialize it in its
    own projection and provably pay ONE md5 per input (inside
    higher-order-function lambdas the interpreted evaluator re-computes
    duplicated subtrees; codegen's subexpression elimination does not
    apply there)."""
    return F.struct(
        F.conv(F.substring(digest, 1, N_HEX), 16, 10).cast("long").alias("a"),
        F.pmod(
            F.conv(F.substring(digest, 16, N_HEX), 16, 10).cast("long"),
            F.lit(B_MOD),
        ).alias("b"),
    )


def _check_family_index(i: int) -> None:
    # every form carries the same guard: past i=63 the int64 arithmetic
    # can overflow in DuckDB while Spark raises — the parity contract
    # must fail symmetrically on both legs, and before any job runs
    if not 0 <= i <= FAMILY_MAX_I:
        raise ValueError(f"family index {i} out of overflow-safe range")


def family_member_expr(pair: str, i: int) -> str:
    """Spark SQL text of family member ``g_i = a + i * b`` over the struct
    column named ``pair`` built by :func:`hash_pair_from_digest` (see
    :func:`hex_int_expr` for why text)."""
    _check_family_index(i)
    return f"({pair}.a + {i} * {pair}.b)"


def hash_pair_sql(expr: str) -> tuple[str, str]:
    """DuckDB basis: same (a, b) values as :func:`hash_pair_from_digest`."""
    a = f"CAST('0x' || substr(md5({expr}), 1, {N_HEX}) AS BIGINT)"
    b = f"(CAST('0x' || substr(md5({expr}), 16, {N_HEX}) AS BIGINT) % {B_MOD})"
    return a, b


def family_member_sql(a_expr: str, b_expr: str, i: int) -> str:
    """DuckDB side of :func:`family_member_expr`."""
    _check_family_index(i)
    return f"({a_expr} + {i} * {b_expr})"
