"""Cross-engine-deterministic hash helpers.

Spark's ``xxhash64``/``hash`` and DuckDB's ``hash`` disagree, so every
hash that participates in oracle-checked results is derived from
md5/sha256 hex digests (identical across engines) parsed positionally
into integers. Spark parses hex with ``conv``; DuckDB (which lacks
hex→int) gets a generated positional-arithmetic expression.

All of these stay in whole-stage codegen on the Spark side.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def md5_int(c: Column | str, hex_chars: int = 12) -> Column:
    """First ``hex_chars`` hex chars of md5 as a non-negative long.

    12 hex chars = 48 bits — safely positive in int64 and small enough
    that (a*h + b) mod-prime schemes can't overflow when reduced first.
    """
    if hex_chars > 15:
        raise ValueError("hex_chars > 15 can overflow a signed long")
    return F.conv(F.substring(F.md5(_c(c)), 1, hex_chars), 16, 10).cast("long")


def md5_int_sql(expr: str, hex_chars: int = 12) -> str:
    """DuckDB equivalent of :func:`md5_int`."""
    h = f"md5({expr})"
    terms = " + ".join(
        f"(strpos('0123456789abcdef', substr({h}, {i + 1}, 1)) - 1)::BIGINT * {16 ** (hex_chars - 1 - i)}"
        for i in range(hex_chars)
    )
    return f"({terms})"


# 2^31 - 1: keeps (a * (h % P) + b) < 2^62 — no int64 overflow in either
# engine (DuckDB raises on BIGINT overflow; Spark silently wraps).
MERSENNE31 = 2147483647


def affine_hash(h: str, a: int, b: int, p: int = MERSENNE31) -> str:
    """Universal-hash family member h -> (a*(h%p)+b) % p, overflow-safe,
    as SQL text that Spark and DuckDB read alike."""
    return f"({a} * (({h}) % {p}) + {b}) % {p}"


def minhash_params(num_perms: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the minhash permutation family.

    Derived from a fixed LCG so both the Spark plan and the SQL oracle
    embed identical constants; no RNG state at runtime.
    """
    params = []
    state = seed
    for _ in range(num_perms):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = (state % (MERSENNE31 - 1)) + 1  # a != 0
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        b = state % MERSENNE31
        params.append((a, b))
    return params


def key_digest(key: Column | str) -> Column:
    """Null-safe md5 digest of a (string) key for the sketch family:
    NULL hashes as ``'N'``, a value ``v`` as ``'V' || v`` — a prefix
    code, so NULL can never collide with any real key (including the
    literal strings ``'N'`` / ``'<NULL>'``). NULL keys are first-class
    in frequency sketches — on a dirty 100 TB table the MODAL key is
    often NULL, and a plain ``md5(key)`` hashes it to NULL buckets
    that silently fall out of every probe-grid equi-join, so the
    heaviest hitter goes missing from the report (r9 review
    finding)."""
    k = _c(key)
    return F.md5(
        F.when(k.isNull(), F.lit("N")).otherwise(F.concat(F.lit("V"), k))
    )


def key_digest_sql(expr: str) -> str:
    """DuckDB equivalent of :func:`key_digest`."""
    return f"md5(CASE WHEN ({expr}) IS NULL THEN 'N' ELSE 'V' || ({expr}) END)"


def hex_span(digest: Column | str, start: int, hex_chars: int) -> Column:
    """Independent hash values carved from ONE already-computed hex
    digest column: the ``hex_chars``-wide span starting at 1-based hex
    position ``start`` parsed as a non-negative long. Lets a depth-d
    sketch charge one md5 per row instead of d (md5's 32 hex chars
    give e.g. 3 disjoint 5-char buckets + 3 sign bits to spare)."""
    if start + hex_chars - 1 > 32:
        raise ValueError("span exceeds the 32-char md5 digest")
    if hex_chars > 15:
        raise ValueError("hex_chars > 15 can overflow a signed long")
    return F.conv(F.substring(_c(digest), start, hex_chars), 16, 10).cast("long")


def hex_span_sql(digest_col: str, start: int, hex_chars: int) -> str:
    """DuckDB equivalent of :func:`hex_span` over a digest column."""
    terms = " + ".join(
        f"(strpos('0123456789abcdef', substr({digest_col}, {start + i}, 1)) - 1)::BIGINT * {16 ** (hex_chars - 1 - i)}"
        for i in range(hex_chars)
    )
    return f"({terms})"
