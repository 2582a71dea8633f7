"""Scalar-function helpers shared across operators.

Three cross-cutting concerns live here:

1. **Engine-portable money math.** The reference quantizes money to 2 dp
   with ROUND_HALF_UP (`/root/reference/data_gen/generate_and_load_script.py:
   55-56`). We compute money in DECIMAL (exact) and only cast the final
   aggregate to DOUBLE, so Spark and the DuckDB oracle produce bit-identical
   results regardless of float summation order. Summing raw doubles would be
   non-deterministic across engines/partitionings; decimal summation is exact
   and associative — it also survives any degree of parallelism at 100 TB.

2. **Engine-portable 60-bit hashing** for dedup/sketch operators: both Spark
   and DuckDB expose md5; the first 15 hex chars cast to BIGINT give the same
   uniform 60-bit integer in both engines (Spark `conv(...,16,10)`, DuckDB
   `('0x'||...)::BIGINT`). Used by MinHash / SimHash / fingerprints so the
   DuckDB oracle can replay them exactly.

3. **Internal token-window hashing** (:func:`window_hashes`): 64-bit keys
   for shingles, n-grams and exact-overlap windows that are only compared,
   never output, so no oracle replays them.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

MONEY = "decimal(18,2)"


def money(c: Column | str) -> Column:
    """Cast a (double) money column to exact DECIMAL(18,2)."""
    col = F.col(c) if isinstance(c, str) else c
    return col.cast(MONEY)


def money_sum(c: Column | str, alias: str) -> Column:
    """Exact decimal sum surfaced as double (see module docstring)."""
    return F.sum(money(c)).cast("double").alias(alias)


def hash60(c: Column | str) -> Column:
    """Deterministic 60-bit integer hash of a string column, identical in
    Spark and DuckDB (md5 hex prefix -> bigint)."""
    col = F.col(c) if isinstance(c, str) else c
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def hash60_sql(expr: str) -> str:
    """DuckDB SQL twin of :func:`hash60`."""
    return f"CAST('0x' || substr(md5({expr}), 1, 15) AS BIGINT)"


EMAIL_RE = r"[A-Za-z0-9.+_-]+@[A-Za-z0-9-]+\.[A-Za-z0-9.-]+"


def window_hashes(toks: Column, w: int, whole_if_short: bool = True) -> Column:
    """xxhash64 of every ``w``-token window of a pre-split token array, as
    an array<bigint> in window order — the shared kernel for INTERNAL
    window keys (compared for equality, distinct-counted or intersected;
    never output, never replayed by an oracle).

    Each window hashes its token SLICE directly instead of a joined
    window string, so no per-window string is built. Equivalence: the
    tokens come from ``split(text, ' ')`` and so contain no space, which
    makes "equal slices" and "equal joined strings" the same relation;
    every consumer's output is therefore unchanged up to 64-bit hash
    collisions — the same assumption xxhash64-of-the-string carried.

    ``whole_if_short`` keeps the two short-document rules of the string
    builders: True (shingles_arr / word_ngrams) gives a doc with fewer
    than ``w`` tokens one window, the whole doc; False (exact-overlap
    windows) gives it none."""
    n = F.size(toks) - F.lit(w - 1)
    hashes = F.transform(
        F.sequence(F.lit(1), F.greatest(n, F.lit(1))),
        lambda i: F.xxhash64(F.slice(toks, i, w)),
    )
    if whole_if_short:
        return hashes
    return F.when(n >= 1, hashes).otherwise(F.array().cast("array<bigint>"))
