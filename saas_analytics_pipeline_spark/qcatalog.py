"""Query catalog: the driver-facing registry of (Spark query, SQL oracle).

Every operator from SURVEY.md section 2 that has a Key registers here via
the :func:`query` decorator; ``__spark_entry__.queries()`` /
``oracle_sql()`` are thin views over this catalog. Keeping both halves in
one place makes the column-name contract (Spark aliases == oracle aliases)
reviewable side by side.

Driver window: the driver verifies the first 50 keys of ``queries()`` each
round, so :func:`ordered_keys` puts keys with no green
``CORRECTNESS_r*.json`` row first, in registration order. The verified keys
follow, oldest latest-green round first, ties in registration order.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

SparkQuery = Callable[[SparkSession, str], DataFrame]


@dataclass
class CatalogEntry:
    name: str
    fn: SparkQuery
    oracle: str | None  # DuckDB ANSI SQL twin; None => rows-only check
    doc: str = ""


QUERIES: dict[str, CatalogEntry] = {}


def query(name: str, oracle: str | None = None) -> Callable[[SparkQuery], SparkQuery]:
    """Register a (spark, sf_dir) -> DataFrame callable plus its oracle."""

    def deco(fn: SparkQuery) -> SparkQuery:
        if name in QUERIES:
            raise ValueError(f"duplicate query key {name!r}")
        QUERIES[name] = CatalogEntry(name, fn, oracle, fn.__doc__ or "")
        return fn

    return deco


# --------------------------------------------------------------------------
# Driver-window ordering (the rule is stated in the module docstring)
# --------------------------------------------------------------------------


def verified_keys() -> dict[str, str]:
    """Map each driver-verified key to its LATEST green round: hash_match=true
    is a green row; err='no_oracle' with a recorded row count is the
    rows-only check (the strongest result a no-oracle query can get).
    Unreadable files are skipped."""
    import json
    from pathlib import Path

    verified: dict[str, str] = {}
    root = Path(__file__).resolve().parent.parent
    for p in sorted(root.glob("CORRECTNESS_r*.json")):
        rnd = p.stem.split("_")[-1]
        try:
            data = json.loads(p.read_text())
        except (OSError, ValueError):
            continue
        for key, row in data.items():
            if not isinstance(row, dict):
                continue
            green = row.get("hash_match") is True or (
                row.get("err") == "no_oracle"
                and row.get("spark_rows") is not None
            )
            if green:
                # files scan in round order, so the last write is the latest
                verified[key] = rnd
    return verified


def ordered_keys() -> list[str]:
    """Window order: keys with no green row first, in registration order,
    then verified keys OLDEST latest-green round first (ties in
    registration order) — so once every key is verified the window is a
    rolling re-verification of the stalest certifications."""
    verified = verified_keys()
    fresh = [k for k in QUERIES if k not in verified]
    # sorted() is stable, so equal rounds keep registration order
    done = sorted((k for k in QUERIES if k in verified), key=verified.__getitem__)
    return fresh + done


def load_all() -> None:
    """Import every module that registers queries (idempotent)."""
    from saas_analytics_pipeline_spark import marts, staging  # noqa: F401
    from saas_analytics_pipeline_spark.operators import (  # noqa: F401
        audits,
        cohorts,
        corpus,
        curation,
        dedup,
        graph,
        joins,
        lake,
        multimodal,
        retrieval,
        scd2,
        sessionize,
        similarity,
        sketches,
        sqlops,
        stats,
        text,
        tpch,
    )
    from saas_analytics_pipeline_spark.functions import udfs  # noqa: F401
    from saas_analytics_pipeline_spark.quality import checks  # noqa: F401
    from saas_analytics_pipeline_spark.streaming import jobs, stateful  # noqa: F401

    # imported LAST on purpose: ordered_keys sorts unverified keys by
    # registration order, and the driver's window covers only the first
    # 50 — keys that have waited since earlier rounds must verify before
    # this round's additions.
    from saas_analytics_pipeline_spark.operators import tpch2  # noqa: F401


# Logical-plan cache: a catalog query is a PURE function of
# (session, sf_dir) — same immutable lake snapshot, same immutable
# DataFrame plan — yet building one costs 50-950 py4j round trips
# (~40-300 ms; measured 3.7 s across the 27-query headline set, ~23% of
# its wall time). A warehouse compiles a repeated query once (prepared
# statements / dbt compile); this cache is that behavior, same contract
# as sources._RELATION_CACHE. Keyed by applicationId so entries die with
# their SparkContext. Execution is NOT cached — every run re-executes
# the plan against the lake.
_PLAN_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def _memoized(name: str, fn: SparkQuery) -> SparkQuery:
    import functools

    @functools.wraps(fn)
    def wrapper(spark: SparkSession, sf_dir: str) -> DataFrame:
        key = (spark.sparkContext.applicationId, sf_dir, name)
        df = _PLAN_CACHE.get(key)
        if df is None:
            # evict plans pinned to stopped contexts before caching under a
            # new one (one live SparkContext per process, so any other
            # appId is dead) — bounds the cache in multi-session processes
            for k in [k for k in _PLAN_CACHE if k[0] != key[0]]:
                del _PLAN_CACHE[k]
            df = fn(spark, sf_dir)
            _PLAN_CACHE[key] = df
        return df

    return wrapper


def spark_queries() -> dict[str, SparkQuery]:
    load_all()
    return {k: _memoized(k, QUERIES[k].fn) for k in ordered_keys()}


def oracles() -> dict[str, str]:
    load_all()
    return {
        k: QUERIES[k].oracle
        for k in ordered_keys()
        if QUERIES[k].oracle is not None
    }
