"""Source registry: external parquet tables + freshness metadata.

Mirrors the reference's dbt `sources:` block (`/root/reference/models/
schema.yml:4-10`): a named set of externally-loaded tables, each with a
`loaded_at_field` used for freshness SLAs, registered into the engine's
catalog. Here sources are the driver-generated parquet tables
(`/root/repo/TESTDATA.md`).

Scale note: parquet scans get predicate pushdown + column pruning from
Catalyst for free; `load_tables` does NOT cache or materialize — each query
plans its own pruned scan. At 100 TB the same code reads a partitioned
lake path; partition pruning applies when the path is dt-partitioned.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Table name -> event-time ("loaded_at") column used for freshness checks;
# None = static dimension, no freshness SLA (reference sets loaded_at_field
# per source table, models/schema.yml:9,13).
TABLES: dict[str, str | None] = {
    "region": None,
    "nation": None,
    "customer": None,
    "supplier": None,
    "part": None,
    "orders": "o_orderdate",
    "lineitem": "l_shipdate",
    "events": "ts",
    "documents": None,
    "embeddings": None,
}


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


# Resolved-relation cache: re-resolving a parquet relation costs a file
# listing + footer read + schema reconciliation (~100 ms per table on the
# bench host) on EVERY load_table call, and a typical query loads 2-6
# tables. A real warehouse resolves a table once per session through its
# metastore; this cache is that behavior. Safe because DataFrames are
# immutable logical plans and the lake snapshot is immutable for a
# session's lifetime; keyed by applicationId so entries die with their
# SparkContext.
_RELATION_CACHE: dict[tuple[str, str, str], DataFrame] = {}
_CONFS_DONE: set[str] = set()
# spread_for_fanout decision cache: (applicationId, id(input df)) ->
# (input df, spread result), for _RELATION_CACHE frames only. Holding the
# input ref keeps the id() stable.
_SPREAD_CACHE: dict[tuple[str, int], tuple[DataFrame, DataFrame]] = {}


def ensure_session_confs(spark: SparkSession) -> None:
    """Defensive runtime confs: queries must behave identically even when
    the caller (e.g. the verify driver) built a vanilla SparkSession rather
    than session.get_spark(). All confs are runtime-settable; applied once
    per SparkContext."""
    app_id = spark.sparkContext.applicationId
    if app_id in _CONFS_DONE:
        return
    # first sighting of a new SparkContext: evict cache entries pinned to
    # stopped contexts (one context per process, so any other appId is
    # dead) — keeps long-lived multi-session processes from accumulating
    # unreachable DataFrame plans (ADVICE r5)
    for cache in (_RELATION_CACHE, _SPREAD_CACHE):
        for k in [k for k in cache if k[0] != app_id]:
            del cache[k]
    _CONFS_DONE.intersection_update({app_id})
    # events.parquet stores TIMESTAMP(NANOS): unreadable without this
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # all reference timestamps are UTC (generate_and_load_script.py:58-61)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # plain timestamp[us] parquet (isAdjustedToUTC=false) would otherwise
    # infer as TIMESTAMP_NTZ in Spark 4, which breaks unix_millis/watermarks;
    # with the session TZ pinned UTC the instant values are identical either
    # way, so read everything as TIMESTAMP.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    _CONFS_DONE.add(app_id)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown source table {name!r}; known: {sorted(TABLES)}")
    ensure_session_confs(spark)
    key = (spark.sparkContext.applicationId, sf_dir, name)
    df = _RELATION_CACHE.get(key)
    if df is None:
        df = normalize_nanos_ts(spark.read.parquet(table_path(sf_dir, name)))
        _RELATION_CACHE[key] = df
    return df


def normalize_nanos_ts(df: DataFrame) -> DataFrame:
    """Normalize event-time encodings to a plain (UTC) TIMESTAMP column.

    Two encodings appear in the wild testdata:
    - TIMESTAMP(NANOS) read as int64 under spark.sql.legacy.parquet.
      nanosAsLong (session.py) — truncate to micros exactly like DuckDB's
      reader does;
    - plain timestamp[us] (isAdjustedToUTC=false) read as TIMESTAMP_NTZ when
      a frame was built before ensure_session_confs disabled NTZ inference —
      cast to TIMESTAMP (session TZ is pinned UTC, so the instant is
      unchanged). Watermarks/unix_millis require TIMESTAMP, not NTZ."""
    for field in df.schema.fields:
        if field.name == "ts" and field.dataType.simpleString() == "bigint":
            # integer div: float division would lose precision at 1e18 nanos
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif field.dataType.simpleString() == "timestamp_ntz":
            df = df.withColumn(field.name, F.col(field.name).cast("timestamp"))
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, names: list[str] | None = None
) -> dict[str, DataFrame]:
    """Load sources as DataFrames (lazy scans; nothing materialized)."""
    return {n: load_table(spark, sf_dir, n) for n in (names or list(TABLES))}


def register_sources(spark: SparkSession, sf_dir: str) -> None:
    """Register every source as a temp view so spark.sql can see them —
    the Spark analogue of dbt's `{{ source('raw', t) }}` resolution."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)


def load_evolved(spark: SparkSession, path: str) -> DataFrame:
    """Read a parquet dataset whose files carry EVOLVED schemas (columns
    added over time): mergeSchema reconciles all footers; rows from older
    files surface the new columns as nulls. This is the file-level twin of
    the JSON-payload drift tolerance (q_json_drift) — the raw zone keeps
    accepting widened loads without rewrites.

    Scale note: schema merging reads every file footer at planning time;
    on huge lakes pin the merged schema explicitly once discovered."""
    return spark.read.option("mergeSchema", "true").parquet(path)


def spread_for_fanout(df: DataFrame) -> DataFrame:
    """Redistribute a scan that cannot parallelize BEFORE a CPU-heavy
    per-row stage: a high-fan-out expansion (shingle/token window
    explode + hash) or a costly per-row projection (the HTML synthesis
    and regex extraction chain of q_html_extract).

    The bench testdata writes each table as a single one-row-group parquet
    file; a row group is unsplittable, so every downstream expression —
    including a 150x shingle explode — runs in ONE task while the other
    cores idle (docs/SCALE.md "scan-parallelism ceiling"). The standard
    fix for unsplittable inputs (same as gzipped text) is one round-robin
    repartition of the RAW rows before the heavy stage: it moves the
    corpus exactly once at 1x volume (vs the 150x exploded volume a later
    key-shuffle would carry) and unlocks full parallelism for the
    expansion or projection.

    On a real lake the scan arrives in many splits and this is a NO-OP
    (the guard below: the input must have at most half of
    defaultParallelism partitions) — so the 100 TB invariant "text never
    key-shuffles" still holds: the only Exchange that may carry text is
    this conditional, volume-neutral spread, and only on degenerate
    layouts. Results are partition-order-independent for every catalog
    query by design, so the redistribution cannot change any value.

    The partition-count probe (df.rdd.getNumPartitions) builds a
    plan-to-RDD conversion each call, so the decision is cached per
    (session, relation) — but only for the frames load_table hands out,
    which _RELATION_CACHE dedups to one object per (app, sf_dir, table):
    an identity key then gives one probe per table per session. Any other
    frame (a filtered or semi-joined input built afresh per query
    construction) is probed without caching, since its identity never
    recurs and an entry for it could never hit. The cached input ref
    both pins the id() against reuse and keeps the guard exact."""
    sc = df.sparkSession.sparkContext
    key = (sc.applicationId, id(df))
    hit = _SPREAD_CACHE.get(key)
    if hit is not None and hit[0] is df:
        return hit[1]
    target = sc.defaultParallelism
    out = df.repartition(target) if df.rdd.getNumPartitions() * 2 <= target else df
    if any(v is df for v in _RELATION_CACHE.values()):
        _SPREAD_CACHE[key] = (df, out)
    return out
