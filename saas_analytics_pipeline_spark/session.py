"""SparkSession factory with scale-aware defaults.

The reference delegates all execution/optimization to BigQuery
(`/root/reference/README.md:90-91`); our equivalent of its "partitioning,
clustering and cost-awareness" stance (`/root/reference/README.md:12`) is a
session configured for Catalyst + AQE to do the planning:

- AQE on (coalesce shuffle partitions, skew-join handling) — the reference's
  deliberate org/order skew (top 5% orgs = 50% of orders,
  `/root/reference/data_gen/pseudo_code_rules.txt:2-10`) is exactly the shape
  AQE skew-join splitting fixes at scale.
- UTC session timezone — the generator coerces all timestamps to UTC
  (`/root/reference/data_gen/generate_and_load_script.py:58-61`).
- Arrow enabled for the (rare) pandas-UDF paths.

At 100 TB the same settings hold; only `shuffle.partitions` (advisory when AQE
coalescing is on) and executor sizing change — see docs/SCALE.md.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Iterator, Sequence
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager
from typing import TypeVar

from pyspark import inheritable_thread_target
from pyspark.sql import SparkSession

T = TypeVar("T")

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "saas-analytics-pipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    local[...] for tests/bench; on a real cluster the same builder is used
    with master supplied by the environment (spark-submit).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        # --- correctness-critical ---
        .config("spark.sql.session.timeZone", "UTC")
        # --- adaptive execution: runtime re-planning, skew-join, coalesce ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # --- shuffle sizing (advisory under AQE coalescing) ---
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        # --- scan sizing: keep input splits balanced ---
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # --- broadcast: dims in this schema are tiny; 64m is generous ---
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # --- testdata events.parquet stores TIMESTAMP(NANOS); read the
        #     physical int64 and convert to micros in sources.load_table
        #     (DuckDB's reader truncates nanos->micros the same way) ---
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # --- plain timestamp[us] parquet must read as TIMESTAMP (UTC
        #     session), not TIMESTAMP_NTZ: watermarks/unix_millis need it ---
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # --- Arrow for pandas-UDF exchange ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        # keep stdout parseable: progress bars interleave with tool output
        # (selfcheck/bench print machine-read lines)
        .config("spark.ui.showConsoleProgress", "false")
    )
    return builder.getOrCreate()


@contextmanager
def scoped_confs(spark: SparkSession, confs: dict[str, str]) -> Iterator[None]:
    """Set ``confs`` on the session for the body of the ``with``, then put
    every key back exactly as it was — the previous value, or unset if it
    had none — on return and when the body raises. The planning-regime
    certificates (forced bucket SMJ, bloom injection, file-size caps,
    timestamp encoding) use this so a later query in the same session
    keeps its own planning and write behaviour."""
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def run_concurrently(spark: SparkSession, fns: Sequence[Callable[[], T]]) -> list[T]:
    """Call every ``fn`` on its own driver thread, all at once, and return
    their results in input order; an exception from any ``fn`` is re-raised
    (the first in input order, once every thread has finished).

    Every target is wrapped in ``inheritable_thread_target(spark)`` on the
    calling thread, so the caller's job group, local properties and session
    tags reach each thread's jobs: cancelling or attributing by group still
    covers them. Each wrap clones the properties for its own thread — the
    threads must not share one Properties object, since every SQL action
    sets its execution id there. One thread per callable: the width of a
    wave is its number of members, and Spark's scheduler interleaves their
    tasks across the executors."""
    if not fns:
        return []
    targets = [inheritable_thread_target(spark)(fn) for fn in fns]
    with ThreadPoolExecutor(max_workers=len(targets)) as pool:
        futures = [pool.submit(t) for t in targets]
        return [f.result() for f in futures]
