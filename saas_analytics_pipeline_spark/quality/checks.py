"""Declarative data-quality framework (dbt generic tests, Spark-native).

dbt semantics (`/root/reference/models/schema.yml` passim): every test
compiles to a query returning VIOLATING rows; pass <=> 0 rows. We keep that
contract: each builder returns a DataFrame of violations, and `run_checks`
evaluates a whole suite. Implemented generics: unique, not_null,
relationships, accepted_values (all used in the reference schema.yml) plus
source freshness (`models/schema.yml:14`, warn_after 24h) and the custom DQ
checks the reference lists at README.md:54-59.

Scale notes: unique is one hash-agg on the key; relationships is a broadcast
or shuffle anti-join; accepted_values/not_null are scan-local filters.
Violation frames are lazy, and `run_checks` evaluates a suite as ONE
concurrent wave: every check's count runs on its own driver thread under
the caller's job group and local properties (`session.run_concurrently`),
so the scheduler interleaves the suite's small jobs across the executors
instead of paying each job's launch latency in turn — dbt's test-phase
`threads`, with the width set by the suite. Only counts come back to the
driver; at 100 TB you'd `.limit()` the violation samples rather than
collecting them all.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from saas_analytics_pipeline_spark.functions import hash60_sql, money
from saas_analytics_pipeline_spark.qcatalog import query
from saas_analytics_pipeline_spark.session import run_concurrently
from saas_analytics_pipeline_spark.sources import TABLES, load_table


# --------------------------------------------------------------------------
# generic test builders: DataFrame -> violations DataFrame
# --------------------------------------------------------------------------
def unique(df: DataFrame, *cols: str) -> DataFrame:
    """Rows violating a uniqueness contract: keys seen more than once."""
    return (
        df.groupBy(*cols)
        .agg(F.count("*").alias("n_dup"))
        .where(F.col("n_dup") > 1)
    )


def not_null(df: DataFrame, *cols: str) -> DataFrame:
    cond = None
    for c in cols:
        cur = F.col(c).isNull()
        cond = cur if cond is None else (cond | cur)
    return df.where(cond)


def relationships(child: DataFrame, child_key: str, parent: DataFrame, parent_key: str) -> DataFrame:
    """FK violations: child keys with no parent (dbt relationships test)."""
    return (
        child.where(F.col(child_key).isNotNull())
        .join(parent, F.col(child_key) == parent[parent_key], "left_anti")
    )


def accepted_values(df: DataFrame, col: str, values: list) -> DataFrame:
    return df.where(~F.col(col).isin(values) | F.col(col).isNull())


def freshness(
    df: DataFrame,
    loaded_at: str,
    now: str | Column,
    warn_after_hours: int = 24,
    error_after_hours: int | None = None,
) -> DataFrame:
    """Source freshness: one row per status (dbt source freshness,
    models/schema.yml:14). `now` is supplied (no wall-clock in queries):
    a timestamp string, or a Column evaluated in the same aggregate — the
    CI gate passes ``F.max(loaded_at)`` to pin 'now' to the newest row in
    one job instead of collecting it first.

    Two-level SLA, dbt semantics: age > error_after -> 'error',
    age > warn_after -> 'warn', else 'pass'. ``error_after_hours=None``
    keeps the single warn threshold."""
    now_col = now if isinstance(now, Column) else F.lit(now)
    age_h = (
        F.unix_timestamp(now_col.cast("timestamp"))
        - F.unix_timestamp(F.max(loaded_at))
    ) / 3600.0
    status = F.when(
        F.lit(error_after_hours is not None) & (age_h > (error_after_hours or 0)),
        F.lit("error"),
    ).when(age_h > warn_after_hours, F.lit("warn")).otherwise(F.lit("pass"))
    return df.agg(
        F.max(loaded_at).alias("max_loaded_at"),
        age_h.alias("age_hours"),
        status.alias("status"),
    )


@dataclass
class CheckResult:
    name: str
    violations: int
    passed: bool


def run_checks(checks: dict[str, DataFrame]) -> list[CheckResult]:
    """Evaluate a named suite of violation frames (dbt build's test phase)
    as one concurrent wave; results come back in suite order."""
    if not checks:
        return []
    spark = next(iter(checks.values())).sparkSession
    counts = run_concurrently(spark, [df.count for df in checks.values()])
    return [CheckResult(name, n, n == 0) for name, n in zip(checks, counts)]


def standard_suite(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """The reference's schema.yml contract re-expressed over the testdata."""
    t = {n: load_table(spark, sf_dir, n) for n in TABLES}
    return {
        "unique_orders_pk": unique(t["orders"], "o_orderkey"),
        "unique_customer_pk": unique(t["customer"], "c_custkey"),
        "unique_events_pk": unique(t["events"], "event_id"),
        "not_null_orders": not_null(t["orders"], "o_orderkey", "o_custkey"),
        "not_null_lineitem": not_null(t["lineitem"], "l_orderkey", "l_quantity"),
        "rel_orders_customer": relationships(
            t["orders"], "o_custkey", t["customer"], "c_custkey"
        ),
        "rel_lineitem_orders": relationships(
            t["lineitem"], "l_orderkey", t["orders"], "o_orderkey"
        ),
        "rel_customer_nation": relationships(
            t["customer"], "c_nationkey", t["nation"], "n_nationkey"
        ),
        "accepted_orderstatus": accepted_values(
            t["orders"], "o_orderstatus", ["F", "O", "P"]
        ),
    }


def known_dirty_suite(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Checks with KNOWN-POSITIVE targets: the generator injects defects on
    purpose (dup rule, pseudo_code_rules.txt:39-47) so these must find rows
    — the reference's adversarial-synthetic-data strategy (SURVEY.md 5.5)."""
    li = load_table(spark, sf_dir, "lineitem")
    return {
        "dup_lineitem_pk": unique(li, "l_orderkey", "l_linenumber"),
    }


# --------------------------------------------------------------------------
# driver-facing queries
# --------------------------------------------------------------------------
@query(
    "q_uniqueness",
    oracle="""
    SELECT l_orderkey, COUNT(*) AS n_dup
    FROM lineitem GROUP BY l_orderkey HAVING COUNT(*) > 1
    """,
)
def q_uniqueness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-key detection (ref: unique tests models/schema.yml:17,29...;
    dup injection pseudo_code_rules.txt:39-47). l_orderkey alone is
    deliberately non-unique so the check has positives."""
    li = load_table(spark, sf_dir, "lineitem")
    return unique(li, "l_orderkey")


@query(
    "q_payment_recon",
    oracle="""
    WITH line_tot AS (
        SELECT l_orderkey,
               SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                   * (1 - CAST(l_discount AS DECIMAL(6,4)))) AS line_total
        FROM lineitem GROUP BY l_orderkey
    )
    SELECT
        COUNT(*) AS n_orders,
        COUNT(*) FILTER (WHERE line_total IS NULL) AS n_unmatched,
        COUNT(*) FILTER (WHERE line_total IS NOT NULL
            AND abs(CAST(o.o_totalprice AS DECIMAL(18,2)) - line_total) > 1.0)
            AS n_mismatch,
        CAST(SUM(abs(CAST(o.o_totalprice AS DECIMAL(18,2))
                     - COALESCE(line_total, 0))) AS DOUBLE) AS total_abs_diff
    FROM orders o LEFT JOIN line_tot lt ON o.o_orderkey = lt.l_orderkey
    """,
)
def q_payment_recon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reconciliation orders ~ payments (ref: README.md:56,66): partial
    aggregate each side FIRST, then join the small aggregates — never join
    the raw facts. Tolerance 1.00."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    net = money("l_extendedprice") * (
        F.lit(1) - F.col("l_discount").cast("decimal(6,4)")
    )
    line_tot = li.groupBy("l_orderkey").agg(F.sum(net).alias("line_total"))
    joined = o.join(line_tot, o.o_orderkey == line_tot.l_orderkey, "left")
    diff = money("o_totalprice") - F.coalesce(
        F.col("line_total"), F.lit(0).cast("decimal(18,2)")
    )
    return joined.agg(
        F.count("*").alias("n_orders"),
        F.count(F.when(F.col("line_total").isNull(), 1)).alias("n_unmatched"),
        F.count(
            F.when(
                F.col("line_total").isNotNull()
                & (F.abs(money("o_totalprice") - F.col("line_total")) > 1.0),
                1,
            )
        ).alias("n_mismatch"),
        F.sum(F.abs(diff)).cast("double").alias("total_abs_diff"),
    )


@query(
    "q_audit_recon",
    oracle="""
    SELECT * FROM (
        SELECT 'orders' AS table_name, COUNT(*) AS load_rows,
               COUNT(*) AS wh_rows, COUNT(*) = COUNT(*) AS is_match FROM orders
        UNION ALL
        SELECT 'lineitem', COUNT(*), COUNT(*), TRUE FROM lineitem
        UNION ALL
        SELECT 'events', COUNT(*), COUNT(*), TRUE FROM events
    )
    """,
)
def q_audit_recon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audit reconciliation loader-rows == warehouse-rows per table (ref:
    raw_audit, models/schema.yml:122-141). In production load_rows comes from
    the loader's manifest; here both sides count the same table."""
    frames = []
    for name in ("orders", "lineitem", "events"):
        df = load_table(spark, sf_dir, name)
        frames.append(
            df.agg(
                F.lit(name).alias("table_name"),
                F.count("*").alias("load_rows"),
                F.count("*").alias("wh_rows"),
                (F.count("*") == F.count("*")).alias("is_match"),
            )
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


@query(
    "q_freshness",
    oracle="""
    SELECT MAX(ts) AS max_loaded_at,
           (date_diff('second', MAX(ts), TIMESTAMP '2024-02-01 00:00:00')) / 3600.0
               AS age_hours,
           CASE WHEN (date_diff('second', MAX(ts),
                      TIMESTAMP '2024-02-01 00:00:00')) / 3600.0 > 72
                THEN 'error'
                WHEN (date_diff('second', MAX(ts),
                      TIMESTAMP '2024-02-01 00:00:00')) / 3600.0 > 24
                THEN 'warn' ELSE 'pass' END AS status
    FROM events
    """,
)
def q_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source freshness vs a supplied 'now' (ref: models/schema.yml:14,
    warn_after 24h; README.md:66), with dbt's two-level warn/error SLA
    (error_after 72h). now is pinned to 2024-02-01 for reproducibility —
    production passes the orchestrator's clock."""
    ev = load_table(spark, sf_dir, "events")
    return freshness(ev, "ts", "2024-02-01 00:00:00", 24, error_after_hours=72)


@query(
    "q_dq_summary",
    oracle="""
    SELECT 'unique_orders_pk' AS check_name,
           (SELECT COUNT(*) FROM (
               SELECT o_orderkey FROM orders
               GROUP BY o_orderkey HAVING COUNT(*) > 1)) AS n_violations
    UNION ALL
    SELECT 'unique_lineitem_pk',
           (SELECT COUNT(*) FROM (
               SELECT l_orderkey, l_linenumber FROM lineitem
               GROUP BY l_orderkey, l_linenumber HAVING COUNT(*) > 1))
    UNION ALL
    SELECT 'not_null_orders_keys',
           (SELECT COUNT(*) FROM orders
            WHERE o_orderkey IS NULL OR o_custkey IS NULL)
    UNION ALL
    SELECT 'rel_orders_customer',
           (SELECT COUNT(*) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey))
    UNION ALL
    SELECT 'rel_customer_nation',
           (SELECT COUNT(*) FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM nation n
                              WHERE n.n_nationkey = c.c_nationkey))
    UNION ALL
    SELECT 'accepted_orderstatus',
           (SELECT COUNT(*) FROM orders
            WHERE o_orderstatus NOT IN ('F', 'O', 'P'))
    """,
)
def q_dq_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-shot DQ suite summary: every generic test with its violation
    count — the engine's `dbt build --warn-error` gate as a single
    DataFrame (ref: CI gate dbt-ci.yml:42; the injected lineitem PK dups
    surface here as known positives). Each check is an independent
    assertion subquery; union'ed so orchestration reads ONE result."""
    t = {n: load_table(spark, sf_dir, n)
         for n in ("orders", "lineitem", "customer", "nation")}

    def cnt(df: DataFrame) -> F.Column:
        # scalar count as a 1-row frame; crossJoin-free via agg + lit label
        return df.agg(F.count("*").cast("long").alias("n_violations"))

    rows = [
        ("unique_orders_pk", unique(t["orders"], "o_orderkey")),
        ("unique_lineitem_pk", unique(t["lineitem"], "l_orderkey", "l_linenumber")),
        ("not_null_orders_keys",
         t["orders"].where(F.col("o_orderkey").isNull()
                           | F.col("o_custkey").isNull())),
        ("rel_orders_customer",
         relationships(t["orders"], "o_custkey", t["customer"], "c_custkey")),
        ("rel_customer_nation",
         relationships(t["customer"], "c_nationkey", t["nation"], "n_nationkey")),
        ("accepted_orderstatus",
         accepted_values(t["orders"], "o_orderstatus", ["F", "O", "P"])),
    ]
    out = None
    for name, violations in rows:
        one = cnt(violations).select(
            F.lit(name).alias("check_name"), "n_violations"
        )
        out = one if out is None else out.unionByName(one)
    return out


def observed(df: DataFrame, name: str = "metrics"):
    """Attach zero-cost pipeline metrics to a frame: row count, per-column
    null counts — collected DURING the next action (Spark Observation API),
    so audits ride the job instead of re-scanning (the load_rows side of
    q_audit_recon for free). Returns (df, observation); read
    observation.get after an action."""
    from pyspark.sql import Observation

    obs = Observation(name)
    metrics = [F.count(F.lit(1)).alias("n_rows")] + [
        F.count(F.when(F.col(c).isNull(), 1)).alias(f"n_null_{c}")
        for c in df.columns[:8]
    ]
    return df.observe(obs, *metrics), obs


@query(
    "q_table_checksum",
    oracle="""
    WITH h AS (
        SELECT CAST('0x' || substr(md5(
               concat_ws('|', CAST(o_orderkey AS VARCHAR),
                         CAST(o_custkey AS VARCHAR), o_orderstatus,
                         CAST(o_totalprice AS VARCHAR))), 1, 15) AS BIGINT)
               AS rh
        FROM orders
    )
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(CAST(rh AS HUGEINT)) AS VARCHAR) AS checksum_sum,
           bit_xor(rh) AS checksum_xor
    FROM h
    """,
)
def q_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive table fingerprint: SUM of per-row 60-bit content
    hashes (+ row count). Two table versions compare with one number each
    side — the cheap cross-environment recon primitive (migration checks,
    replica drift) that avoids moving either table. Both reductions are
    commutative+associative, so partitioning-independent: the decimal(38,0)
    sum detects any multiset change (no overflow below ~8e19 rows); the
    bit_xor complements it (an int64, but identical duplicate PAIRS cancel
    — which the sum catches). Compared as strings cross-engine."""
    from saas_analytics_pipeline_spark.functions import hash60

    o = load_table(spark, sf_dir, "orders")
    row_hash = hash60(
        F.concat_ws(
            "|",
            F.col("o_orderkey").cast("string"),
            F.col("o_custkey").cast("string"),
            F.col("o_orderstatus"),
            F.col("o_totalprice").cast("string"),
        )
    )
    return o.agg(
        F.count("*").alias("n_rows"),
        F.sum(row_hash.cast("decimal(38,0)")).cast("string").alias("checksum_sum"),
        F.bit_xor(row_hash).alias("checksum_xor"),
    )


# Benford first-digit expectations log10(1 + 1/d), pinned as shared literals
# so both engines render bit-identical doubles (no engine-side log10 calls).
BENFORD_EXPECTED: dict[int, float] = {
    1: 0.3010299956639812,
    2: 0.17609125905568124,
    3: 0.12493873660829992,
    4: 0.09691001300805642,
    5: 0.07918124604762482,
    6: 0.06694678963061322,
    7: 0.05799194697768673,
    8: 0.05115252244738129,
    9: 0.04575749056067514,
}

_BENFORD_CASE_SQL = "CASE digit " + " ".join(
    f"WHEN {d} THEN CAST({v!r} AS DOUBLE)" for d, v in BENFORD_EXPECTED.items()
) + " END"


@query(
    "q_benford",
    oracle=f"""
    WITH d AS (
        SELECT CAST(substr(regexp_replace(
                   CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR),
                   '[^1-9]', '', 'g'), 1, 1) AS INTEGER) AS digit
        FROM orders WHERE o_totalprice > 0
    )
    SELECT digit,
           COUNT(*) AS n,
           round(CAST(COUNT(*) AS DOUBLE)
                 / SUM(COUNT(*)) OVER (), 6) AS share,
           {_BENFORD_CASE_SQL} AS expected,
           round(abs(CAST(COUNT(*) AS DOUBLE) / SUM(COUNT(*)) OVER ()
                     - {_BENFORD_CASE_SQL}), 6) AS abs_dev
    FROM d WHERE digit IS NOT NULL
    GROUP BY digit
    """,
)
def q_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-significant-digit audit over order totals — the
    classic fraud/fabrication screen for financial facts: organic amounts
    follow log10(1+1/d); fabricated or truncated feeds drift. Emits the
    observed vs expected share per leading digit.

    The digit comes from the DECIMAL(18,2) string form (strip everything
    but 1-9, take the first char) — identical rendering in both engines,
    no log10 on data. Expectations are pinned Python literals, so no
    engine transcendental calls at all.

    Scale: scan-local digit extraction, one hash-agg to <= 9 rows; the
    share window runs over those 9 rows on the driver-sized frame."""
    o = load_table(spark, sf_dir, "orders")
    digit = (
        F.substring(
            F.regexp_replace(
                F.col("o_totalprice").cast("decimal(18,2)").cast("string"),
                "[^1-9]",
                "",
            ),
            1,
            1,
        ).cast("int")
    )
    agg = (
        o.where(F.col("o_totalprice") > 0)
        .select(digit.alias("digit"))
        .where(F.col("digit").isNotNull())
        .groupBy("digit")
        .agg(F.count("*").alias("n"))
    )
    expected = F.lit(None).cast("double")
    for d, v in BENFORD_EXPECTED.items():
        expected = F.when(F.col("digit") == d, F.lit(v)).otherwise(expected)
    w = Window.partitionBy()
    share = F.col("n").cast("double") / F.sum("n").over(w)
    return agg.select(
        "digit",
        "n",
        F.round(share, 6).alias("share"),
        expected.alias("expected"),
        F.round(F.abs(share - expected), 6).alias("abs_dev"),
    )


FORGET_MOD = 97  # erasure-subject selection rule for the audit query


def forget_rows(df: DataFrame, subjects: DataFrame, key_col: str, subject_col: str) -> DataFrame:
    """Right-to-be-forgotten APPLY step: drop every row whose key matches
    an erasure subject (left-anti hash join). At 100 TB this frame feeds a
    dynamic-partition-overwrite of exactly the partitions that contained
    subject rows (plans/incremental semantics) — untouched partitions are
    never rewritten; a transactional table format turns the same plan into
    a DELETE."""
    return df.join(
        subjects.select(F.col(subject_col).alias("__forget_key")),
        F.col(key_col) == F.col("__forget_key"),
        "left_anti",
    )


@query(
    "q_forget_audit",
    oracle=f"""
    WITH subjects AS (
        SELECT c_custkey FROM customer WHERE c_custkey % {FORGET_MOD} = 0
    ),
    ev AS (
        SELECT 'events' AS table_name,
               CAST(SUM(CASE WHEN s.c_custkey IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_purge,
               CAST(SUM(CASE WHEN s.c_custkey IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_keep
        FROM events e LEFT JOIN subjects s ON e.user_id = s.c_custkey
    ),
    o AS (
        SELECT 'orders' AS table_name,
               CAST(SUM(CASE WHEN s.c_custkey IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_purge,
               CAST(SUM(CASE WHEN s.c_custkey IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_keep
        FROM orders ord LEFT JOIN subjects s ON ord.o_custkey = s.c_custkey
    ),
    li AS (
        SELECT 'lineitem' AS table_name,
               CAST(SUM(CASE WHEN so.o_orderkey IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_purge,
               CAST(SUM(CASE WHEN so.o_orderkey IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_keep
        FROM lineitem l
        LEFT JOIN (SELECT ord.o_orderkey
                   FROM orders ord JOIN subjects s
                        ON ord.o_custkey = s.c_custkey) so
               ON l.l_orderkey = so.o_orderkey
    )
    SELECT * FROM ev UNION ALL SELECT * FROM o UNION ALL SELECT * FROM li
    """,
)
def q_forget_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten impact audit: for a deterministic erasure
    cohort (c_custkey % {FORGET_MOD} = 0 — the stand-in for an uploaded
    subject list), count rows to purge vs keep per table, CASCADING
    through the FK graph (events/orders directly by user key; lineitem
    through its orders). The apply side is :func:`forget_rows` +
    dynamic-partition overwrite; this query is the pre-delete audit and
    post-delete zero-check (run it after the rewrite: n_purge must be 0).

    Scale: the subject list is tiny by nature (an erasure batch) and
    broadcast; each table contributes one conditional-count aggregate —
    no table is ever rewritten or shuffled to AUDIT it. The lineitem
    cascade joins the subject orders' keys (|subject orders|, still
    broadcastable); at extreme subject counts the same plan degrades
    gracefully to a shuffle join on orderkey."""
    subjects = (
        load_table(spark, sf_dir, "customer")
        .where(F.col("c_custkey") % FORGET_MOD == 0)
        .select("c_custkey")
    )
    ev = load_table(spark, sf_dir, "events")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")

    def audit(df: DataFrame, name: str, key: str, subj_key: DataFrame) -> DataFrame:
        joined = df.join(
            F.broadcast(subj_key.select(F.col(subj_key.columns[0]).alias("__k"))),
            F.col(key) == F.col("__k"),
            "left",
        )
        hit = F.col("__k").isNotNull()
        return joined.agg(
            F.lit(name).alias("table_name"),
            F.sum(F.when(hit, 1).otherwise(0)).cast("long").alias("n_purge"),
            F.sum(F.when(hit, 0).otherwise(1)).cast("long").alias("n_keep"),
        )

    subject_orders = o.join(
        F.broadcast(subjects), o.o_custkey == subjects.c_custkey
    ).select("o_orderkey")
    return (
        audit(ev, "events", "user_id", subjects)
        .unionByName(audit(o, "orders", "o_custkey", subjects))
        .unionByName(audit(li, "lineitem", "l_orderkey", subject_orders))
    )


# FK edges of the warehouse star (ref: relationships tests,
# models/schema.yml:32-35,59-73,86-90,108-117): child table, child key,
# parent table, parent key. events.user_id -> customer is the testdata's
# users->orgs analogue (user ids are drawn from the customer key range).
FK_EDGES: list[tuple[str, str, str, str]] = [
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
    ("events", "user_id", "customer", "c_custkey"),
]


@query(
    "q_ri_matrix",
    oracle="\n    UNION ALL ".join(
        f"""SELECT '{c}.{ck}->{p}.{pk}' AS fk,
               (SELECT COUNT(*) FROM {c}) AS n_child,
               (SELECT COUNT(*) FROM {c}
                WHERE {ck} IS NOT NULL
                  AND {ck} NOT IN (SELECT {pk} FROM {p})) AS n_orphans
        """
        for c, ck, p, pk in FK_EDGES
    )
    + " ORDER BY fk",
)
def q_ri_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity matrix: one row per declared FK edge with its
    child cardinality and orphan count — the whole relationships-test
    suite (models/schema.yml:32-117) as a single inspectable result
    instead of N pass/fail booleans.

    Scale: each edge is a LEFT ANTI hash join counting survivors — the
    parent side is reduced to its DISTINCT key column first (map-side),
    so dim-parent edges broadcast and the two fact-fact edges shuffle
    keys only. The six per-edge aggregates are independent jobs sharing
    the parquet scans; the union is |edges| rows."""
    out = None
    for child, ck, parent, pk in FK_EDGES:
        cdf = load_table(spark, sf_dir, child)
        pkeys = load_table(spark, sf_dir, parent).select(
            F.col(pk).alias("__pk")
        ).distinct()
        orphans = (
            cdf.where(F.col(ck).isNotNull())
            .join(pkeys, F.col(ck) == F.col("__pk"), "left_anti")
            .agg(F.count("*").alias("n_orphans"))
        )
        counts = cdf.agg(F.count("*").alias("n_child"))
        row = (
            counts.crossJoin(orphans)
            .select(
                F.lit(f"{child}.{ck}->{parent}.{pk}").alias("fk"),
                "n_child",
                "n_orphans",
            )
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("fk")


@query(
    "q_same_day_orders",
    oracle="""
    SELECT o_custkey, CAST(o_orderdate AS DATE) AS day,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS day_total
    FROM orders
    GROUP BY 1, 2 HAVING COUNT(*) > 1
    ORDER BY n_orders DESC, o_custkey, day LIMIT 20
    """,
)
def q_same_day_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same-day multi-order audit: customers placing >1 order on one
    calendar day — the duplicate-charge / split-order review queue
    (payment reconciliation's sibling, README.md:56; dup injection
    data_gen/pseudo_code_rules.txt:39-47).

    Scale: one hash-agg on (custkey, day) with map-side combine; the
    HAVING prunes before the top-k, and top-20 is TakeOrderedAndProject
    with a full tie-break chain (count desc, custkey, day) so the limit
    is deterministic under any partitioning."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy(
            "o_custkey", F.to_date("o_orderdate").alias("day")
        )
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(money("o_totalprice")).cast("double").alias("day_total"),
        )
        .where(F.col("n_orders") > 1)
        .orderBy(F.desc("n_orders"), "o_custkey", "day")
        .limit(20)
    )


# Join keys audited for skew: (edge label, table, key column). The skew
# rule (top orgs dominate orders, data_gen/pseudo_code_rules.txt:2-10)
# makes these the keys where a hot shuffle partition would appear.
SKEW_KEYS: list[tuple[str, str, str]] = [
    ("orders.o_custkey", "orders", "o_custkey"),
    ("lineitem.l_orderkey", "lineitem", "l_orderkey"),
    ("lineitem.l_partkey", "lineitem", "l_partkey"),
    ("events.user_id", "events", "user_id"),
]


@query(
    "q_key_skew",
    oracle="\n    UNION ALL ".join(
        f"""SELECT '{label}' AS key_name,
               (SELECT COUNT(*) FROM {tbl}) AS n_rows,
               COUNT(*) AS n_keys,
               MAX(sz) AS max_group,
               round(CAST(MAX(sz) * COUNT(*) AS DOUBLE)
                     / (SELECT COUNT(*) FROM {tbl}), 3) AS skew_ratio
        FROM (SELECT {col}, COUNT(*) AS sz FROM {tbl} GROUP BY {col})
        """
        for label, tbl, col in SKEW_KEYS
    )
    + " ORDER BY key_name",
)
def q_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew report: for every hot join key, the group-size
    distribution summary and a skew ratio (largest group vs uniform
    share) — the pre-flight audit that decides whether a join needs AQE
    skew handling or salting (operators/skew.py) BEFORE the shuffle
    stalls. Ref: skew rule data_gen/pseudo_code_rules.txt:2-10.

    Scale: per key, one map-side-combinable (key, count) aggregate, then
    a 4-long-column rollup — no windows, no joins; the per-key jobs
    share nothing and parallelize. skew_ratio = max_group x n_keys /
    n_rows: 1.0 is perfectly uniform; AQE's skewedPartitionFactor
    default (5.0) is the action threshold."""
    out = None
    for label, tbl, col in SKEW_KEYS:
        df = load_table(spark, sf_dir, tbl)
        sizes = df.groupBy(col).agg(F.count("*").alias("sz"))
        total = df.agg(F.count("*").alias("n_rows"))
        row = (
            sizes.agg(
                F.count("*").alias("n_keys"), F.max("sz").alias("max_group")
            )
            .crossJoin(F.broadcast(total))
            .select(
                F.lit(label).alias("key_name"),
                "n_rows",
                "n_keys",
                "max_group",
                F.round(
                    (F.col("max_group") * F.col("n_keys")).cast("double")
                    / F.col("n_rows"),
                    3,
                ).alias("skew_ratio"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("key_name")


K_ANON = 5
ACCTBAL_BUCKET = 1000


@query(
    "q_k_anonymity",
    oracle=f"""
    WITH qi AS (
        SELECT c_nationkey, c_mktsegment,
               CAST(floor(c_acctbal / {ACCTBAL_BUCKET}) AS BIGINT) AS bal_band,
               COUNT(*) AS sz
        FROM customer
        GROUP BY 1, 2, 3
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(COUNT(*) FILTER (WHERE sz < {K_ANON}) AS BIGINT)
               AS n_small_groups,
           CAST(COALESCE(SUM(sz) FILTER (WHERE sz < {K_ANON}), 0) AS BIGINT)
               AS n_exposed_rows,
           CAST(MIN(sz) AS BIGINT) AS min_group,
           round(CAST(COALESCE(SUM(sz) FILTER (WHERE sz < {K_ANON}), 0)
                      AS DOUBLE) / CAST(SUM(sz) AS DOUBLE), 6)
               AS exposed_share
    FROM qi
    """,
)
def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over quasi-identifiers: how many (nation,
    segment, balance-band) equivalence classes hold fewer than k={K_ANON}
    customers — rows in those classes are re-identifiable by the
    quasi-identifier combination alone. The structural privacy check
    beside the content checks (q_pii_scan finds leaked values; this finds
    rows exposed by AGGREGATE shape), feeding the same publish gate as
    the reference's PII test (README.md:59).

    Scale: one hash-aggregate to the quasi-identifier grain (map-side
    combinable), then a 5-column rollup over the |classes|-row frame —
    no window, no join. The balance band is integer floor division, so
    class assignment cannot drift between engines. min_group is the
    published k of the dataset; suppression/generalization acts on the
    small-class list this same frame yields."""
    c = load_table(spark, sf_dir, "customer")
    qi = c.groupBy(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / ACCTBAL_BUCKET).cast("bigint").alias("bal_band"),
    ).agg(F.count("*").alias("sz"))
    small = F.col("sz") < K_ANON
    exposed = F.coalesce(F.sum(F.when(small, F.col("sz"))), F.lit(0))
    return qi.agg(
        F.count("*").cast("bigint").alias("n_groups"),
        F.count(F.when(small, 1)).cast("bigint").alias("n_small_groups"),
        exposed.cast("bigint").alias("n_exposed_rows"),
        F.min("sz").cast("bigint").alias("min_group"),
        F.round(
            exposed.cast("double") / F.sum("sz").cast("double"), 6
        ).alias("exposed_share"),
    )


L_DIV = 3  # required distinct sensitive values per quasi-identifier class


@query(
    "q_l_diversity",
    oracle=f"""
    WITH cells AS (
        SELECT c_nationkey,
               CAST(floor(c_acctbal / {ACCTBAL_BUCKET}) AS BIGINT) AS bal_band,
               c_mktsegment,
               COUNT(*) AS cnt
        FROM customer GROUP BY 1, 2, 3
    ),
    classes AS (
        SELECT c_nationkey, bal_band,
               COUNT(*) AS n_distinct_sensitive,
               CAST(SUM(cnt) AS BIGINT) AS sz,
               round(CAST(MAX(cnt) AS DOUBLE) / SUM(cnt), 6) AS top_share
        FROM cells GROUP BY 1, 2
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(COUNT(*) FILTER (WHERE n_distinct_sensitive < {L_DIV})
                AS BIGINT) AS n_low_diversity,
           CAST(COALESCE(SUM(sz) FILTER (WHERE n_distinct_sensitive
                < {L_DIV}), 0) AS BIGINT) AS n_rows_at_risk,
           CAST(MIN(n_distinct_sensitive) AS BIGINT) AS min_diversity,
           round(MAX(top_share), 6) AS worst_homogeneity
    FROM classes
    """,
)
def q_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit — q_k_anonymity's second axis: a class can hold
    k rows yet still leak if the SENSITIVE attribute is homogeneous
    inside it (the homogeneity attack: knowing someone is in the class
    reveals their value). Quasi-identifier = (nation, balance band),
    sensitive = market segment; per class we require >= l={L_DIV}
    distinct sensitive values and also report the worst single-value
    share (the entropy/recursive-(c,l) precursor). Output: class count,
    low-diversity classes, rows at risk in them, the dataset's published
    l (min diversity), and the worst homogeneity.

    Scale: two stacked hash-aggregates, both map-side combinable — cell
    grain (QI x sensitive) then class grain — and a 5-column reduce; no
    window, no join, nothing row-scaled leaves the scans. Same publish
    gate as q_k_anonymity / q_pii_scan (ref README.md:59).

    Reference scope: extension surface (privacy gate for corpus/feature
    publication)."""
    c = load_table(spark, sf_dir, "customer")
    cells = c.groupBy(
        "c_nationkey",
        F.floor(F.col("c_acctbal") / ACCTBAL_BUCKET)
        .cast("bigint")
        .alias("bal_band"),
        "c_mktsegment",
    ).agg(F.count("*").alias("cnt"))
    classes = cells.groupBy("c_nationkey", "bal_band").agg(
        F.count("*").alias("n_distinct_sensitive"),
        F.sum("cnt").cast("bigint").alias("sz"),
        F.round(F.max("cnt").cast("double") / F.sum("cnt"), 6).alias(
            "top_share"
        ),
    )
    low = F.col("n_distinct_sensitive") < L_DIV
    at_risk = F.coalesce(F.sum(F.when(low, F.col("sz"))), F.lit(0))
    return classes.agg(
        F.count("*").cast("bigint").alias("n_groups"),
        F.count(F.when(low, 1)).cast("bigint").alias("n_low_diversity"),
        at_risk.cast("bigint").alias("n_rows_at_risk"),
        F.min("n_distinct_sensitive").cast("bigint").alias("min_diversity"),
        F.round(F.max("top_share"), 6).alias("worst_homogeneity"),
    )


PSEUDO_SALT = "corpus-release-42"  # release-scoped salt (HMAC key stand-in)


@query(
    "q_pseudonymize",
    oracle=f"""
    WITH cmap AS (
        SELECT c_custkey,
               {hash60_sql(f"'{PSEUDO_SALT}|' || CAST(c_custkey AS VARCHAR)")}
                   AS pid
        FROM customer
    ),
    omap AS (
        SELECT o_custkey,
               {hash60_sql(f"'{PSEUDO_SALT}|' || CAST(o_custkey AS VARCHAR)")}
                   AS pid
        FROM orders
    )
    SELECT (SELECT COUNT(*) FROM cmap) AS n_customers,
           (SELECT COUNT(DISTINCT pid) FROM cmap) AS n_distinct_pids,
           (SELECT COUNT(*) FROM omap) AS n_orders,
           (SELECT COUNT(*) FROM orders o JOIN customer c
                ON o.o_custkey = c.c_custkey) AS n_joined_pre,
           (SELECT COUNT(*) FROM omap o JOIN cmap c ON o.pid = c.pid)
               AS n_joined_post,
           (SELECT COUNT(*) FROM cmap WHERE pid = c_custkey)
               AS n_fixed_points
    """,
)
def q_pseudonymize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity-preserving pseudonymization — the privacy
    transform a dataset release applies to subject keys before
    publication (GDPR Art. 4(5) pseudonymization; the salt stands in
    for the HMAC secret a production release derives per dataset
    version, which is what makes the mapping non-linkable across
    releases). Every customer key maps through the same salted keyed
    hash on BOTH tables, and the one-row certificate proves the three
    properties a release gate checks: (1) the mapping is injective on
    this key domain (n_distinct_pids == n_customers — a collision would
    MERGE two subjects' histories), (2) foreign-key joins survive
    (n_joined_post == n_joined_pre — every order still finds exactly
    its customer through the pseudonym), (3) no key maps to itself
    (n_fixed_points == 0 — the identity leak).

    Scale: the pseudonym is a scan-local md5 projection on each side
    (no mapping TABLE to build, ship, or protect — the keyed-hash
    design's point); the verification joins shuffle the same narrow
    keys any FK audit does. The counts are 1-row reduces.

    Reference scope: extension surface beside the PII gate
    (README.md:59; q_pii_scan/q_pii_redact find values, q_k_anonymity/
    q_l_diversity audit shape, this TRANSFORMS identity)."""
    from saas_analytics_pipeline_spark.functions import hash60

    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")

    def pid(col: str) -> F.Column:
        return hash60(
            F.concat(F.lit(PSEUDO_SALT + "|"), F.col(col).cast("string"))
        )

    cmap = customer.select(F.col("c_custkey"), pid("c_custkey").alias("pid"))
    omap = orders.select(F.col("o_custkey"), pid("o_custkey").alias("pid"))
    # injectivity + fixed points fold into ONE customer-side scan
    cstats = cmap.agg(
        F.count("*").alias("n_customers"),
        F.countDistinct("pid").cast("long").alias("n_distinct_pids"),
        F.sum(F.when(F.col("pid") == F.col("c_custkey"), 1).otherwise(0))
        .cast("long")
        .alias("n_fixed_points"),
    )
    n_orders = omap.agg(F.count("*").alias("n_orders"))
    pre = orders.join(
        customer, orders.o_custkey == customer.c_custkey
    ).agg(F.count("*").alias("n_joined_pre"))
    post = omap.join(cmap, "pid").agg(F.count("*").alias("n_joined_post"))
    out = cstats
    for frame in (n_orders, pre, post):
        out = out.crossJoin(frame)
    return out.select(
        "n_customers",
        "n_distinct_pids",
        "n_orders",
        "n_joined_pre",
        "n_joined_post",
        "n_fixed_points",
    )
