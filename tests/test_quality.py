"""DQ framework semantics on tiny literal frames: each generic test returns
violating rows, pass <=> 0 rows (dbt contract, SURVEY.md section 5)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from saas_analytics_pipeline_spark.quality import checks


def test_unique_flags_dupes(spark):
    df = spark.createDataFrame([(1,), (1,), (2,)], "id int")
    v = checks.unique(df, "id").collect()
    assert len(v) == 1 and v[0]["id"] == 1 and v[0]["n_dup"] == 2


def test_unique_passes_on_clean(spark):
    df = spark.createDataFrame([(1,), (2,)], "id int")
    assert checks.unique(df, "id").count() == 0


def test_not_null(spark):
    df = spark.createDataFrame([(1, "a"), (None, "b"), (3, None)], "id int, s string")
    assert checks.not_null(df, "id").count() == 1
    assert checks.not_null(df, "id", "s").count() == 2


def test_relationships_orphans(spark):
    child = spark.createDataFrame([(1,), (2,), (None,)], "fk int")
    parent = spark.createDataFrame([(1,)], "pk int")
    v = checks.relationships(child, "fk", parent, "pk").collect()
    # NULL fks are not violations (dbt semantics); 2 is the orphan
    assert len(v) == 1 and v[0]["fk"] == 2


def test_accepted_values(spark):
    df = spark.createDataFrame([("F",), ("O",), ("X",), (None,)], "st string")
    v = checks.accepted_values(df, "st", ["F", "O"])
    assert v.count() == 2  # X and NULL


def test_freshness_warn_and_pass(spark):
    df = spark.createDataFrame(
        [("2024-01-01 00:00:00",)], "loaded string"
    ).select(F.col("loaded").cast("timestamp").alias("loaded"))
    warn = checks.freshness(df, "loaded", "2024-01-03 00:00:00", 24).collect()[0]
    assert warn["status"] == "warn" and warn["age_hours"] == 48.0
    ok = checks.freshness(df, "loaded", "2024-01-01 12:00:00", 24).collect()[0]
    assert ok["status"] == "pass"


def test_freshness_column_now_matches_pinned_string(spark):
    """A Column `now` (the CI gate's ``F.max(loaded_at)``) gives the same
    row as the string `now` pinned at the newest load, in one aggregate."""
    df = spark.createDataFrame(
        [("2024-01-01 00:00:00",), ("2024-01-02 06:30:00",)], "loaded string"
    ).select(F.col("loaded").cast("timestamp").alias("loaded"))
    pinned = checks.freshness(
        df, "loaded", "2024-01-02 06:30:00", 24, error_after_hours=72
    ).first()
    folded = checks.freshness(
        df, "loaded", F.max("loaded"), 24, error_after_hours=72
    ).first()
    assert folded == pinned
    assert folded["status"] == "pass" and folded["age_hours"] == 0.0
    later = checks.freshness(
        df, "loaded", F.lit("2024-01-04 06:30:00").cast("timestamp"), 24
    ).first()
    assert later["status"] == "warn" and later["age_hours"] == 48.0


def test_standard_suite_green_on_testdata(spark, sf_dir):
    results = checks.run_checks(checks.standard_suite(spark, sf_dir))
    failed = [r.name for r in results if not r.passed]
    assert failed == [], f"DQ violations in testdata: {failed}"


def test_known_dirty_suite_finds_injected_dupes(spark, sf_dir):
    # the generator plants duplicate lineitem keys on purpose — the check
    # must FIND them (known-positive target, SURVEY.md section 5.5)
    results = checks.run_checks(checks.known_dirty_suite(spark, sf_dir))
    assert all(r.violations > 0 for r in results), results


def test_run_checks_keeps_suite_order(spark):
    # names out of sorted order, the slowest check first: results still
    # come back in suite order, whichever count finishes first
    suite = {
        "zeta_slow": spark.range(200_000).where(F.col("id") % 7 == 0),
        "alpha": spark.range(0),
        "mid": spark.range(5),
        "beta": spark.range(3).where(F.col("id") > 0),
    }
    got = [(r.name, r.violations, r.passed) for r in checks.run_checks(suite)]
    assert got == [
        ("zeta_slow", 28_572, False),
        ("alpha", 0, True),
        ("mid", 5, False),
        ("beta", 2, False),
    ]


def test_run_checks_propagates_a_failing_check(spark):
    suite = {
        "fine": spark.range(3),
        "broken": spark.range(3).where(
            F.assert_true(F.col("id") < 0, "check blew up").isNull()
        ),
        "also_fine": spark.range(0),
    }
    with pytest.raises(Exception, match="check blew up"):
        checks.run_checks(suite)


def test_run_checks_jobs_run_under_the_callers_job_group(spark):
    """Every check's count runs on its own thread, yet each of its jobs
    lands in the caller's job group — cancelling or attributing by group
    covers the whole wave."""
    sc = spark.sparkContext
    group = "dq-wave-job-group"
    suite = {f"c{i}": spark.range(10 + i).where(F.col("id") > i) for i in range(5)}
    sc.setJobGroup(group, "run_checks test")
    try:
        results = checks.run_checks(suite)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert [r.violations for r in results] == [9] * 5
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) >= len(suite)


def test_observed_metrics_ride_the_action(spark, sf_dir):
    from saas_analytics_pipeline_spark.quality.checks import observed
    from saas_analytics_pipeline_spark.sources import load_table

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    df, obs = observed(o, "orders_load")
    df.write.format("noop").mode("overwrite").save()  # one action, no extra scan
    got = obs.get
    assert got["n_rows"] == o.count()
    assert got["n_null_o_orderkey"] == 0


def test_forget_rows_apply_then_audit_zero(spark, sf_dir, tmp_path):
    """The erasure APPLY (forget_rows) followed by re-audit shows zero
    remaining subject rows, and keep-counts are untouched — the
    round-trip contract of a right-to-be-forgotten batch."""
    from pyspark.sql import functions as F

    from saas_analytics_pipeline_spark.quality.checks import (
        FORGET_MOD,
        forget_rows,
        q_forget_audit,
    )
    from saas_analytics_pipeline_spark.sources import load_table

    before = {r.table_name: r for r in q_forget_audit(spark, sf_dir).collect()}
    assert before["events"].n_purge > 0  # the cohort is non-empty
    subjects = (
        load_table(spark, sf_dir, "customer")
        .where(F.col("c_custkey") % FORGET_MOD == 0)
        .select("c_custkey")
    )
    ev = load_table(spark, sf_dir, "events")
    cleaned = forget_rows(ev, subjects, "user_id", "c_custkey")
    assert cleaned.count() == before["events"].n_keep
    remaining = cleaned.join(
        subjects, cleaned.user_id == subjects.c_custkey, "left_semi"
    ).count()
    assert remaining == 0
