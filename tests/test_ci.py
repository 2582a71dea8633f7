"""CI gate: one command that builds every model, runs every DQ check, and
exits nonzero on any violation (reference: dbt build --warn-error,
.github/workflows/dbt-ci.yml:42)."""

import pytest
from pyspark.sql import functions as F

from saas_analytics_pipeline_spark import ci


def test_ci_gate_green_on_testdata(spark, sf_dir, tmp_path):
    ok, lines = ci.run_gate(spark, sf_dir, str(tmp_path / "wh"))
    assert ok, "\n".join(lines)
    # the whole report, in order: the concurrent test phase still reports
    # the build, the standard suite in suite order, the detector (the
    # injected lineitem dups must be DETECTED, not silently clean) and
    # freshness pinned to the newest event
    assert lines == [
        "BUILD ok: 4 models",
        "pass unique_orders_pk: 0 violations",
        "pass unique_customer_pk: 0 violations",
        "pass unique_events_pk: 0 violations",
        "pass not_null_orders: 0 violations",
        "pass not_null_lineitem: 0 violations",
        "pass rel_orders_customer: 0 violations",
        "pass rel_lineitem_orders: 0 violations",
        "pass rel_customer_nation: 0 violations",
        "pass accepted_orderstatus: 0 violations",
        "pass detector dup_lineitem_pk: 1161 known-injected rows",
        "pass freshness events: status=pass age_hours=0.0",
    ]


def test_ci_gate_red_when_check_fails(spark, sf_dir, tmp_path, monkeypatch):
    def broken_suite(spark_, sf):
        # a violation frame with rows == a failing dbt test
        return {"always_fails": spark_.range(3).where(F.col("id") >= 0)}

    monkeypatch.setattr(ci, "standard_suite", broken_suite)
    ok, lines = ci.run_gate(spark, sf_dir, str(tmp_path / "wh"))
    assert not ok
    assert any("FAIL always_fails: 3 violations" in line for line in lines)


def test_ci_gate_red_when_detector_silent(spark, sf_dir, tmp_path, monkeypatch):
    def silent_detectors(spark_, sf):
        return {"dup_lineitem_pk": spark_.range(1).where(F.col("id") < 0)}

    monkeypatch.setattr(ci, "known_dirty_suite", silent_detectors)
    ok, lines = ci.run_gate(spark, sf_dir, str(tmp_path / "wh"))
    assert not ok
    assert any("detector went silent" in line for line in lines)


def test_ci_gate_refuses_a_check_name_in_both_suites(spark, sf_dir, tmp_path, monkeypatch):
    # both suites share one results list: a name in both would make the
    # report ambiguous, so the gate refuses it before running any check
    def clashing_detectors(spark_, sf):
        return {"unique_orders_pk": spark_.range(1)}

    monkeypatch.setattr(ci, "known_dirty_suite", clashing_detectors)
    with pytest.raises(ValueError, match="unique_orders_pk"):
        ci.run_gate(spark, sf_dir, str(tmp_path / "wh"))


def test_bench_headline_keys_exist():
    """bench.py's headline set must name real catalog keys — a rename
    that orphaned a bench key would crash the driver's per-round bench."""
    import bench
    from saas_analytics_pipeline_spark import qcatalog

    qcatalog.load_all()
    missing = [k for k in bench.HEADLINE if k not in qcatalog.QUERIES]
    assert not missing, missing


def test_catalog_freeze_every_key_verified_or_windowed():
    """r05 freeze invariant: every registered key either has a green
    driver row or sits inside the 50-slot verification window — no key
    may be added without a window slot to certify it (verdict r4 #1)."""
    from saas_analytics_pipeline_spark import qcatalog

    qcatalog.load_all()
    verified = qcatalog.verified_keys()
    window = set(qcatalog.ordered_keys()[:50])
    stranded = [
        k for k in qcatalog.QUERIES
        if k not in verified and k not in window
    ]
    assert not stranded, (
        f"{len(stranded)} keys are neither driver-verified nor in the "
        f"verification window: {stranded}"
    )
