"""Model registry: topo ordering, ref resolution, materializations."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from saas_analytics_pipeline_spark.registry import (
    Materialization,
    ModelRegistry,
)
from saas_analytics_pipeline_spark.sources import register_sources


def test_topo_order_and_build(spark, sf_dir, tmp_path):
    reg = ModelRegistry()

    @reg.model("m_base", layer="staging")
    def m_base(spark, ref):
        return spark.range(3).withColumnRenamed("id", "v")

    @reg.model(
        "m_mart",
        layer="marts",
        materialization=Materialization.TABLE,
        depends_on=("m_base",),
    )
    def m_mart(spark, ref):
        return ref("m_base").agg(F.sum("v").alias("s"))

    assert reg.topo_order().index("m_base") < reg.topo_order().index("m_mart")
    built = reg.build(spark, warehouse_dir=str(tmp_path))
    assert built["m_mart"].collect()[0]["s"] == 3
    # TABLE materialization persisted parquet
    assert (tmp_path / "marts" / "m_mart").exists()


def test_cycle_detection(spark):
    reg = ModelRegistry()

    @reg.model("a", depends_on=("b",))
    def a(spark, ref):
        raise AssertionError("never built")

    @reg.model("b", depends_on=("a",))
    def b(spark, ref):
        raise AssertionError("never built")

    with pytest.raises(ValueError, match="cycle"):
        reg.topo_order()


def test_standard_models_build(spark, sf_dir, tmp_path):
    from saas_analytics_pipeline_spark import qcatalog
    from saas_analytics_pipeline_spark.registry import REGISTRY

    qcatalog.load_all()  # model registration happens at module import

    register_sources(spark, sf_dir)
    built = REGISTRY.build(spark, warehouse_dir=str(tmp_path))
    assert built["mart_revenue_daily"].count() > 0
    assert "gross_revenue" in built["mart_revenue_daily"].columns
    # staging filter applied: no invalid lineitems
    assert (
        built["stg_lineitem"].where("l_quantity <= 0").count() == 0
    )


def test_parallel_build_matches_serial(spark, sf_dir, tmp_path):
    """Wave-parallel build produces the same marts as the serial build."""
    from saas_analytics_pipeline_spark import qcatalog
    from saas_analytics_pipeline_spark.registry import REGISTRY, build_parallel

    qcatalog.load_all()
    register_sources(spark, sf_dir)

    serial = REGISTRY.build(spark, warehouse_dir=str(tmp_path / "s"))
    parallel = build_parallel(
        REGISTRY, spark, warehouse_dir=str(tmp_path / "p"), max_workers=4
    )
    assert set(serial) == set(parallel)
    for name in serial:
        a = {tuple(r) for r in serial[name].collect()}
        b = {tuple(r) for r in parallel[name].collect()}
        assert a == b, f"mismatch in {name}"


def test_parallel_build_writes_run_under_the_callers_job_group(spark, tmp_path):
    """The wave's TABLE writes run on pool threads, yet each lands in the
    caller's job group, like the serial build's writes."""
    from saas_analytics_pipeline_spark.registry import build_parallel

    reg = ModelRegistry()

    @reg.model("jg_src", layer="staging")
    def jg_src(spark_, ref):
        return spark_.range(30).select(F.col("id").alias("k"))

    for i in (1, 2, 3):
        reg.model(
            f"jg_mart_{i}",
            layer="marts",
            materialization=Materialization.TABLE,
            depends_on=("jg_src",),
        )(lambda spark_, ref, i=i: ref("jg_src").where(F.col("k") % i == 0))

    sc = spark.sparkContext
    group = "parallel-build-job-group"
    sc.setJobGroup(group, "build_parallel test")
    try:
        built = build_parallel(
            reg, spark, warehouse_dir=str(tmp_path / "wh"), max_workers=2
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert built["jg_mart_3"].count() == 10
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    # VIEW models plan inline without a job: every job in the group comes
    # from a pool thread's write, at least one per TABLE mart
    assert len(sc.statusTracker().getJobIdsForGroup(group)) >= 3


def test_driver_window_covers_survey_core():
    """The driver verifies only the first 50 queries() entries per round:
    ordered_keys() is a permutation of the catalog with every key that
    lacks a green CORRECTNESS row ahead of every verified one."""
    from saas_analytics_pipeline_spark import qcatalog

    qcatalog.load_all()
    keys = qcatalog.ordered_keys()
    assert len(keys) == len(set(keys)) == len(qcatalog.QUERIES)
    verified = qcatalog.verified_keys()
    # once the catalog is fully verified there are no unverified positions
    # and the ordering constraint is vacuously satisfied
    verified_pos = [i for i, k in enumerate(keys) if k in verified]
    unverified_pos = [i for i, k in enumerate(keys) if k not in verified]
    if unverified_pos:
        assert min(verified_pos) > max(unverified_pos)
    else:
        assert len(verified_pos) == len(keys)


def test_new_unverified_key_enters_driver_window(monkeypatch):
    """A key registered with no green CORRECTNESS row lands inside the
    driver's 50-key window, ahead of every verified key — even when it
    registers last and every other key is already verified."""
    from saas_analytics_pipeline_spark import qcatalog

    qcatalog.load_all()
    queries = dict(qcatalog.QUERIES)
    name = "q_window_probe_unverified"
    queries[name] = qcatalog.CatalogEntry(name, lambda spark, sf_dir: None, None)
    monkeypatch.setattr(qcatalog, "QUERIES", queries)

    verified = qcatalog.verified_keys()
    assert name not in verified
    keys = qcatalog.ordered_keys()
    assert name in keys[:50]
    assert all(k not in verified for k in keys[: keys.index(name)])


def test_verified_rotation_is_oldest_green_first():
    """Fully-verified keys rotate through the driver window oldest
    certification first (verdict r5 defect #2): the verified tail of
    ordered_keys() must be non-decreasing in latest-green round, so stale
    r01 certifications re-verify before fresher ones — not the first-50
    registered keys forever."""
    from saas_analytics_pipeline_spark import qcatalog

    qcatalog.load_all()
    verified = qcatalog.verified_keys()
    keys = qcatalog.ordered_keys()
    tail_rounds = [verified[k] for k in keys if k in verified]
    assert tail_rounds == sorted(tail_rounds)
    # with CORRECTNESS_r01..r05 on disk there must be keys certified in
    # multiple distinct rounds, i.e. the sort is exercised, and the very
    # first verified key is from the OLDEST round present
    if len(set(verified.values())) > 1:
        assert tail_rounds[0] == min(verified.values())
        assert tail_rounds[-1] == max(verified.values())


def test_plan_cache_memoizes_per_session_and_sfdir(spark, sf_dir):
    """spark_queries() memoizes built plans per (session, sf_dir, key):
    repeat calls return the SAME DataFrame object (build cost paid once),
    distinct sf_dirs get distinct plans, and execution still runs fresh."""
    from saas_analytics_pipeline_spark import qcatalog

    qs = qcatalog.spark_queries()
    a = qs["q_dedup_latest"](spark, sf_dir)
    b = qs["q_dedup_latest"](spark, sf_dir)
    assert a is b
    # a second view over the same catalog shares the cache
    c = qcatalog.spark_queries()["q_dedup_latest"](spark, sf_dir)
    assert c is a
    other_dir = (
        "/root/testdata/sf0.01"
        if sf_dir != "/root/testdata/sf0.01"
        else "/root/testdata/sf0.001"
    )
    other = qs["q_dedup_latest"](spark, other_dir)
    assert other is not a
    assert a.count() == a.count() > 0


def test_table_build_crash_leaves_previous_mart_committed(spark, tmp_path):
    """Crash-kill matrix on the REGISTRY write path (verdict r08 #1): a
    build dying at any publish barrier leaves readers on the previous
    committed mart snapshot bit-for-bit; the retry commits the new one."""
    import pytest as _pytest

    from saas_analytics_pipeline_spark.plans import publish as P

    state = {"v": 1}
    reg = ModelRegistry()

    @reg.model("m_src", layer="staging")
    def m_src(spark, ref):
        return spark.range(10).select(
            F.col("id").alias("k"), (F.col("id") * state["v"]).alias("val")
        )

    @reg.model(
        "m_tbl",
        layer="marts",
        materialization=Materialization.TABLE,
        depends_on=("m_src",),
    )
    def m_tbl(spark, ref):
        return ref("m_src").groupBy((F.col("k") % 2).alias("b")).agg(
            F.sum("val").alias("s")
        )

    wh = str(tmp_path / "wh")
    reg.build(spark, warehouse_dir=wh)
    root = f"{wh}/marts/m_tbl"
    v1 = sorted(tuple(r) for r in P.read_current(spark, root).collect())

    state["v"] = 100  # upstream change: the rebuild would alter every row

    for barrier in (P.AFTER_DATA, P.AFTER_MANIFEST):
        def die(b, _barrier=barrier):
            if b == _barrier:
                raise RuntimeError(f"build killed at {_barrier}")

        with _pytest.raises(RuntimeError, match="build killed"):
            reg.build(spark, warehouse_dir=wh, crash_hook=die)
        # the torn rebuild is invisible: readers still see v1 exactly
        assert sorted(tuple(r) for r in P.read_current(spark, root).collect()) == v1

    # the retry (same derived seq) commits the new snapshot
    built = reg.build(spark, warehouse_dir=wh)
    v2 = sorted(tuple(r) for r in P.read_current(spark, root).collect())
    assert v2 != v1
    assert sorted(tuple(r) for r in built["m_tbl"].collect()) == v2


def test_parallel_build_crash_leaves_committed_marts_readable(spark, tmp_path):
    """Wave-parallel crash seam: a worker dying mid-publish of one wave
    member must leave (a) every previously committed mart readable at its
    old state and (b) the crashed mart's torn rebuild invisible."""
    import threading

    import pytest as _pytest

    from saas_analytics_pipeline_spark.plans import publish as P
    from saas_analytics_pipeline_spark.registry import build_parallel

    state = {"v": 1}
    reg = ModelRegistry()

    @reg.model("pw_src", layer="staging")
    def pw_src(spark_, ref):
        return spark_.range(20).select(
            F.col("id").alias("k"), (F.col("id") * state["v"]).alias("val")
        )

    for i in (1, 2):  # two independent TABLE marts: one wave
        def _mk(i=i):
            def fn(spark_, ref):
                return ref("pw_src").groupBy((F.col("k") % (i + 1)).alias("b")).agg(
                    F.sum("val").alias("s")
                )
            return fn

        reg.model(
            f"pw_mart_{i}",
            layer="marts",
            materialization=Materialization.TABLE,
            depends_on=("pw_src",),
        )(_mk())

    wh = str(tmp_path / "wh")
    build_parallel(reg, spark, warehouse_dir=wh, max_workers=2)
    v1 = {
        i: sorted(
            tuple(r)
            for r in P.read_current(spark, f"{wh}/marts/pw_mart_{i}").collect()
        )
        for i in (1, 2)
    }

    state["v"] = 50  # the rebuild would change every row
    died = threading.Event()

    def die_once(barrier: str) -> None:
        # kill exactly ONE worker's publish at the most dangerous barrier
        if barrier == P.AFTER_MANIFEST and not died.is_set():
            died.set()
            raise RuntimeError("wave worker killed mid-commit")

    with _pytest.raises(RuntimeError, match="wave worker killed"):
        build_parallel(
            reg, spark, warehouse_dir=wh, max_workers=2, crash_hook=die_once
        )
    # every mart still reads its committed state: either the old build
    # (the crashed/abandoned worker) or a fully committed new one
    for i in (1, 2):
        got = sorted(
            tuple(r)
            for r in P.read_current(spark, f"{wh}/marts/pw_mart_{i}").collect()
        )
        new = sorted(
            tuple(r)
            for r in reg.models[f"pw_mart_{i}"]
            .fn(spark, lambda n: reg.models[n].fn(spark, None))
            .collect()
        )
        assert got in (v1[i], new)
    # the retry commits everything
    build_parallel(reg, spark, warehouse_dir=wh, max_workers=2)
    for i in (1, 2):
        got = sorted(
            tuple(r)
            for r in P.read_current(spark, f"{wh}/marts/pw_mart_{i}").collect()
        )
        assert got != v1[i]
