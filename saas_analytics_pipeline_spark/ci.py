"""CI gate: build every model, run every DQ check, exit nonzero on any
violation — the engine's analogue of the reference's one-command gate
``dbt build --warn-error`` (`/root/reference/.github/workflows/dbt-ci.yml:42`).

Run:  python -m saas_analytics_pipeline_spark.ci [sf_dir] [warehouse_dir]

Gate contract:
- every registry model builds (a model exception fails the gate),
- the standard DQ suite reports ZERO violations,
- the known-dirty detectors DO find the generator's injected defects
  (a silent detector is as much a CI failure as a dirty table),
- source freshness must not be 'error'; 'warn' also fails under
  --warn-error semantics (the default here, matching the reference CI).

The build runs first and serially; a failed build returns before any test
runs. The test phase is then ONE concurrent wave under the caller's job
group: both suites' checks go to a single `run_checks` call (every count on
its own driver thread) while the freshness aggregate runs beside them, so
the gate pays the scheduler's per-job launch latency about once instead of
once per job (docs/SCALE.md, "Gate test phase").

At 100 TB the same gate runs unchanged: every check is a lazy violation
frame (hash-agg / anti-join), and only counts come back to the driver.
"""

from __future__ import annotations

import sys
import tempfile

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from saas_analytics_pipeline_spark.quality.checks import (
    freshness,
    known_dirty_suite,
    run_checks,
    standard_suite,
)
from saas_analytics_pipeline_spark.registry import REGISTRY
from saas_analytics_pipeline_spark.session import run_concurrently
from saas_analytics_pipeline_spark.sources import load_table, register_sources


def run_gate(
    spark: SparkSession,
    sf_dir: str,
    warehouse_dir: str,
    warn_error: bool = True,
) -> tuple[bool, list[str]]:
    """Build + test everything; returns (ok, report_lines)."""
    lines: list[str] = []
    ok = True

    # -- build phase (dbt build: every model in dependency order) ----------
    from saas_analytics_pipeline_spark import qcatalog

    qcatalog.load_all()  # ensure every module has registered its models
    register_sources(spark, sf_dir)
    try:
        built = REGISTRY.build(spark, warehouse_dir=warehouse_dir)
        lines.append(f"BUILD ok: {len(built)} models")
    except Exception as e:  # a failed model fails the gate, like dbt
        lines.append(f"BUILD FAIL: {e}")
        return False, lines

    # -- test phase: one wave of both suites plus freshness ----------------
    clean = standard_suite(spark, sf_dir)
    dirty = known_dirty_suite(spark, sf_dir)
    # the suites are merged into one dict: a shared name would drop a check
    shared = sorted(clean.keys() & dirty.keys())
    if shared:
        raise ValueError(f"check names in both suites: {shared}")
    # CI pins 'now' to the newest event: the gate checks WIRING (thresholds,
    # statuses); staleness vs wall-clock is the orchestrator's call in
    # production, not the test dataset's.
    ev = load_table(spark, sf_dir, "events")
    fresh_df = freshness(
        ev, "ts", F.max("ts"), warn_after_hours=24, error_after_hours=72
    )
    results, fresh = run_concurrently(
        spark, [lambda: run_checks({**clean, **dirty}), fresh_df.first]
    )

    # clean suites must be clean
    for res in results[: len(clean)]:
        mark = "pass" if res.passed else "FAIL"
        lines.append(f"{mark} {res.name}: {res.violations} violations")
        ok &= res.passed

    # known-dirty detectors must fire (adversarial-data sanity)
    for res in results[len(clean):]:
        fired = res.violations > 0
        mark = "pass" if fired else "FAIL"
        lines.append(
            f"{mark} detector {res.name}: {res.violations} known-injected rows"
            + ("" if fired else " (detector went silent)")
        )
        ok &= fired

    # freshness under --warn-error
    bad = fresh["status"] == "error" or (warn_error and fresh["status"] == "warn")
    lines.append(
        f"{'FAIL' if bad else 'pass'} freshness events: status={fresh['status']} "
        f"age_hours={fresh['age_hours']:.1f}"
    )
    ok &= not bad

    return ok, lines


def main(argv: list[str] | None = None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    wh = argv[1] if len(argv) > 1 else tempfile.mkdtemp(prefix="ci_warehouse_")

    from saas_analytics_pipeline_spark.session import get_spark

    spark = get_spark("ci-gate")
    ok, lines = run_gate(spark, sf_dir, wh)
    for line in lines:
        print(line)
    print(f"\nCI GATE: {'GREEN' if ok else 'RED'}")
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
