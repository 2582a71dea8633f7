"""Measured claim of the streaming CATALOG loop's maintenance cadence
(streaming/jobs.catalog_apply_batch + plans/publish.maintain_catalog):
catalog-unit maintenance cost
follows the INCREMENT'S fragmentation debt, never the catalog — a
healthy table in the same catalog carries by reference (its manifest
entry is byte-identical across the maintenance commit) no matter how
big it is.

Setup: a two-table catalog driven through ``catalog_apply_batch`` (the
foreachBatch body of ``run_catalog_maintenance``), maintenance timed as
the same ``maintain_catalog`` call the cadence makes:

  b0  fact (full orders) + dim (custkey tiers) both published
      FRAGMENTED (maxRecordsPerFile caps the writer), then maintained —
      the baseline debt;
  b1  only the SMALL dim re-published fragmented -> maintenance must
      restage dim ONLY (fact, ~10x the rows, carries by reference);
  b2  only the LARGE fact re-published fragmented -> maintenance
      restages fact only.

Recorded per round: fragmented file counts, maintenance wall seconds,
the compacted-table set, and whether the untouched table's manifest
entry survived BYTE-IDENTICAL. Gate (exit nonzero): the compacted sets
are exactly the dirty tables, the carried entries are identical, both
tables land at one file on one txid generation, and row counts + money
sums through read_catalog_table stay exact after every maintenance — a
maintenance that loses rows or restages healthy tables measures
nothing.

Run:  python tools/catalog_maint_probe.py [sf_dir]
"""

from __future__ import annotations

import json
import shutil
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

FRAG_CAP = 500  # maxRecordsPerFile for the fragmented increment writes


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    from pyspark.sql import functions as F

    from saas_analytics_pipeline_spark.plans import publish as P
    from saas_analytics_pipeline_spark.session import get_spark
    from saas_analytics_pipeline_spark.sources import load_table
    from saas_analytics_pipeline_spark.streaming.jobs import (
        catalog_apply_batch,
    )

    spark = get_spark("catalog-maint-probe")
    base_dir = tempfile.mkdtemp(prefix="catalog_maint_probe_")
    cat = str(Path(base_dir) / "catalog")
    marker_dir = str(Path(base_dir) / "markers")
    Path(marker_dir).mkdir()
    failures: list[str] = []
    out: dict = {"probe": "catalog_maint", "sf_dir": sf_dir, "rounds": []}

    orders = load_table(spark, sf_dir, "orders")
    fact = orders.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("amount"),
    )
    dim = orders.select(
        F.col("o_custkey").alias("ck"),
        (F.col("o_custkey") % 3).alias("tier"),
    ).distinct()
    exp_fact_rows = fact.count()
    exp_dim_rows = dim.count()
    exp_total = float(
        fact.agg(F.sum("amount").cast("double")).collect()[0][0]
    )
    out["fact_rows"] = exp_fact_rows
    out["dim_rows"] = exp_dim_rows

    conf_key = "spark.sql.files.maxRecordsPerFile"

    def frag(df):
        return df.coalesce(1)

    # each round: publish the increment through the streaming body, then
    # time the SAME maintain_catalog call the cadence makes
    rounds = [
        ("b0_both", 0, {"fact": fact, "dim": dim}, ["dim", "fact"]),
        ("b1_small_dim", 1, {"dim": dim}, ["dim"]),
        ("b2_large_fact", 2, {"fact": fact}, ["fact"]),
    ]
    for tag, bid, tables, want_compacted in rounds:
        fragged = {n: frag(df) for n, df in tables.items()}
        marker1 = spark.createDataFrame([(bid,)], "batch long")
        prev_conf = spark.conf.get(conf_key, None)
        spark.conf.set(conf_key, str(FRAG_CAP))
        try:
            catalog_apply_batch(
                marker1, bid, cat, lambda _df: fragged, marker_dir,
                maintain_every=0,
            )
        finally:
            if prev_conf is None:
                spark.conf.unset(conf_key)
            else:
                spark.conf.set(conf_key, prev_conf)
        rec_before = P.catalog_record(cat)
        frag_files = {
            n: P._load_manifest(
                str(Path(cat) / "tables" / n), rec_before["tables"][n]
            )["n_files"]
            for n in tables
        }
        t0 = time.perf_counter()
        report = P.maintain_catalog(
            spark, cat, retain=1, stats_cols={"fact": ["k"]}
        )
        maint_sec = round(time.perf_counter() - t0, 3)
        rec_after = P.catalog_record(cat)

        row = {
            "round": tag,
            "fragmented_files": frag_files,
            "maintain_sec": maint_sec,
            "compacted": sorted(report["compacted"]),
        }
        if sorted(report["compacted"]) != want_compacted:
            failures.append(
                f"{tag}: compacted {report['compacted']} != {want_compacted}"
            )
        # the untouched table must carry BYTE-IDENTICAL by reference
        carried = [
            n for n in rec_after["tables"] if n not in want_compacted
        ]
        for n in carried:
            if rec_after["tables"][n] != rec_before["tables"][n]:
                failures.append(f"{tag}: healthy table {n} was restaged")
        row["carried_by_reference"] = carried
        # one generation among the restaged tables' new manifests
        got_fact = P.read_catalog_table(spark, cat, "fact")
        n_rows = got_fact.count()
        total = float(
            got_fact.agg(F.sum("amount").cast("double")).collect()[0][0]
        )
        if n_rows != exp_fact_rows or abs(total - exp_total) > 1e-6:
            failures.append(
                f"{tag}: fact readback {n_rows}/{total} != "
                f"{exp_fact_rows}/{exp_total}"
            )
        if P.read_catalog_table(spark, cat, "dim").count() != exp_dim_rows:
            failures.append(f"{tag}: dim readback row count drifted")
        for n in ("fact", "dim"):
            m = P._load_manifest(
                str(Path(cat) / "tables" / n), rec_after["tables"][n]
            )
            if m["n_files"] != 1:
                failures.append(f"{tag}: {n} not packed ({m['n_files']})")
        out["rounds"].append(row)

    small = next(r for r in out["rounds"] if r["round"] == "b1_small_dim")
    large = next(r for r in out["rounds"] if r["round"] == "b2_large_fact")
    # evidence, not a gate (wall clocks are co-tenant-noisy): the small
    # increment's maintenance should cost less than the large one's
    out["small_increment_cheaper"] = (
        small["maintain_sec"] < large["maintain_sec"]
    )
    out["failures"] = failures
    print(json.dumps(out))
    shutil.rmtree(base_dir, ignore_errors=True)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
