"""Measured claim of the catalog increment's STATS-NARROWED tombstone
reconcile (plans/publish.publish_catalog_increments +
_reconcile_tombstones): when a
catalog table's delete key is annotated (maintain_catalog stats_cols),
the file-scoped group a resubscribe leaves behind covers only the
STALE-OVERLAPPING carried files — not every carried file — so the
reader's per-group broadcast scope (and the eventual purge's rewrite
set) follows the delete, never the table.

Setup: a 12-month catalog fact whose keys are clustered by month
(ck = mk*1000 + i, so per-file [min,max] ck stats are disjoint), one
GDPR-deleted key that lives in exactly one month, then an increment to a
DIFFERENT month that re-inserts it (the moved-record flow). Run twice:

  no-stats   the staged manifest carries no ck register -> every
             carried file is a conservative reconcile candidate;
  stats      maintain_catalog annotated ck -> the candidate set shrinks
             to the single month whose stats overlap the key.

Recorded: carried-file count, scoped-group size under each mode, the
reduction ratio. Gate (exit nonzero): the stats-mode scope is a strict
subset of the no-stats scope, covers <= the victim month's files, BOTH
modes read back the exact same (correct) rows — narrowing that loses a
stale mask or hides the fresh row measures nothing.

Run:  python tools/catalog_reconcile_probe.py [sf_dir]
(sf_dir only sizes the SparkSession defaults; the probe data is
synthetic and fixed-size by design — candidate narrowing is a metadata
property, not a data-scale one.)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))


def main() -> int:
    from pyspark.sql import functions as F

    from saas_analytics_pipeline_spark.plans import publish as P
    from saas_analytics_pipeline_spark.session import get_spark

    spark = get_spark()
    base = tempfile.mkdtemp(prefix="catalog_reconcile_probe_")
    victim = 2005  # lives only in month 199602
    out: dict = {"probe": "catalog_reconcile", "modes": {}}
    expect = None
    try:
        for mode in ("no_stats", "stats"):
            cat = os.path.join(base, mode)
            shutil.rmtree(cat, ignore_errors=True)
            rows = [
                (mk * 1000 + i, 199600 + mk, i)
                for mk in range(1, 13)
                for i in range(50)
            ]
            f = spark.createDataFrame(rows, "ck long, mk long, v long")
            P.publish_tables(
                spark,
                {"f": f.repartition(F.col("mk"))},
                cat,
                partitions={"f": "mk"},
            )
            if mode == "stats":
                P.maintain_catalog(
                    spark, cat, stats_cols={"f": ["ck"]}, compact=False
                )
            P.publish_catalog_deletes(
                spark,
                cat,
                "f",
                spark.createDataFrame([(victim,)], "ck long"),
                "ck",
            )
            inc = spark.createDataFrame(
                [(victim, 199612, 777)], "ck long, mk long, v long"
            )
            P.publish_catalog_increments(spark, cat, {"f": inc})
            rec = P.catalog_record(cat)
            m = P._load_manifest(
                os.path.join(cat, "tables", "f"), rec["tables"]["f"]
            )
            groups = m.get("scoped_deletes") or []
            scope = sorted({fp for g in groups for fp in g["files"]})
            carried = sorted(
                fp
                for v, fs in m["partitions"].items()
                if v != "199612"
                for fp in fs
            )
            got = {
                (r["ck"], r["mk"], r["v"])
                for r in P.read_catalog_table(spark, cat, "f").collect()
            }
            if expect is None:
                expect = got
            out["modes"][mode] = {
                "carried_files": len(carried),
                "scoped_group_files": len(scope),
                "victim_month_files": len(m["partitions"]["199602"]),
                "rows_exact": got == expect,
                "scope_within_victim_month": set(scope)
                <= set(m["partitions"]["199602"]),
            }
        ns, st = out["modes"]["no_stats"], out["modes"]["stats"]
        out["reduction"] = round(
            ns["scoped_group_files"] / max(1, st["scoped_group_files"]), 2
        )
        ok = (
            st["scoped_group_files"] < ns["scoped_group_files"]
            and st["scope_within_victim_month"]
            and st["scoped_group_files"] <= st["victim_month_files"]
            and ns["rows_exact"]
            and st["rows_exact"]
        )
        out["gate"] = "pass" if ok else "FAIL"
        print(json.dumps(out))
        return 0 if ok else 1
    finally:
        shutil.rmtree(base, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
