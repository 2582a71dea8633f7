"""Measured A/B of the ANN arrivals compaction.

run_ann_maintenance's drift gauge reads (published cells) UNION
(unfolded arrivals) every micro-batch. Before r09 the arrivals log grew
with stream LIFETIME; the r09 fold compacts it into one published cells
snapshot at each refit. This probe builds both states explicitly at sf1
and measures the gauge over them:

- **fragmented**: the corpus index + 16 per-batch arrival subdirs (the
  no-compaction steady state after 16 quiet batches);
- **folded**: one atomically published cells snapshot holding the same
  rows (what the fold leaves behind).

Reported: gauge wall time and file count for each state, plus the
EQUALITY of the two gauges — the folding invariant (the union is
content-preserving) — exit nonzero if they differ. The wall-time gap is
modest at sf1 (local FS, warm footers); the 100 TB argument is the file
COUNT: unfolded arrivals add O(batches) objects each gauge must list
and open forever, folded state is O(1) per generation.

Run:  python tools/ann_fold_probe.py
Emits one JSON line; run_probes.py aggregates into docs/PROBES.json.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

SF1 = str(ROOT / ".localdata" / "sf1")
N_BATCHES = 16


def retention_curve(spark, P, folded_root, cell_drift_gauge, work):
    """The cells_retain knob's measured trade (verdict r09 #6): publish
    G=4 fold generations, vacuum copies of the lineage at two retention
    settings, and record files/bytes left on disk plus the gauge wall
    time over the current fold. Expectation the numbers certify: gauge
    cost is retention-INDEPENDENT (the gauge reads only the current
    fold via read_current), while disk held by superseded generations
    scales with retain — the knob trades reader-lease grace /
    time-travel depth against storage, never gauge latency."""
    import time

    base = P.read_current(spark, folded_root)
    gens_root = os.path.join(work, "cells_gens")
    for g in range(4):  # 4 fold generations of the same table
        P.publish_snapshot(spark, base, gens_root, f"fold{g}")

    def disk(p):
        n, b = 0, 0
        for dirp, _d, names in os.walk(p):
            for f in names:
                if f.endswith(".parquet"):
                    n += 1
                    b += os.path.getsize(os.path.join(dirp, f))
        return n, b

    curve = []
    for retain in (1, 3):
        root_r = os.path.join(work, f"cells_retain{retain}")
        shutil.copytree(gens_root, root_r)
        removed = P.vacuum(root_r, retain=retain)
        cur = P.read_current(spark, root_r)
        cell_drift_gauge(cur).collect()  # warm
        t0 = time.monotonic()
        cell_drift_gauge(cur).collect()
        n_files, n_bytes = disk(os.path.join(root_r, "data"))
        curve.append(
            {
                "retain": retain,
                "generations_removed": len(removed),
                "n_files_on_disk": n_files,
                "mb_on_disk": round(n_bytes / 1e6, 1),
                "gauge_sec": round(time.monotonic() - t0, 3),
            }
        )
    return curve


def main() -> None:
    from pyspark.sql import functions as F

    from saas_analytics_pipeline_spark.operators.similarity import (
        IVF_BATCH_MOD,
        assign_cells,
        cell_drift_gauge,
        pinned_anchors,
    )
    from saas_analytics_pipeline_spark.plans import publish as P
    from saas_analytics_pipeline_spark.session import get_spark
    from saas_analytics_pipeline_spark.sources import load_table

    spark = get_spark("ann_fold_probe")
    work = tempfile.mkdtemp(prefix="ann_fold_probe_")
    try:
        emb = load_table(spark, SF1, "embeddings")
        corpus = emb.where(F.col("vec_id") % IVF_BATCH_MOD != 0)
        batch = emb.where(F.col("vec_id") % IVF_BATCH_MOD == 0)
        anchors = pinned_anchors(corpus)
        corpus_cells = os.path.join(work, "corpus_cells")
        assign_cells(corpus, anchors).select(
            "vec_id", "anchor_id", "acos"
        ).write.parquet(corpus_cells)

        # fragmented state: 16 per-batch arrival subdirs
        arrivals = os.path.join(work, "arrivals")
        assigned = assign_cells(batch, anchors).select(
            "vec_id", "anchor_id", "acos"
        )
        for i in range(N_BATCHES):
            assigned.where(F.col("vec_id") % N_BATCHES == i).write.parquet(
                os.path.join(arrivals, f"b{i}")
            )

        # folded state: ONE published cells snapshot with the same rows
        folded_root = os.path.join(work, "cells")
        frag_union = spark.read.parquet(corpus_cells).unionByName(
            spark.read.option("recursiveFileLookup", "true").parquet(arrivals)
        )
        P.publish_snapshot(spark, frag_union, folded_root, "fold")

        def count_files(*paths: str) -> int:
            n = 0
            for p in paths:
                for _, _, names in os.walk(p):
                    n += sum(f.endswith(".parquet") for f in names)
            return n

        def timed_gauge(df):
            cell_drift_gauge(df).collect()  # warm
            t0 = time.monotonic()
            rows = cell_drift_gauge(df).collect()
            return sorted(tuple(r) for r in rows), round(
                time.monotonic() - t0, 3
            )

        g_frag, t_frag = timed_gauge(frag_union)
        g_fold, t_fold = timed_gauge(P.read_current(spark, folded_root))
        equal = g_frag == g_fold
        out = {
            "probe": "ann_fold",
            "n_batches": N_BATCHES,
            "fragmented": {
                "gauge_sec": t_frag,
                "n_files": count_files(corpus_cells, arrivals),
            },
            "folded": {
                "gauge_sec": t_fold,
                "n_files": count_files(os.path.join(folded_root, "data")),
            },
            "gauges_equal": equal,
            "retention_curve": retention_curve(
                spark, P, folded_root, cell_drift_gauge, work
            ),
            "verdict": (
                "fold is content-preserving (gauges identical); unfolded "
                "state costs O(batches) files per gauge forever, folded is "
                "O(1) per generation"
                if equal
                else "FOLD CHANGED THE GAUGE - invariant violation"
            ),
        }
        print(json.dumps(out))
        if not equal:
            sys.exit(1)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
