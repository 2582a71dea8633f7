"""Round-end evidence checklist (verdict r5 #7): the measured-evidence
records under docs/ must stay in sync with the CURRENT catalog — a key
added without re-running the sweeps turns the docs from evidence into
stale prose, silently. These tests make the regeneration a ratchet like
test_ci's freeze check: they fail the suite the moment the catalog and
the committed records diverge, and the fix is always the same one
command per record (tools/scale_lint.py, tools/run_probes.py,
tools/bench_scaling.py).

No wall-clock thresholds here — timings are co-tenant-noisy; only
structural freshness and the recorded invariants (unjustified smells,
superlinear slopes, probe equivalence errors) are asserted.
"""

from __future__ import annotations

import json
import re
from pathlib import Path

DOCS = Path(__file__).resolve().parent.parent / "docs"


def test_scale_lint_swept_the_whole_catalog():
    """docs/SCALE_LINT.md must cover every registered key (rerun
    tools/scale_lint.py after adding keys) and carry zero unjustified
    findings."""
    from saas_analytics_pipeline_spark import qcatalog

    qcatalog.load_all()
    text = (DOCS / "SCALE_LINT.md").read_text()
    m = re.search(
        r"Queries swept: (\d+); findings: (\d+); unjustified: (\d+)", text
    )
    assert m, "SCALE_LINT.md missing its summary line"
    swept, _, unjustified = map(int, m.groups())
    assert swept == len(qcatalog.QUERIES), (
        f"SCALE_LINT.md swept {swept} but the catalog has "
        f"{len(qcatalog.QUERIES)} keys — rerun tools/scale_lint.py"
    )
    assert unjustified == 0


def test_catalog_doc_covers_the_whole_catalog():
    """docs/CATALOG.md must be exactly what tools/catalog_doc.py renders
    for the registered catalog — every key, its oracle status, its source
    file and its first docstring sentence — so a key added, moved to
    another file or re-documented without rerunning the tool fails here; same
    ratchet as the scale-lint check (tools/evidence_check.py runs the
    count half as a pre-commit hook)."""
    import importlib.util

    tool = DOCS.parent / "tools" / "catalog_doc.py"
    spec = importlib.util.spec_from_file_location("catalog_doc", tool)
    catalog_doc = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(catalog_doc)
    text = (DOCS / "CATALOG.md").read_text()
    assert text == catalog_doc.render(), (
        "CATALOG.md is stale — rerun tools/catalog_doc.py"
    )


def test_evidence_check_tool_agrees():
    """tools/evidence_check.py (the pre-commit hook body) must exit 0 on
    the committed tree, so a green suite implies the hook passes too."""
    import subprocess
    import sys

    proc = subprocess.run(
        [sys.executable, str(DOCS.parent / "tools" / "evidence_check.py")],
        capture_output=True,
        text=True,
    )
    assert proc.returncode == 0, proc.stderr


def test_probe_record_is_complete_and_green():
    """docs/PROBES.json must contain every probe in tools/run_probes.py's
    suite (eight as of r06), none errored, and the lsh probe must carry
    the incremental parity section (round-6 extension)."""
    rec = json.loads((DOCS / "PROBES.json").read_text())
    probes = rec["probes"]
    expected = {
        "skew_probe", "bucket_probe", "scd2_probe", "stream_probe",
        "ann_probe", "lsh_probe", "layout_probe", "bloom_probe",
        "html_probe",  # r09: the q_html_extract slope attribution
        "dupspan_probe",  # r09: exact-substring window-width curve
        "ann_fold_probe",  # r09: arrivals-compaction equality + cost
        "skipping_probe",  # r10: file skipping / MOR overhead / OPTIMIZE
        "lake_maint_probe",  # r11: maintenance cost follows the increment
        "catalog_maint_probe",  # r12: catalog cadence restages dirty tables only
    }
    missing = expected - set(probes)
    assert not missing, f"probes missing from docs/PROBES.json: {missing}"
    errored = [
        n for n, v in probes.items()
        if isinstance(v, dict) and "error" in v
    ]
    assert not errored, f"probes recorded with errors: {errored}"
    lsh = probes["lsh_probe"]
    assert "incremental_candidates" in lsh, (
        "lsh_probe record lacks the incremental-vs-batch parity fields "
        "— rerun tools/run_probes.py on this tree"
    )
    assert lsh["incremental_matches_batch"] is True
    assert lsh["incremental_candidates"] == lsh["batch_candidates_touching_new"]
    ann = probes["ann_probe"]
    assert "incremental" in ann, (
        "ann_probe record lacks the assign-only-vs-refit section "
        "(round-7 extension) — rerun tools/run_probes.py on this tree"
    )
    # ingesting a batch must be materially cheaper than a quantizer refit
    assert ann["incremental"]["assign_only_sec"] < ann["incremental"][
        "refit_full_sec"
    ]


def test_scaling_record_has_no_superlinear_query():
    """docs/BENCH_SF1.json: the recorded multi-point scaling fit must
    show zero queries above the superlinear threshold, and the slope
    table must cover the bench headline set (rerun tools/bench_scaling.py
    if the headline set changes)."""
    import bench

    rec = json.loads((DOCS / "BENCH_SF1.json").read_text())
    assert rec["superlinear_queries"] == []
    slopes = rec["scaling_exponent"]
    missing = [k for k in bench.HEADLINE if k not in slopes]
    assert not missing, (
        f"headline queries absent from the scaling record: {missing}"
    )
