"""Fast structural evidence check (verdict r11 "What's wrong" #1): the
committed evidence records must match the CURRENT catalog:
docs/SCALE_LINT.md its key count, docs/CATALOG.md exactly what
tools/catalog_doc.py renders (every key's oracle status, source file and
first docstring sentence). Two consecutive rounds
ended with evidence stamped one commit before a key registration
(r10: PROBES two commits early; r11: q_catalog_routing landed after the
regen commit, leaving SCALE_LINT at 306 keys vs 307 registered and a RED
test suite at judge time). The discipline fix is to make the violation
loud AT COMMIT TIME, not at judge time:

  * this script is cheap (no SparkSession — it only imports the catalog
    modules and reads the doc records), so it runs as a git
    pre-commit hook (installed by `python tools/evidence_check.py
    --install-hook`, re-run after a fresh clone);
  * tests/test_evidence.py runs the same checks in the suite, so CI
    catches a bypassed hook.

Exit 0 = evidence matches the catalog; exit 1 = regenerate
(tools/scale_lint.py + tools/catalog_doc.py) in the SAME commit that
registers the key.
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

HOOK = """#!/bin/sh
# Installed by tools/evidence_check.py --install-hook: block commits whose
# evidence docs lag the registered catalog (see that file's docstring).
exec python tools/evidence_check.py
"""


def check() -> int:
    from saas_analytics_pipeline_spark import qcatalog

    qcatalog.load_all()
    n = len(qcatalog.QUERIES)
    errs: list[str] = []

    lint = (ROOT / "docs" / "SCALE_LINT.md").read_text()
    m = re.search(r"Queries swept: (\d+);", lint)
    if not m or int(m.group(1)) != n:
        errs.append(
            f"docs/SCALE_LINT.md swept {m.group(1) if m else '???'} keys, "
            f"catalog has {n} — run: python tools/scale_lint.py"
        )

    import catalog_doc  # a sibling in tools/, on sys.path as a script

    if (ROOT / "docs" / "CATALOG.md").read_text() != catalog_doc.render():
        errs.append(
            "docs/CATALOG.md differs from the catalog (keys, locations or "
            "first sentences) — run: python tools/catalog_doc.py"
        )

    # the bench-headline-coupled records: these are the ones that went
    # red mid-round in r12 when the headline grew (importing bench is
    # cheap — no SparkSession)
    import json

    import bench

    plans = (ROOT / "docs" / "PLANS.md").read_text()
    plan_keys = set(re.findall(r"^## (q_\w+)$", plans, re.M))
    missing = [k for k in bench.HEADLINE if k not in plan_keys]
    if missing:
        errs.append(
            f"docs/PLANS.md lacks headline plans {missing} — run: "
            "python tools/plan_audit.py"
        )
    try:
        slopes = json.loads(
            (ROOT / "docs" / "BENCH_SF1.json").read_text()
        )["scaling_exponent"]
    except (OSError, ValueError, KeyError):
        slopes = {}
    missing = [k for k in bench.HEADLINE if k not in slopes]
    if missing:
        errs.append(
            f"docs/BENCH_SF1.json lacks headline slopes {missing} — run: "
            "python tools/bench_scaling.py (slow; see its docstring)"
        )

    for e in errs:
        print(f"evidence_check: {e}", file=sys.stderr)
    if errs:
        print(
            "evidence_check: regenerate evidence in the SAME commit that "
            "registers a key (git commit --no-verify bypasses in an "
            "emergency; the test suite will still be red).",
            file=sys.stderr,
        )
    return 1 if errs else 0


def install_hook() -> int:
    hooks = ROOT / ".git" / "hooks"
    if not hooks.is_dir():
        print("evidence_check: no .git/hooks directory", file=sys.stderr)
        return 1
    path = hooks / "pre-commit"
    path.write_text(HOOK)
    path.chmod(0o755)
    print(f"installed {path}")
    return 0


if __name__ == "__main__":
    if "--install-hook" in sys.argv[1:]:
        sys.exit(install_hook())
    sys.exit(check())
