"""Generate docs/CATALOG.md: one line per registered query — key, oracle
status, source file (which holds ``def <key>``), and the docstring's first
sentence. The user-facing index of the whole operator surface (SURVEY.md
section 2 maps the reference; this maps the code).

Run after adding queries:  python tools/catalog_doc.py
"""

from __future__ import annotations

import inspect
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from saas_analytics_pipeline_spark import qcatalog  # noqa: E402


def first_sentence(doc: str) -> str:
    text = " ".join((doc or "").split())
    for stop in (". ", ".\n"):
        if stop in text:
            return text.split(stop)[0] + "."
    return text[:160] or "(no docstring)"


def render() -> str:
    """The full text of docs/CATALOG.md for the catalog as registered now."""
    qcatalog.load_all()
    lines = [
        "# Query catalog index (generated by tools/catalog_doc.py)",
        "",
        f"{len(qcatalog.QUERIES)} registered queries; oracle = has a DuckDB",
        "SQL twin hash-compared by the driver (rows-only otherwise).",
        "",
        "| Key | Oracle | Where | What |",
        "|---|---|---|---|",
    ]
    for name, entry in sorted(qcatalog.QUERIES.items()):
        fn = entry.fn
        # the file alone locates the key: `def <key>` names it there, and
        # no line number churns the doc when code above it moves
        assert fn.__name__ == name, f"{name} is registered on {fn.__name__}"
        src = Path(inspect.getsourcefile(fn)).relative_to(ROOT)
        oracle = "sql" if entry.oracle else "rows-only"
        what = first_sentence(entry.doc).replace("|", "\\|")
        lines.append(f"| `{name}` | {oracle} | {src} | {what} |")
    return "\n".join(lines) + "\n"


def main() -> None:
    out = ROOT / "docs" / "CATALOG.md"
    out.write_text(render())
    print(f"wrote {out} ({len(qcatalog.QUERIES)} queries)")


if __name__ == "__main__":
    main()
