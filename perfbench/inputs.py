"""Benchmark inputs: the bundled sf0.001 tables and replicas built from them.

``data/sf0.001`` is a copy of the sf0.001 test tables (TPC-H-style star
schema plus events, documents and embeddings). A replica of N copies is
built once per checkout by ``tools/gen_sf1.py`` (key-space shifting, one
token suffix per copy) into ``.perfbench_work/data/r<N>`` and reused. Every
run checks the row counts before anything is timed.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import shutil
import sys
from pathlib import Path
from unittest import mock

BUNDLED = Path(__file__).resolve().parent / "data" / "sf0.001"

# row counts of the bundled tables; gen_sf1 copies STATIC tables once and
# multiplies every other table by the copy count
BASE_ROWS = {
    "region": 5,
    "nation": 25,
    "customer": 150,
    "supplier": 10,
    "part": 200,
    "orders": 1500,
    "lineitem": 6000,
    "events": 1000,
    "documents": 500,
    "embeddings": 500,
}


def expected_rows(copies: int) -> dict[str, int]:
    static = {"region", "nation"}
    return {t: n if t in static else n * copies for t, n in BASE_ROWS.items()}


def row_counts(sf_dir: Path) -> dict[str, int]:
    import duckdb

    con = duckdb.connect()
    try:
        return {
            t: con.sql(
                f"SELECT count(*) FROM read_parquet('{sf_dir / t}.parquet')"
            ).fetchone()[0]
            for t in BASE_ROWS
        }
    finally:
        con.close()


def _build_replica(copies: int, dst: Path, tools_dir: Path) -> None:
    sys.path.insert(0, str(tools_dir))
    import gen_sf1

    tmp = dst.with_name(dst.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    gen_sf1.SRC = str(BUNDLED)
    gen_sf1.LOCALDATA = tmp.parent
    argv = ["gen_sf1.py", str(copies), tmp.name]
    with mock.patch.object(sys, "argv", argv), contextlib.redirect_stdout(sys.stderr):
        gen_sf1.main()
    os.replace(tmp, dst)


def prepare(copies: int, data_root: Path, tools_dir: Path) -> Path:
    """Return the dataset dir for ``copies``, building it if absent, and
    refuse (SystemExit) when its row counts are not the expected ones."""
    if copies == 1:
        sf_dir = BUNDLED
    else:
        sf_dir = data_root / f"r{copies}"
        if not sf_dir.is_dir():
            data_root.mkdir(parents=True, exist_ok=True)
            _build_replica(copies, sf_dir, tools_dir)
    got, want = row_counts(sf_dir), expected_rows(copies)
    if got != want:
        raise SystemExit(f"dataset {sf_dir} has row counts {got}, expected {want}")
    return sf_dir


def fingerprint(sf_dir: Path) -> str:
    """Content hash of a dataset dir: the key of its cached oracle results."""
    h = hashlib.sha256()
    for p in sorted(sf_dir.glob("*.parquet")):
        h.update(p.name.encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]
