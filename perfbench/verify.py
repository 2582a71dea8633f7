"""Output verification against each key's DuckDB oracle.

Spark's rows and the oracle's rows are reduced to the same order-insensitive
multiset ``tools/selfcheck.py`` compares (row count, sorted column names,
stringified rows). The oracle side is cached per dataset content hash and
oracle text, so only the first run in a checkout pays for DuckDB.
"""

from __future__ import annotations

import hashlib
import json
from pathlib import Path


def _digest(cols, rows, frame_to_multiset) -> dict:
    ms = frame_to_multiset(list(cols), [tuple(r) for r in rows])
    return {
        "rows": len(ms),
        "cols": sorted(cols),
        "digest": hashlib.sha256("\n".join(ms).encode()).hexdigest(),
    }


class Verifier:
    def __init__(self, sf_dir: Path, cache_file: Path, tools_dir: Path):
        import sys

        sys.path.insert(0, str(tools_dir))
        import selfcheck

        self._selfcheck = selfcheck
        self._sf_dir = sf_dir
        self._cache_file = cache_file
        self._cache = (
            json.loads(cache_file.read_text()) if cache_file.exists() else {}
        )
        self._con = None

    def _oracle(self, key: str, sql: str) -> dict:
        entry_key = f"{key}:{hashlib.sha256(sql.encode()).hexdigest()[:16]}"
        hit = self._cache.get(entry_key)
        if hit is not None:
            return hit
        if self._con is None:
            import duckdb

            self._con = duckdb.connect()
            for t in self._selfcheck.TABLES:
                self._con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM '{self._sf_dir}/{t}.parquet'"
                )
        cur = self._con.execute(sql)
        cols = [d[0] for d in cur.description]
        out = _digest(cols, cur.fetchall(), self._selfcheck.frame_to_multiset)
        self._cache[entry_key] = out
        self._cache_file.parent.mkdir(parents=True, exist_ok=True)
        self._cache_file.write_text(json.dumps(self._cache, sort_keys=True))
        return out

    def check(self, key: str, oracle: str | None, cols, rows) -> str | None:
        """None when the output is correct, else what is wrong."""
        if oracle is None:
            return None if rows else "no oracle and no rows"
        got = _digest(cols, rows, self._selfcheck.frame_to_multiset)
        want = self._oracle(key, oracle)
        if got == want:
            return None
        return (
            f"spark {got['rows']} rows {got['cols']} vs oracle "
            f"{want['rows']} rows {want['cols']}; or the values differ"
        )

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
