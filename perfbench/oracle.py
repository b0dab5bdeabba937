"""Output check: each query's Spark result against its DuckDB oracle.

Both sides are canonicalised by ``scripts/check_correctness.py:canon_rows``
(columns sorted by name, floats to 9 significant digits, rows sorted) and
reduced to a sha256 fingerprint.  Oracle fingerprints are cached on disk,
keyed on the fixture bytes and the oracle's SQL text, so a changed fixture or
oracle is recomputed and an unchanged one costs one hash lookup.
"""

from __future__ import annotations

import hashlib
import json
import os

from check_correctness import TABLES, canon_rows


def fingerprint(rows, colnames) -> str:
    canon = canon_rows(rows, list(colnames))
    return hashlib.sha256(repr(canon).encode()).hexdigest()


def fixture_digest(sf_dir: str) -> str:
    h = hashlib.sha256()
    for t in TABLES:
        with open(os.path.join(sf_dir, f"{t}.parquet"), "rb") as fh:
            h.update(t.encode())
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


class OracleCache:
    """Oracle fingerprints for one fixture directory, persisted as JSON."""

    def __init__(self, sf_dir: str, path: str) -> None:
        self.sf_dir = sf_dir
        self.path = path
        self.digest = fixture_digest(sf_dir)
        self._con = None
        try:
            with open(path) as fh:
                self.entries = json.load(fh)
        except (OSError, ValueError):
            self.entries = {}

    def _duckdb(self):
        if self._con is None:
            import duckdb

            self._con = duckdb.connect()
            for t in TABLES:
                p = os.path.join(self.sf_dir, f"{t}.parquet")
                self._con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
        return self._con

    def get(self, sql: str) -> str:
        key = hashlib.sha256((self.digest + "\0" + sql).encode()).hexdigest()
        if key not in self.entries:
            res = self._duckdb().execute(sql)
            cols = [d[0] for d in res.description]
            self.entries[key] = fingerprint(res.fetchall(), cols)
        return self.entries[key]

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
            self._con = None
        tmp = self.path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(self.entries, fh)
        os.replace(tmp, self.path)
