"""DuckDB oracle for the benchmark's output checks.

Each oracle query runs once per run on the same generated parquet files
the engine read; results are compared with the canonicalization of
``tools/oracle_check.py`` (columns sorted by name, doubles rounded to
two places, timestamps ISO-normalized, rows sorted).

Two engines summing the same doubles in a different order can land on
either side of a half-cent, so rounding to two places alone can flip a
correct value.  When the canonical rows differ, the rows are compared
once more with doubles at a relative tolerance of 1e-9 (every other
value still exactly); only then is the output wrong.
"""

from __future__ import annotations

import math
import os

import duckdb

from tools.oracle_check import TABLES, _canon, canonical_rows

_REL_TOL = 1e-9


def _sort_key(v):
    if isinstance(v, float) and not math.isnan(v):
        return (0, v, "")
    return (1, 0.0, _canon(v))


def _ordered(cols: list[str], rows: list) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(r[i] for i in order) for r in rows]
    return sorted(out, key=lambda r: tuple(_sort_key(v) for v in r))


def _same(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return (math.isnan(a) and math.isnan(b)) or math.isclose(
            a, b, rel_tol=_REL_TOL, abs_tol=_REL_TOL
        )
    return _canon(a) == _canon(b)


class Oracle:
    def __init__(self, data_dir: str, threads: int = 2):
        self.con = duckdb.connect()
        self.con.execute(f"SET threads TO {threads}")
        for t in TABLES:
            p = os.path.join(data_dir, f"{t}.parquet")
            if os.path.exists(p):
                self.con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')"
                )
        self._cache: dict[str, tuple[list[str], list]] = {}

    def expected(self, name: str, sql: str):
        if name not in self._cache:
            res = self.con.execute(sql)
            self._cache[name] = ([d[0] for d in res.description], res.fetchall())
        return self._cache[name]

    def compare(self, name: str, sql: str, cols: list[str], rows: list) -> str:
        """'' when ``rows`` match the oracle, else a short description."""
        dcols, drows = self.expected(name, sql)
        if sorted(cols) != sorted(dcols):
            return f"schema {sorted(cols)} != oracle {sorted(dcols)}"
        if len(rows) != len(drows):
            return f"rowcount {len(rows)} != oracle {len(drows)}"
        got, want = canonical_rows(list(cols), rows), canonical_rows(dcols, drows)
        if got == want:
            return ""
        pairs = zip(_ordered(list(cols), rows), _ordered(dcols, drows))
        if all(all(map(_same, a, b)) for a, b in pairs):
            return ""
        diff = [(a, b) for a, b in zip(got, want) if a != b][:2]
        return f"values differ: {diff}"
