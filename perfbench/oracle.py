"""DuckDB answers for every timed operation, computed before the timed
phase and cached per data directory.

Results compare as the engine test suite's oracle check does
(``tests/oracle.py``): same column names, same row count, rows as an
order-insensitive multiset keyed by sorted column name. Floats may differ
by one unit in their last decimal place: both engines round money and
ratios, and a sum whose exact value sits on a half-way point rounds apart
when the engines add in different orders (q7's revenue did so on one of
the first dozen seeds tried).
"""

from __future__ import annotations

import json
import math
import os
from decimal import Decimal

import duckdb


def _connection(data_dir: str) -> duckdb.DuckDBPyConnection:
    import tempfile

    con = duckdb.connect()
    con.execute(f"SET memory_limit='{os.environ['SPARK_GRAFT_DUCK_MEM_GB']}GB'")
    con.execute(f"SET temp_directory='{tempfile.mkdtemp(prefix='duck_')}'")
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            con.execute(
                f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{data_dir}/{f}')"
            )
    return con


def answers(ops, data_dir: str, cache_path: str) -> dict[str, dict]:
    """oracle_key -> {"cols": sorted column names, "rows": canonical rows}."""
    cached: dict[str, dict] = {}
    if os.path.exists(cache_path):
        with open(cache_path) as f:
            cached = json.load(f)
    missing = {op.oracle_key: op.oracle for op in ops if op.oracle_key not in cached}
    if missing:
        con = _connection(data_dir)
        try:
            for key, sql in missing.items():
                res = con.execute(sql)
                cols = [d[0] for d in res.description]
                cached[key] = {"cols": sorted(cols), "rows": _rows(res.fetchall(), cols)}
        finally:
            con.close()
        tmp = f"{cache_path}.{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(cached, f)
        os.replace(tmp, cache_path)
    return cached


def _cell(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v
    return repr(v)


def _rows(rows, cols) -> list[list]:
    """Cells in sorted-column order: floats kept, everything else repr'd."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return [[_cell(row[i]) for i in order] for row in rows]


def _key(row):
    return (
        tuple(c for c in row if not isinstance(c, float)),
        tuple(c for c in row if isinstance(c, float)),
    )


def _close(a, b) -> bool:
    if not (isinstance(a, float) and isinstance(b, float)):
        return a == b
    unit = 10.0 ** min(Decimal(repr(x)).as_tuple().exponent for x in (a, b))
    return abs(a - b) <= 1.5 * unit or math.isclose(a, b, rel_tol=1e-9)


def matches(answer: dict, cols: list[str], rows: list) -> bool:
    if sorted(cols) != answer["cols"] or len(rows) != len(answer["rows"]):
        return False
    got = sorted(_rows(rows, cols), key=_key)
    want = sorted(answer["rows"], key=_key)
    return all(
        len(g) == len(w) and all(map(_close, g, w)) for g, w in zip(got, want)
    )
