"""Output digests: row count plus an order-insensitive value hash.

The canonicalization and the table list are those of the project's oracle
parity harness, tools/check.py, loaded by path so the two cannot drift.
"""

from __future__ import annotations

import functools
import importlib.util
import os


@functools.lru_cache(maxsize=None)
def _check():
    path = os.path.join(os.getcwd(), "tools", "check.py")
    spec = importlib.util.spec_from_file_location("perfbench_check", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def digest(cols: list[str], rows: list) -> dict:
    return {"rows": len(rows), "cols": sorted(cols),
            "hash": _check().frame_fingerprint(cols, rows)}


def oracle_digests(tables_dir: str, sqls: dict[str, str]) -> dict:
    """Expected digests for `sqls` computed by DuckDB over `tables_dir`."""
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in _check().TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{tables_dir}/{t}.parquet')"
        )
    out = {}
    for name, sql in sqls.items():
        res = con.execute(sql)
        out[name] = digest([d[0] for d in res.description], res.fetchall())
    con.close()
    return out
