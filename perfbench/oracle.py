"""Output checks: order-insensitive digests of Spark results and of the
DuckDB oracle over the same generated tables.

A digest is (sorted column names, row count, sha256 of the sorted canonical
rows). Cell canonicalization is ``tools/check_oracle.py``'s ``canon`` and
``normalize``, so a digest match here is the project's own oracle gate;
maps become sorted (key, value) tuples and structs plain tuples first.
"""

from __future__ import annotations

import hashlib
import importlib.util
import os

import duckdb

from kalytical_spark import domain

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_check_oracle():
    spec = importlib.util.spec_from_file_location(
        "perfbench_check_oracle", os.path.join(_ROOT, "tools", "check_oracle.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


_CHECK = _load_check_oracle()


def _plain(v):
    """Spark Row/map/list values in the shape canon() compares."""
    if isinstance(v, dict):
        return tuple(sorted((k, _plain(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        return tuple(_plain(x) for x in v)
    return v


def digest(cols: list[str], rows: list[tuple]) -> tuple:
    names, normalized = _CHECK.normalize(list(cols), [tuple(_plain(x) for x in r) for r in rows])
    h = hashlib.sha256(repr(normalized).encode()).hexdigest()
    return (tuple(names), len(normalized), h)


def spark_digest(cols: list[str], spark_rows: list) -> tuple:
    return digest(cols, [tuple(r) for r in spark_rows])


def connect(sf_dir: str, domain_tables: bool = True) -> duckdb.DuckDBPyConnection:
    """DuckDB over the generated parquet, with the domain tables
    materialized from the catalog's own dialect-shared SQL."""
    con = duckdb.connect()
    # the checks run after the timed work, with every core the run has
    con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
    con.execute("SET enable_progress_bar = false")
    for name in domain.BASE_TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
    if domain_tables:
        for name in domain.DOMAIN_TABLES:
            con.execute(f"CREATE TABLE {name} AS {domain.domain_select(name)}")
    return con


def oracle_digest(con, sql: str) -> tuple:
    cur = con.execute(sql)
    cols = [c[0] for c in cur.description]
    return digest(cols, cur.fetchall())
