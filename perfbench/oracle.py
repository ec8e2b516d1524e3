"""Expected answers from the DuckDB oracles, and the check every timed call
must pass.

A result is reduced to (sorted column names, row count, digest of the
order-insensitive canonical rows), using the canonicalisation of
``tools/check_oracles.normalize`` on both sides.
"""

from __future__ import annotations

import hashlib

import pandas as pd

from tools.check_oracles import normalize


def fingerprint(df: pd.DataFrame) -> tuple[tuple[str, ...], int, str]:
    cols, rows = normalize(df)
    digest = hashlib.sha256(repr(rows).encode()).hexdigest()[:16]
    return tuple(cols), len(rows), digest


def rows_fingerprint(rows: list, columns: list[str]) -> tuple[tuple[str, ...], int, str]:
    """Fingerprint of ``DataFrame.collect()`` output."""
    return fingerprint(pd.DataFrame.from_records([tuple(r) for r in rows], columns=columns))


def expected(sf_dir: str, oracles: dict[str, str], tables: tuple[str, ...]) -> dict[str, tuple]:
    """Fingerprint of each oracle's answer (name -> DuckDB SQL) on the
    tables in ``sf_dir``."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        return {n: fingerprint(con.execute(sql).df()) for n, sql in oracles.items()}
    finally:
        con.close()
