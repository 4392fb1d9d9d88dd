"""Test utilities: DuckDB oracle connection + exact DataFrame comparison.

Mirrors the driver's correctness gate: run the Spark query and the oracle SQL
side-by-side, compare schema (column names) and values exactly (sorted rows,
order-insensitive) — the same bar as the driver's value-hash."""

from __future__ import annotations

from contextlib import contextmanager

import duckdb
import numpy as np
import pandas as pd

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def duck(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS "
            f"SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _norm(df: pd.DataFrame) -> pd.DataFrame:
    cols = sorted(df.columns)
    df = df[cols]
    df = df.sort_values(by=cols, na_position="last").reset_index(drop=True)
    return df


def assert_matches_sql(sdf, sql: str, con, exact: bool = True, rtol: float = 0.0):
    got = _norm(sdf.toPandas())
    exp = _norm(con.execute(sql).fetchdf())
    assert list(got.columns) == list(exp.columns), (
        f"column mismatch: spark={list(got.columns)} oracle={list(exp.columns)}"
    )
    assert len(got) == len(exp), f"row count: spark={len(got)} oracle={len(exp)}"
    for c in got.columns:
        g, e = got[c].to_numpy(), exp[c].to_numpy()
        if np.issubdtype(g.dtype, np.floating) or np.issubdtype(e.dtype, np.floating):
            g = g.astype(np.float64)
            e = e.astype(np.float64)
            if exact:
                ok = (g == e) | (np.isnan(g) & np.isnan(e))
                assert ok.all(), (
                    f"{c}: exact float mismatch at {np.nonzero(~ok)[0][:5]}: "
                    f"{g[~ok][:5]} vs {e[~ok][:5]}"
                )
            else:
                np.testing.assert_allclose(g, e, rtol=rtol, equal_nan=True, err_msg=c)
        else:
            assert (pd.Series(g).fillna("__null__") == pd.Series(e).fillna("__null__")).all(), (
                f"{c}: value mismatch"
            )


class Py4jCount:
    """Round-trip tally filled by :func:`py4j_calls`."""

    calls = 0


@contextmanager
def py4j_calls(spark):
    """Count the py4j round trips the block makes (by wrapping the
    gateway client's ``send_command``); the count is read from the
    yielded object's ``calls``."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    tally = Py4jCount()

    def counting(*args, **kwargs):
        tally.calls += 1
        return send(*args, **kwargs)

    client.send_command = counting
    try:
        yield tally
    finally:
        client.send_command = send
