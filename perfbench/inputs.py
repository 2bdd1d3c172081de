"""Seeded inputs and the oracle check.

Inputs come from the ``tools/make_fixtures.py`` table generators, with the
benchmark's seed in place of the generators' fixed one, so one seed always
gives byte-identical parquet. Query outputs are compared with their DuckDB
oracle (``queries_registry.ORACLES``) using ``tools/check_oracles.py``'s
canonical form and its exact tolerance. An oracle result is computed once
per input content and kept on disk, because some oracles are slow.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import sys

import duckdb
import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]

import check_oracles  # noqa: E402
import make_fixtures  # noqa: E402


def make_inputs(seed: int, scale: float, out_dir: str) -> None:
    """Write every fixture table at ``scale`` (x sf0.1) from ``seed``."""
    mf = make_fixtures
    n = {k: int(round(v * scale)) for k, v in mf.BASE.items()}
    os.makedirs(out_dir, exist_ok=True)
    fixed = mf.SEED
    mf.SEED = seed
    try:
        with contextlib.redirect_stdout(sys.stderr):
            mf.make_region_nation(out_dir)
            mf.make_customer(out_dir, n["customer"])
            mf.make_supplier(out_dir, n["supplier"])
            mf.make_part(out_dir, n["part"])
            mf.make_orders(out_dir, n["orders"], n["customer"])
            mf.make_lineitem(out_dir, n["lineitem"], n["orders"], n["part"], n["supplier"])
            mf.make_events(out_dir, n["events"], n["events_users"])
            mf.make_documents(out_dir, n["documents"])
            mf.make_embeddings(out_dir, n["embeddings"])
    finally:
        mf.SEED = fixed


def inputs_digest(sf_dir: str) -> str:
    h = hashlib.sha256()
    for t in check_oracles.TABLES:
        with open(os.path.join(sf_dir, f"{t}.parquet"), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def compare(sdf: pd.DataFrame, odf: pd.DataFrame) -> str:
    """``OK`` or the first difference, by ``tools/check_oracles.py``'s rules."""
    if len(sdf) != len(odf):
        return f"ROWCOUNT {len(sdf)} vs {len(odf)}"
    if sorted(sdf.columns) != sorted(odf.columns):
        return f"SCHEMA {sorted(sdf.columns)} vs {sorted(odf.columns)}"
    cols = sorted(sdf.columns)
    bad = check_oracles.dtype_mismatches(sdf[cols], odf[cols])
    if bad:
        return "DTYPE " + "; ".join(bad)
    try:
        pd.testing.assert_frame_equal(
            check_oracles.canon(sdf), check_oracles.canon(odf),
            check_dtype=False, check_exact=True,
        )
    except AssertionError as exc:
        return "VALUES " + str(exc).split("\n")[0]
    return "OK"


def oracle_frame(sql: str, sf_dir: str, digest: str, cache_dir: str) -> pd.DataFrame:
    """The oracle's result on ``sf_dir`` (content ``digest``), cached on disk."""
    key = hashlib.sha256(f"{digest}\n{sql}".encode()).hexdigest()[:24]
    path = os.path.join(cache_dir, f"{key}.pkl")
    if os.path.exists(path):
        return pd.read_pickle(path)
    with duckdb.connect() as con:
        con.execute("SET threads=4")
        for t in check_oracles.TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
        odf = con.sql(sql).df()
    os.makedirs(cache_dir, exist_ok=True)
    odf.to_pickle(path + ".tmp")
    os.replace(path + ".tmp", path)
    return odf
