"""Expected outputs, recomputed by DuckDB over the generated parquet.

The benchmark never trusts the program to check itself: each workload's
outputs are compared with values an independent engine computes from the
same files.  Computing them is not timed.
"""

from __future__ import annotations

import duckdb

from perfbench.calls import IMPUTED, SESSION_GAP_S, TOPK_QUERIES
from perfbench.pipelines import NUMERIC, PROFILE_COLUMNS


def _one(con, sql: str):
    return con.execute(sql).fetchone()


def profile(tables: dict) -> dict:
    cols = PROFILE_COLUMNS
    path = "(SELECT " + ", ".join(cols) + f" FROM '{tables['profile']['path']}')"
    con = duckdb.connect()
    try:
        rows = _one(con, f"SELECT count(*) FROM {path}")[0]
        distinct = _one(con, f"SELECT count(*) FROM (SELECT DISTINCT * FROM {path})")[0]
        nulls = _one(con, "SELECT " + ", ".join(
            f'count(*) - count("{c}")' for c in cols) + f" FROM {path}")
        means = _one(con, "SELECT " + ", ".join(f'avg("{c}")' for c in NUMERIC) + f" FROM {path}")
    finally:
        con.close()
    return {
        "rows": rows,
        "duplicate_rows": rows - distinct,
        "missing": dict(zip(cols, nulls)),
        "means": dict(zip(NUMERIC, means)),
    }


def interactive(tables: dict) -> dict:
    ev, docs = tables["events"]["path"], tables["documents"]["path"]
    li, od = tables["lineitem"]["path"], tables["orders"]["path"]
    emb = tables["embeddings"]["path"]
    con = duckdb.connect()
    try:
        sessions = _one(con, f"""
            SELECT count(*) FROM (
              SELECT epoch(ts) - lag(epoch(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS gap
              FROM '{ev}') WHERE gap IS NULL OR gap >= {SESSION_GAP_S}
        """)[0]
        days = _one(con, f"SELECT count(DISTINCT floor(epoch(ts) / 86400)) FROM '{ev}'")[0]
        texts = _one(con, f"SELECT count(DISTINCT text) FROM '{docs}'")[0]
        joined = _one(con, f"SELECT count(*) FROM '{li}' l JOIN '{od}' o "
                           "ON l.l_orderkey = o.o_orderkey")[0]
        medians = _one(con, "SELECT " + ", ".join(
            f"quantile_cont({c}, 0.5)" for c in IMPUTED) + f" FROM '{li}'")
        quantity_range = _one(con, f"SELECT min(l_quantity), max(l_quantity) FROM '{li}'")
        price_mean, price_sd = _one(
            con, f"SELECT avg(l_extendedprice), stddev_samp(l_extendedprice) FROM '{li}'")
        shipmodes = [r[0] for r in con.execute(
            f"SELECT DISTINCT l_shipmode FROM '{li}' WHERE l_shipmode IS NOT NULL").fetchall()]
        nearest = con.execute(f"""
            SELECT q.vec_id, arg_max(c.vec_id, list_cosine_similarity(q.embedding, c.embedding))
            FROM '{emb}' q, '{emb}' c
            WHERE q.vec_id < {TOPK_QUERIES} AND c.vec_id <> q.vec_id
            GROUP BY q.vec_id ORDER BY q.vec_id
        """).fetchall()
    finally:
        con.close()
    return {"sessions": sessions, "days": days, "distinct_texts": texts,
            "joined": joined, "medians": dict(zip(IMPUTED, medians)),
            "quantity_range": list(quantity_range), "price_mean": price_mean,
            "price_sd": price_sd, "shipmodes": sorted(shipmodes),
            "nearest": [list(r) for r in nearest]}


def for_workload(workload: str, tables: dict) -> dict:
    return {"profile": profile, "interactive": interactive}[workload](tables)
