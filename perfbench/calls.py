"""The interactive call mix: single calls into public operator functions.

Each ``Call`` builds one result frame from the seeded tables; the client
forces it with ``collect()`` and checks its columns, its row count and,
where the call computes values, the values against what DuckDB computed
from the same files (``expect.interactive``).  The
mix covers the layers the profile pipeline never touches: the vertical
ones (text, dedup, similarity, temporal, datetime, geospatial,
timeseries, ML transformers) and the feature-building path (join, fit and
apply transformers, a parquet write read back).  So per-call overhead
shows here and bulk throughput on the profile.  The order is fixed; the
seed changes only the data.
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import functions as F

from anovos_spark.operators import (
    datetime_ops,
    dedup,
    geospatial,
    ingest,
    similarity,
    temporal,
    text,
    timeseries,
    transformers,
    transformers_ml,
)
from anovos_spark.operators.transformers_ml import BOXCOX_LAMBDAS
from anovos_spark.sources import io as sources_io

TOPK_QUERIES = 8
TOPK_K = 3
SESSION_GAP_S = 1800
BIN_SIZE = 10
IMPUTED = ("l_quantity", "l_discount")


@dataclass(frozen=True)
class Call:
    layer: str
    name: str
    build: Callable  # (tables, output dir) -> DataFrame
    columns: tuple  # columns the result must contain
    rows: Callable  # (manifest rows, expectations) -> expected row count
    values: Callable | None = None  # (collected rows, expectations) -> problem or None


def _li(t):
    return t["lineitem"]


def _write_read_back(t, out):
    sources_io.write_dataset(_li(t), out, "parquet", {"mode": "overwrite"})
    return sources_io.read_dataset(_li(t).sparkSession, out, "parquet")


def _rows(table):
    return lambda n, e: n[table]


def _close(a, b, tol=1e-9) -> bool:
    return a is not None and b is not None and abs(a - b) <= tol * max(1.0, abs(b))


def _first_bad(rows, ok, what):
    """The first row ``ok`` rejects, as a problem, or None."""
    bad = next((r for r in rows if not ok(r)), None)
    return None if bad is None else f"{what}: {bad.asDict()}"


# --------------------------------------------------------------------------- #
# value checks: what each call must produce, against the DuckDB expectations
# --------------------------------------------------------------------------- #
def _imputed(rows, e):
    """Every imputed value is set; known values are kept; missing ones are
    filled with the column's median."""
    def ok(r):
        return all(
            r[f"{c}_imputed"] is not None
            and (r[f"{c}_imputed"] == r[c] if r[c] is not None
                 else _close(r[f"{c}_imputed"], e["medians"][c]))
            for c in IMPUTED)
    return _first_bad(rows, ok, "imputation")


def _binned(rows, e):
    """Equal-range bin ids 1..BIN_SIZE over the column's min..max; nulls
    stay null."""
    lo, hi = e["quantity_range"]
    width = (hi - lo) / BIN_SIZE

    def ok(r):
        x, b = r["l_quantity"], r["l_quantity_binned"]
        if x is None:
            return b is None
        return b == max(1, min(BIN_SIZE, math.floor((x - lo) / width) + 1))
    return _first_bad(rows, ok, "binning")


def _safe(v: str) -> str:
    return "".join(ch if ch.isalnum() else "_" for ch in v)


def _one_hot(rows, e):
    """One 0/1 column per shipmode; exactly the row's own mode is 1."""
    cols = {v: f"l_shipmode_{_safe(v)}" for v in e["shipmodes"]}
    if rows and not set(cols.values()) <= set(rows[0].__fields__):
        return f"one-hot columns {sorted(cols.values())} not all in {rows[0].__fields__}"

    def ok(r):
        s = r["l_shipmode"]
        return all(r[c] == (None if s is None else int(s == v)) for v, c in cols.items())
    return _first_bad(rows, ok, "one-hot")


def _scaled(rows, e):
    """(x - mean) / sample stddev."""
    mu, sd = e["price_mean"], e["price_sd"]
    return _first_bad(
        rows, lambda r: _close(r["l_extendedprice_scaled"], (r["l_extendedprice"] - mu) / sd, 1e-6),
        "z-standardization")


def _boxcox(rows, e):
    """One lambda of the grid maps every price x to x^lambda (ln x at 0)."""
    def fits(lmb):
        f = math.log if lmb == 0 else (lambda x: x ** lmb)
        return all(_close(r["l_extendedprice_boxcox"], f(r["l_extendedprice"])) for r in rows)
    return None if any(fits(lmb) for lmb in BOXCOX_LAMBDAS) else \
        "boxcox: no lambda of the grid maps l_extendedprice to l_extendedprice_boxcox"


def _topk(rows, e):
    """Ranks 1..k, no self match, and each query's nearest neighbour is
    the one DuckDB finds by cosine similarity."""
    want = {q: n for q, n in e["nearest"]}
    got = {r["query_id"]: r["neighbor_id"] for r in rows if r["rank"] == 1}
    if got != want:
        return f"top-k: rank-1 neighbours {got}, expected {want}"
    return _first_bad(rows, lambda r: 1 <= r["rank"] <= TOPK_K and r["query_id"] != r["neighbor_id"],
                      "top-k")


MIX = (
    Call("operators.text", "text_statistics",
         lambda t, out: text.text_statistics(t["documents"]), ("doc_id",), _rows("documents")),
    Call("operators.dedup", "exact_dedup",
         lambda t, out: dedup.exact_dedup(t["documents"], treatment=True)[0], ("doc_id", "text"),
         lambda n, e: e["distinct_texts"]),
    Call("operators.similarity", "brute_force_topk",
         lambda t, out: similarity.brute_force_topk(
             t["embeddings"], t["embeddings"].where(F.col("vec_id") < TOPK_QUERIES), k=TOPK_K),
         ("query_id", "neighbor_id", "cos_sim", "rank"), lambda n, e: TOPK_QUERIES * TOPK_K, _topk),
    Call("operators.temporal", "sessionize",
         lambda t, out: temporal.sessionize(t["events"], "ts", "user_id", SESSION_GAP_S), ("user_id",),
         lambda n, e: e["sessions"]),
    Call("operators.datetime_ops", "aggregator",
         lambda t, out: datetime_ops.aggregator(t["events"], ["value"], ["count", "sum"], "ts",
                                           "yyyy-MM-dd"), (), lambda n, e: e["days"]),
    Call("operators.datetime_ops", "time_units_extraction",
         lambda t, out: datetime_ops.time_units_extraction(t["events"], ["ts"], ["year", "month", "hour"]),
         ("ts_year", "ts_month", "ts_hour"), _rows("events")),
    Call("operators.geospatial", "geohash_encode",
         lambda t, out: geospatial.geohash_encode(t["points"], "lat", "lon"), ("geohash",),
         _rows("points")),
    Call("operators.timeseries", "ts_processed_feats",
         lambda t, out: timeseries.ts_processed_feats(t["events"], "ts"), ("ts_date", "ts_weekend"),
         _rows("events")),
    Call("operators.transformers_ml", "boxcox_transformation",
         lambda t, out: transformers_ml.boxcox_transformation(
             _li(t), ["l_extendedprice"], output_mode="append")[0],
         ("l_extendedprice", "l_extendedprice_boxcox"), _rows("lineitem"), _boxcox),
    Call("operators.ingest", "join_dataset",
         lambda t, out: ingest.join_dataset(_li(t).withColumnRenamed("l_orderkey", "o_orderkey"),
                                            t["orders"], join_cols="o_orderkey"),
         ("o_orderkey", "o_totalprice", "l_quantity"), lambda n, e: e["joined"]),
    Call("operators.transformers", "imputation_MMM",
         lambda t, out: transformers.imputation_MMM(_li(t), list(IMPUTED), output_mode="append")[0],
         tuple(f"{c}_imputed" for c in IMPUTED), _rows("lineitem"), _imputed),
    Call("operators.transformers", "attribute_binning",
         lambda t, out: transformers.attribute_binning(_li(t), ["l_quantity"], bin_size=BIN_SIZE,
                                                       output_mode="append")[0],
         ("l_quantity", "l_quantity_binned"), _rows("lineitem"), _binned),
    Call("operators.transformers", "one_hot_encoding",
         lambda t, out: transformers.one_hot_encoding(_li(t), ["l_shipmode"]), ("l_shipmode",),
         _rows("lineitem"), _one_hot),
    Call("operators.transformers", "z_standardization",
         lambda t, out: transformers.z_standardization(_li(t), ["l_extendedprice"],
                                                       output_mode="append")[0],
         ("l_extendedprice", "l_extendedprice_scaled"), _rows("lineitem"), _scaled),
    Call("sources.io", "write_dataset",
         _write_read_back, ("l_orderkey",), _rows("lineitem")),
)


def check(call: Call, columns, rows: list, manifest_rows: dict, expect: dict) -> str | None:
    """None when the result has the expected columns, row count and
    values, otherwise what is wrong."""
    missing = [c for c in call.columns if c not in columns]
    if missing:
        return f"{call.name}: missing columns {missing}"
    want = call.rows(manifest_rows, expect)
    if len(rows) != want:
        return f"{call.name}: {len(rows)} rows, expected {want}"
    bad = call.values(rows, expect) if call.values is not None else None
    return None if bad is None else f"{call.name}: {bad}"
