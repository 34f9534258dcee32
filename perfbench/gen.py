"""Seeded input generator for the benchmark workloads.

Every table is a pure function of the seed: the same seed writes
byte-identical parquet.  The tables are TPC-H shaped (lineitem, orders)
plus the small side tables the interactive mix needs (documents, events,
points, embeddings).  Defects are injected on purpose, because clean
inputs make the quality and imputation stages do trivial work:

- nulls in numeric and categorical columns,
- exact duplicate rows,
- extreme outliers in the price column,
- a Zipf-skewed categorical column (``l_shipmode``),
- a drift-shifted baseline of the profile table.

Generation is not part of any timed region.  ``generate`` returns a
manifest with each table's path, row count and content digest.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# rows of the profile table before duplicates are appended
PROFILE_ROWS = 120_000
# interactive tables (sf0.01-sized)
INTERACTIVE_ROWS = 4_000
DOC_ROWS = 400
EVENT_ROWS = 4_000
POINT_ROWS = 4_000
EMBED_ROWS = 400
EMBED_DIM = 16

NULL_SHARE = 0.03
DUP_SHARE = 0.01
OUTLIER_SHARE = 0.002

SHIPMODES = ["TRUCK", "MAIL", "SHIP", "AIR", "RAIL", "FOB", "REG AIR"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
WORDS = (
    "data feature model spark column value table metric drift quality "
    "outlier binning encoding scaler report cluster join write read stage "
    "pipeline batch session latency memory shuffle partition record schema"
).split()
EVENT_TYPES = ["view", "click", "cart", "buy"]
EPOCH_1992 = 694_224_000  # 1992-01-01T00:00:00Z in seconds


def _ts(seconds: np.ndarray) -> pa.Array:
    return pa.array(seconds.astype("int64") * 1_000_000, type=pa.timestamp("us", tz="UTC"))


def _with_nulls(rng, values: np.ndarray, share: float) -> np.ndarray:
    mask = rng.random(len(values)) < share
    out = values.astype(object)
    out[mask] = None
    return out


def _orders(rng, n_orders: int) -> pa.Table:
    key = np.arange(1, n_orders + 1, dtype="int64")
    return pa.table({
        "o_orderkey": key,
        "o_custkey": rng.integers(1, max(2, n_orders // 10), n_orders),
        "o_orderstatus": rng.choice(["O", "F", "P"], n_orders, p=[0.49, 0.49, 0.02]),
        "o_totalprice": np.round(rng.gamma(2.0, 70_000.0, n_orders), 2),
        "o_orderdate": _ts(EPOCH_1992 + rng.integers(0, 6 * 365 * 86_400, n_orders)),
        "o_orderpriority": pa.array(
            _with_nulls(rng, rng.choice(PRIORITIES, n_orders), NULL_SHARE), pa.string()
        ),
    })


def _lineitem(rng, n: int, n_orders: int, shift: float = 0.0) -> pa.Table:
    """Lineitem rows with injected nulls, outliers and Zipf skew.
    ``shift`` > 0 moves the numeric distributions and the flag mix, to
    make a drift baseline."""
    qty = np.clip(np.round(rng.normal(25.0 + 8.0 * shift, 12.0, n)), 1, 60)
    unit = rng.uniform(900.0, 2_100.0, n) * (1.0 + 0.4 * shift)
    price = np.round(qty * unit, 2)
    out = rng.random(n) < OUTLIER_SHARE
    price[out] *= rng.uniform(20.0, 60.0, int(out.sum()))
    zipf = np.minimum(rng.zipf(1.6, n), len(SHIPMODES)) - 1
    flag_p = [0.25, 0.5, 0.25] if shift == 0 else [0.15, 0.45, 0.40]
    return pa.table({
        "l_orderkey": rng.integers(1, n_orders + 1, n),
        "l_partkey": rng.integers(1, 20_000, n),
        "l_suppkey": rng.integers(1, 1_000, n),
        "l_linenumber": rng.integers(1, 8, n).astype("int32"),
        "l_quantity": pa.array(_with_nulls(rng, qty, NULL_SHARE), pa.float64()),
        "l_extendedprice": price,
        "l_discount": pa.array(
            _with_nulls(rng, np.round(rng.uniform(0, 0.1, n), 2), NULL_SHARE), pa.float64()
        ),
        "l_tax": np.round(rng.uniform(0, 0.08, n), 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n, p=flag_p),
        "l_linestatus": rng.choice(["O", "F"], n),
        "l_shipmode": pa.array(
            _with_nulls(rng, np.array(SHIPMODES)[zipf], NULL_SHARE), pa.string()
        ),
        "l_shipdate": _ts(EPOCH_1992 + rng.integers(0, 6 * 365 * 86_400, n)),
    })


def _with_duplicates(rng, table: pa.Table, share: float) -> pa.Table:
    """Append exact copies of ``share`` of the rows, then shuffle."""
    n = table.num_rows
    dup = rng.choice(n, int(n * share), replace=False)
    both = pa.concat_tables([table, table.take(pa.array(dup))])
    return both.take(pa.array(rng.permutation(both.num_rows)))


def _joined(lineitem: pa.Table, orders: pa.Table) -> pa.Table:
    """lineitem ⋈ orders on the order key, in lineitem row order."""
    keys = lineitem.column("l_orderkey").to_numpy()
    idx = pa.array(keys - 1)
    cols = {name: lineitem.column(name) for name in lineitem.column_names}
    for name in ("o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"):
        cols[name] = orders.column(name).take(idx)
    return pa.table(cols)


def _documents(rng, n: int) -> pa.Table:
    texts = []
    for i in range(n):
        if i >= n // 5 and rng.random() < 0.2:  # near-duplicate of an earlier doc
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = str(rng.choice(WORDS))
            texts.append(" ".join(words))
            continue
        k = int(rng.integers(20, 60))
        words = list(rng.choice(WORDS, k))
        if rng.random() < 0.1:
            words.append(f"contact user{i}@example.com")
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": np.arange(n, dtype="int64"),
        "text": texts,
        "lang": rng.choice(["en", "de"], n, p=[0.9, 0.1]),
        "source": rng.choice(["web", "books", "code"], n, p=[0.6, 0.3, 0.1]),
    })


def _events(rng, n: int) -> pa.Table:
    users = rng.integers(1, max(2, n // 40), n)
    ts = EPOCH_1992 + np.sort(rng.integers(0, 30 * 86_400, n))
    return pa.table({
        "event_id": np.arange(n, dtype="int64"),
        "ts": _ts(ts),
        "user_id": users.astype("int64"),
        "event_type": rng.choice(EVENT_TYPES, n, p=[0.55, 0.25, 0.12, 0.08]),
        "value": np.round(rng.exponential(20.0, n), 3),
    })


def _points(rng, n: int) -> pa.Table:
    centers = rng.uniform([-50.0, -120.0], [60.0, 140.0], (8, 2))
    c = rng.integers(0, 8, n)
    lat = np.clip(centers[c, 0] + rng.normal(0, 2.0, n), -89.9, 89.9)
    lon = np.clip(centers[c, 1] + rng.normal(0, 2.0, n), -179.9, 179.9)
    return pa.table({
        "id": np.arange(n, dtype="int64"),
        "grp": (c + 1).astype("int64"),
        "lat": lat, "lon": lon,
        "lat2": np.clip(lat + rng.normal(0, 1.0, n), -89.9, 89.9),
        "lon2": np.clip(lon + rng.normal(0, 1.0, n), -179.9, 179.9),
    })


def _embeddings(rng, n: int, dim: int) -> pa.Table:
    vecs = rng.normal(0, 1, (n, dim)).astype("float32")
    vecs[n // 2:] = vecs[: n - n // 2] + rng.normal(0, 0.01, (n - n // 2, dim)).astype("float32")
    return pa.table({
        "vec_id": np.arange(n, dtype="int64"),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": rng.integers(0, 4, n).astype("int32"),
    })


def _digest(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as fh:
        for block in iter(lambda: fh.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()[:16]


def _write(out_dir: str, name: str, table: pa.Table, manifest: dict) -> None:
    path = os.path.join(out_dir, f"{name}.parquet")
    pq.write_table(table, path, row_group_size=1 << 20)
    manifest[name] = {"path": path, "rows": table.num_rows, "sha256_16": _digest(path)}


def generate(workload: str, seed: int, out_dir: str) -> dict:
    """Write the tables ``workload`` reads into ``out_dir``; return the
    manifest {table: {path, rows, sha256_16}}."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, {"profile": 1, "interactive": 3}[workload]])
    manifest: dict = {}
    if workload == "profile":
        n = PROFILE_ROWS
        n_orders = max(1, n // 4)
        orders = _orders(rng, n_orders)
        main = _with_duplicates(rng, _joined(_lineitem(rng, n, n_orders), orders), DUP_SHARE)
        _write(out_dir, "profile", main, manifest)
        base = _joined(_lineitem(rng, n // 4, n_orders, shift=1.0), orders)
        _write(out_dir, "baseline", base, manifest)
    elif workload == "interactive":
        n = INTERACTIVE_ROWS
        n_orders = max(1, n // 4)
        _write(out_dir, "orders", _orders(rng, n_orders), manifest)
        _write(out_dir, "lineitem", _lineitem(rng, n, n_orders), manifest)
        _write(out_dir, "documents", _documents(rng, DOC_ROWS), manifest)
        _write(out_dir, "events", _events(rng, EVENT_ROWS), manifest)
        _write(out_dir, "points", _points(rng, POINT_ROWS), manifest)
        _write(out_dir, "embeddings", _embeddings(rng, EMBED_ROWS, EMBED_DIM), manifest)
    else:
        raise ValueError(f"unknown workload {workload!r}")
    with open(os.path.join(out_dir, "manifest.json"), "w") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)
    return manifest
