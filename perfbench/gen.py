"""Seeded synthetic input tables for the benchmark.

Writes the ten parquet tables the engine reads (`region nation customer
supplier part orders lineitem events documents embeddings`) with the same
column names, types and value domains as the engine's reference test tables,
so every query and its DuckDB oracle run unchanged. The same (seed, sf) always
gives byte-identical values.

Row counts follow the reference tables: orders = 1.5e6 * sf, each with 1 to 7
lines numbered 1..k as in TPC-H, so (l_orderkey, l_linenumber) is unique and
lineitem has about 6e6 * sf rows; events = 1e6 * sf, documents =
max(500, 5e4 * sf), embeddings = max(500, 2e4 * sf).
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ALL_TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings")

VOCAB = ("join hash row batch scan column customer filter small slow merge order "
         "vector line table data agg value key stream window a spark part group "
         "big sort query fast the").split()
LANGS = np.array(["en", "zh", "es", "de", "fr"])
LANG_P = [0.44, 0.15, 0.14, 0.14, 0.13]


def _counts(sf):
    return {
        "customer": int(1.5e5 * sf), "supplier": max(10, int(1e4 * sf)),
        "part": int(2e5 * sf), "orders": int(1.5e6 * sf),
        "events": int(1e6 * sf),
        "documents": max(500, int(5e4 * sf)), "embeddings": max(500, int(2e4 * sf)),
    }


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, span_days, n):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]").astype("timedelta64[us]")


def make_tables(sf, seed, names=ALL_TABLES):
    """Return {name: pyarrow.Table} for the requested tables."""
    n = _counts(sf)
    out = {}
    # one independent stream per table: asking for a subset gives the same
    # values as generating all of them
    rng_of = {t: np.random.default_rng([seed, i]) for i, t in enumerate(ALL_TABLES)}
    for t in names:
        rng = rng_of[t]
        if t == "region":
            out[t] = pa.table({
                "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
        elif t == "nation":
            k = np.arange(25, dtype=np.int32)
            out[t] = pa.table({"n_nationkey": k, "n_name": [f"NATION_{i}" for i in k],
                               "n_regionkey": (k % 5).astype(np.int32)})
        elif t == "customer":
            m = n[t]; k = np.arange(m, dtype=np.int64)
            out[t] = pa.table({
                "c_custkey": k, "c_name": [f"Customer#{i:09d}" for i in k],
                "c_nationkey": rng.integers(0, 25, m).astype(np.int32),
                "c_acctbal": _money(rng, -999.99, 9999.99, m),
                "c_mktsegment": rng.choice(["HOUSEHOLD", "MACHINERY", "FURNITURE",
                                            "BUILDING", "AUTOMOBILE"], m)})
        elif t == "supplier":
            m = n[t]; k = np.arange(m, dtype=np.int64)
            out[t] = pa.table({
                "s_suppkey": k, "s_name": [f"Supplier#{i:09d}" for i in k],
                "s_nationkey": rng.integers(0, 25, m).astype(np.int32),
                "s_acctbal": _money(rng, -999.99, 9999.99, m)})
        elif t == "part":
            m = n[t]; k = np.arange(m, dtype=np.int64)
            adj = np.array(["blue", "red", "cold", "small", "green", "big", "old", "shiny"])
            noun = np.array(["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"])
            out[t] = pa.table({
                "p_partkey": k,
                "p_name": np.char.add(np.char.add(rng.choice(adj, m), " "), rng.choice(noun, m)),
                "p_brand": np.char.add("Brand#", rng.integers(1, 26, m).astype(str)),
                "p_type": rng.choice(["MEDIUM", "STANDARD", "LARGE", "PROMO", "SMALL", "ECONOMY"], m),
                "p_size": rng.integers(1, 51, m).astype(np.int32),
                "p_retailprice": np.round(900.0 + (k % 1000) * 0.1, 2)})
        elif t == "orders":
            m = n[t]
            out[t] = pa.table({
                "o_orderkey": np.arange(m, dtype=np.int64),
                "o_custkey": rng.integers(0, n["customer"], m),
                "o_orderstatus": rng.choice(["P", "F", "O"], m),
                "o_totalprice": _money(rng, 1000.0, 500000.0, m),
                "o_orderdate": _days(rng, "1995-01-01", 2400, m),
                "o_orderpriority": rng.choice(["5-LOW", "4-NOT SPECIFIED", "2-HIGH",
                                               "1-URGENT", "3-MEDIUM"], m)})
        elif t == "lineitem":
            lines = rng.integers(1, 8, n["orders"])
            m = int(lines.sum())
            first = np.repeat(np.cumsum(lines) - lines, lines)
            out[t] = pa.table({
                "l_orderkey": np.repeat(np.arange(n["orders"], dtype=np.int64), lines),
                "l_partkey": rng.integers(0, n["part"], m),
                "l_suppkey": rng.integers(0, n["supplier"], m),
                "l_linenumber": (np.arange(m) - first + 1).astype(np.int32),
                "l_quantity": rng.integers(1, 51, m).astype(np.float64),
                "l_extendedprice": _money(rng, 900.0, 105000.0, m),
                "l_discount": rng.integers(0, 11, m) / 100.0,
                "l_tax": rng.integers(0, 9, m) / 100.0,
                "l_returnflag": rng.choice(["A", "N", "R"], m),
                "l_linestatus": rng.choice(["F", "O"], m),
                "l_shipdate": _days(rng, "1995-01-02", 2500, m)})
        elif t == "events":
            m = n[t]
            ts = np.datetime64("2024-01-01", "us") + np.sort(
                rng.integers(0, 30 * 86400 * 10**6, m)).astype("timedelta64[us]")
            out[t] = pa.table({
                "event_id": np.arange(m, dtype=np.int64), "ts": ts,
                "user_id": rng.integers(0, 150, m),
                "event_type": rng.choice(["signup", "error", "click", "view", "purchase"], m),
                "value": np.round(rng.exponential(50.0, m), 2) + 0.01,
                "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, m)]})
        elif t == "documents":
            m = n[t]
            lens = rng.integers(10, 100, m)
            words = rng.choice(np.array(VOCAB + ["dup"]), int(lens.sum()),
                               p=[0.999 / len(VOCAB)] * len(VOCAB) + [0.001])
            cuts = np.cumsum(lens)[:-1]
            text = [" ".join(ws) for ws in np.split(words, cuts)]
            out[t] = pa.table({
                "doc_id": np.arange(m, dtype=np.int64), "text": text,
                "lang": rng.choice(LANGS, m, p=LANG_P),
                "source": [f"src{i % 20}" for i in range(m)],
                "n_chars": np.array([len(s) for s in text], dtype=np.int64)})
        elif t == "embeddings":
            m = n[t]
            v = rng.standard_normal((m, 64)).astype(np.float32)
            v /= np.linalg.norm(v, axis=1, keepdims=True)
            out[t] = pa.table({
                "vec_id": np.arange(m, dtype=np.int64),
                "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
                "label": rng.integers(0, 10, m).astype(np.int32)})
        else:
            raise ValueError(f"unknown table {t}")
    return out


def write_tables(out_dir, sf, seed, names=ALL_TABLES):
    """Write the tables as `<out_dir>/<name>.parquet`; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in make_tables(sf, seed, names).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows
