"""Seeded generator for the query-registry tables.

The registry queries in ``pcornet_data_curation_spark.queries`` read a
directory of parquet tables (``region nation customer supplier part
orders lineitem events documents embeddings``). This module writes one
such directory from a seed, with the column names and types the
queries expect, so the benchmark needs no external data. Every value is
a pure function of (seed, row id).
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

_WORDS = (
    "the a fast slow big small key value row column table scan join merge "
    "sort hash filter group agg window batch stream spark query data line "
    "part order customer vector"
).split()
_LANGS = ["en", "en", "fr", "es", "de", "zh"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PADJ = ["cold", "small", "large", "red", "blue", "green"]
_PNOUN = ["widget", "bolt", "nut", "gear", "spring"]
_EVENTS = ["click", "error", "purchase", "signup", "view"]


def _write(df: pd.DataFrame, path: str, schema: pa.Schema) -> None:
    pq.write_table(pa.Table.from_pandas(df, schema=schema, preserve_index=False), path)


def _days(rng: np.random.Generator, n: int, start: dt.date, span_days: int) -> pd.Series:
    base = np.datetime64(start.isoformat(), "us")
    offs = rng.integers(0, span_days, n).astype("timedelta64[D]").astype("timedelta64[us]")
    return pd.Series(base + offs)


def write_tables(root: str, sf: float, seed: int = 42) -> dict[str, int]:
    """Write the ten tables under ``root`` at scale ``sf`` (sf=0.01 gives
    60,000 lineitem rows). Returns row counts by table."""
    os.makedirs(root, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(int(150_000 * sf), 10)
    n_supp = max(int(10_000 * sf), 5)
    n_part = max(int(200_000 * sf), 10)
    n_ord = max(int(1_500_000 * sf), 10)
    n_li = max(int(6_000_000 * sf), 10)
    n_ev = max(int(1_000_000 * sf), 10)
    n_doc = max(int(50_000 * sf), 50)
    n_emb = max(int(50_000 * sf), 50)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")

    _write(pd.DataFrame({"r_regionkey": np.arange(5, dtype=np.int32), "r_name": _REGIONS}),
           f"{root}/region.parquet", pa.schema([("r_regionkey", i32), ("r_name", s)]))
    _write(pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    }), f"{root}/nation.parquet",
        pa.schema([("n_nationkey", i32), ("n_name", s), ("n_regionkey", i32)]))
    _write(pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
    }), f"{root}/customer.parquet", pa.schema([
        ("c_custkey", i64), ("c_name", s), ("c_nationkey", i32), ("c_acctbal", f64),
        ("c_mktsegment", s)]))
    _write(pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2),
    }), f"{root}/supplier.parquet",
        pa.schema([("s_suppkey", i64), ("s_name", s), ("s_nationkey", i32), ("s_acctbal", f64)]))
    _write(pd.DataFrame({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{_PADJ[a]} {_PNOUN[b]}" for a, b in zip(
            rng.integers(0, len(_PADJ), n_part), rng.integers(0, len(_PNOUN), n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_PTYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + np.arange(n_part) * 0.1, 2),
    }), f"{root}/part.parquet", pa.schema([
        ("p_partkey", i64), ("p_name", s), ("p_brand", s), ("p_type", s), ("p_size", i32),
        ("p_retailprice", f64)]))
    _write(pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": _days(rng, n_ord, dt.date(1992, 1, 1), 3650),
        "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
    }), f"{root}/orders.parquet", pa.schema([
        ("o_orderkey", i64), ("o_custkey", i64), ("o_orderstatus", s), ("o_totalprice", f64),
        ("o_orderdate", ts), ("o_orderpriority", s)]))
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    _write(pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _days(rng, n_li, dt.date(1992, 1, 2), 3650),
    }), f"{root}/lineitem.parquet", pa.schema([
        ("l_orderkey", i64), ("l_partkey", i64), ("l_suppkey", i64), ("l_linenumber", i32),
        ("l_quantity", f64), ("l_extendedprice", f64), ("l_discount", f64), ("l_tax", f64),
        ("l_returnflag", s), ("l_linestatus", s), ("l_shipdate", ts)]))
    ev_ts = np.datetime64("2024-01-01", "us") + np.sort(
        rng.integers(0, 30 * 86_400_000_000, n_ev)).astype("timedelta64[us]")
    _write(pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pd.Series(ev_ts),
        "user_id": rng.integers(0, max(n_cust // 10, 5), n_ev),
        "event_type": rng.choice(_EVENTS, n_ev),
        "value": np.round(rng.uniform(0, 200, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }), f"{root}/events.parquet", pa.schema([
        ("event_id", i64), ("ts", ts), ("user_id", i64), ("event_type", s), ("value", f64),
        ("props", s)]))
    lens = rng.integers(8, 90, n_doc)
    words = rng.integers(0, len(_WORDS), int(lens.sum()))
    texts, pos = [], 0
    for n in lens:
        texts.append(" ".join(_WORDS[w] for w in words[pos:pos + n]))
        pos += n
    _write(pd.DataFrame({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, n_doc),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }), f"{root}/documents.parquet", pa.schema([
        ("doc_id", i64), ("text", s), ("lang", s), ("source", s), ("n_chars", i64)]))
    emb = rng.normal(0, 0.12, (n_emb, 64)).astype(np.float32)
    _write(pd.DataFrame({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": list(emb),
        "label": rng.integers(0, 10, n_emb).astype(np.int32),
    }), f"{root}/embeddings.parquet", pa.schema([
        ("vec_id", i64), ("embedding", pa.list_(pa.float32())), ("label", i32)]))
    return {"customer": n_cust, "supplier": n_supp, "part": n_part, "orders": n_ord,
            "lineitem": n_li, "events": n_ev, "documents": n_doc, "embeddings": n_emb}
