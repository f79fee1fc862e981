"""Deterministic retail + LLM-data tables for the benchmark.

Writes the ten tables of the engine's sf0.1 test data (a TPC-H-like
star schema, an `events` click stream, `documents` text with near
duplicates, and unit-norm `embeddings`). One numpy generator seeded
with DATA_SEED makes every value, with the draws in the order, and the
value lists in the index order, that reproduce that data: pandas and
pyarrow then write files byte for byte equal to it. `write` checks
each file against the SHA-256 prefix in SHA256 and fails on any
difference, so the benchmark never runs on other tables. The workload
seed changes what the benchmark does with the tables, not the tables.

    python3 perfbench/gen_data.py <out_dir>
"""
import hashlib
import os
import sys

import numpy as np
import pandas as pd

DATA_SEED = 42
SF = 0.1
SHA256 = {
    "region": "ce0717013cdeb77e", "nation": "590830f49a4bd515",
    "customer": "d5de58d671fa7dbf", "supplier": "ab1a9344d47e6597",
    "part": "082525b9eb5098fe", "orders": "128b7e8c223a3934",
    "lineitem": "e2be01994986260d", "events": "1d18f4489b6c943b",
    "documents": "d10b0da67e5aceb4", "embeddings": "f5a6fe8c86ce8719"}

# value lists in draw-index order
SEGMENTS = ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"]
PART_ADJ = ["red", "blue", "small", "large", "hot", "cold", "old", "new"]
PART_NOUN = ["anvil", "widget", "gizmo", "bolt", "gear", "plate", "rod", "ring"]
PART_TYPES = ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]
STATUSES = ["O", "F", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
RETURN_FLAGS = ["R", "A", "N"]
LINE_STATUSES = ["O", "F"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
WORDS = ("the a spark query table join group filter window data order customer "
         "part line fast slow big small hash sort merge scan agg stream batch "
         "vector key value row column").split()
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]

ORDERS_T0 = np.datetime64("1995-01-01", "s")
SHIP_T0 = np.datetime64("1995-01-02", "s")
EVENTS_T0 = np.datetime64("2024-01-01", "ns")
DAY_S = 86_400


def pick(rng, values, n):
    return np.asarray(values, dtype=object)[rng.choice(len(values), n)]


def days(t0, offsets):
    return t0 + offsets.astype("timedelta64[D]").astype("timedelta64[s]")


def tables(seed=DATA_SEED, sf=SF):
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_vec, n_users = int(50_000 * sf), int(20_000 * sf), int(15_000 * sf)
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)
    out = {}
    out["region"] = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype="int32"),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype="int32"),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype("int32")})
    out["customer"] = pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": pick(rng, SEGMENTS, n_cust)})
    out["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
        "s_acctbal": money(-999.99, 9999.99, n_supp)})
    adj, noun = pick(rng, PART_ADJ, n_part), pick(rng, PART_NOUN, n_part)
    out["part"] = pd.DataFrame({
        "p_partkey": np.arange(n_part, dtype="int64"),
        "p_name": adj + " " + noun,
        "p_brand": pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": pick(rng, PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype("int32"),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)})
    out["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": pick(rng, STATUSES, n_ord),
        "o_totalprice": money(1000.0, 500_000.0, n_ord),
        "o_orderdate": days(ORDERS_T0, rng.integers(0, 2405, n_ord)),
        "o_orderpriority": pick(rng, PRIORITIES, n_ord)})
    out["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype("int32"),
        "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
        "l_extendedprice": money(900.0, 105_000.0, n_line),
        "l_discount": money(0.0, 0.1, n_line),
        "l_tax": money(0.0, 0.08, n_line),
        "l_returnflag": pick(rng, RETURN_FLAGS, n_line),
        "l_linestatus": pick(rng, LINE_STATUSES, n_line),
        "l_shipdate": days(SHIP_T0, rng.integers(0, 2499, n_line))})
    seconds = np.sort(rng.uniform(0, 30 * DAY_S, n_ev))
    out["events"] = pd.DataFrame({
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": EVENTS_T0 + (seconds * 1e9).astype("int64").astype("timedelta64[ns]"),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": pick(rng, EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = []
    for _ in range(n_doc):
        k = int(rng.integers(10, 100))
        texts.append(" ".join(pick(rng, WORDS, k)))
    # 5% near duplicates: another document's current text plus a marker
    # word; two that copy the same text are exact duplicates
    for i in rng.choice(n_doc, n_doc // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n_doc))] + " dup"
    out["documents"] = pd.DataFrame({
        "doc_id": np.arange(n_doc, dtype="int64"),
        "text": texts,
        "lang": pick(rng, LANGS, n_doc),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64")})
    v = rng.standard_normal((n_vec, 64)).astype("float32")
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    out["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(n_vec, dtype="int64"),
        "embedding": list(v),
        "label": rng.integers(0, 10, n_vec).astype("int32")})
    return out


def write(out_dir):
    os.makedirs(out_dir, exist_ok=True)
    for name, df in tables().items():
        tmp = os.path.join(out_dir, f".{name}.parquet.tmp")
        df.to_parquet(tmp, engine="pyarrow", index=False,
                      coerce_timestamps="us", allow_truncated_timestamps=True)
        with open(tmp, "rb") as f:
            digest = hashlib.sha256(f.read()).hexdigest()[:16]
        if digest != SHA256[name]:
            raise RuntimeError(f"{name}.parquet has SHA-256 {digest}, not {SHA256[name]}: "
                               "this numpy, pandas or pyarrow writes other tables")
        os.replace(tmp, os.path.join(out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    write(sys.argv[1])
