"""Seeded input tables and oracle check for the `analytics` workload.

`generate` writes the ten tables the query registries read
(`<dir>/<table>.parquet`, the layout `graft.Tables` expects), with the
schemas of the repo's TPC-H-ish testdata: a star schema, an `events`
stream with nanosecond timestamps, a `documents` corpus with exact and
near duplicates, and clustered 64-d `embeddings`.

`oracle_errors` runs a query's DuckDB oracle SQL over the same files and
compares it with the engine's output the way `tools/parity.py` does:
columns sorted by name, exact values, row order as written.
"""
import importlib.util
import os
from datetime import datetime, timedelta

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
WORDS = ("the a data row column table key value join group sort merge hash scan "
         "filter window stream batch spark query line part order customer fast "
         "slow big small agg dup vector index shard token text").split()
LANGS = ["en", "de", "es", "fr", "zh"]


def generate(seed, out):
    """Write the tables for `seed` under `out`, at the row counts of the
    testdata's sf0.001 (about 6000 lineitem rows, 500 documents)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp, n_part, n_ord = 150, 10, 200, 1500
    n_docs, n_vec, n_evt = 500, 500, 1000

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))

    write("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    write("customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]})
    write("supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2)})
    adj = np.array(["cold", "small", "large", "hot", "red", "blue"])
    noun = np.array(["widget", "bolt", "gear", "valve", "panel"])
    types = np.array(["ECONOMY", "PROMO", "STANDARD", "SMALL", "MEDIUM", "LARGE"])
    write("part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 6, n_part)], " "),
                              noun[rng.integers(0, 5, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + np.arange(n_part) / 10, 2)})
    day0 = np.datetime64("1995-01-01")
    odate = day0 + rng.integers(0, 2404, n_ord).astype("timedelta64[D]")
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    write("orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": pa.array(odate.astype("datetime64[us]"), pa.timestamp("us")),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)]})
    lines = rng.integers(1, 8, n_ord)
    lok = np.repeat(np.arange(n_ord), lines)
    n_li = len(lok)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines])
    qty = rng.integers(1, 51, n_li).astype(float)
    write("lineitem", {
        "l_orderkey": pa.array(lok, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array((odate[lok] + rng.integers(1, 122, n_li).astype("timedelta64[D]"))
                               .astype("datetime64[us]"), pa.timestamp("us"))})
    ts = np.sort(np.datetime64("2024-01-01T00:00:00", "ns")
                 + rng.integers(0, 30 * 86400 * 10**9, n_evt).astype("timedelta64[ns]"))
    write("events", {
        "event_id": pa.array(np.arange(n_evt), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("ns")),
        "user_id": pa.array(rng.integers(0, 15, n_evt), pa.int64()),
        "event_type": np.array(["signup", "click", "error", "purchase", "view"])[rng.integers(0, 5, n_evt)],
        "value": np.round(rng.uniform(0, 200, n_evt), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]})
    texts = []
    for i in range(n_docs):
        r = rng.random()
        if texts and r < 0.05:  # exact duplicate of an earlier document
            texts.append(texts[rng.integers(0, len(texts))])
        elif texts and r < 0.12:  # near duplicate: a few words swapped
            w = texts[rng.integers(0, len(texts))].split()
            for j in rng.integers(0, len(w), max(1, len(w) // 20)):
                w[j] = WORDS[rng.integers(0, len(WORDS))]
            texts.append(" ".join(w))
        else:
            texts.append(" ".join(WORDS[k] for k in rng.integers(0, len(WORDS), rng.integers(8, 90))))
    write("documents", {
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, 5, n_docs)],
        "source": np.char.add("src", rng.integers(0, 20, n_docs).astype(str)),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    centers = rng.normal(0, 1, (10, 64))
    label = rng.integers(0, 10, n_vec)
    emb = centers[label] + rng.normal(0, 0.6, (n_vec, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    write("embeddings", {
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32())})


def _parity():
    """tools/parity.py of the checkout: its `canon` is the exact compare's
    normal form."""
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "tools", "parity.py")
    spec = importlib.util.spec_from_file_location("parity", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class Oracle:
    """DuckDB over the generated tables."""

    def __init__(self, data_dir):
        self.parity = _parity()
        self.con = duckdb.connect()
        for t in TABLES:
            p = os.path.join(data_dir, f"{t}.parquet").replace("'", "''")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    def errors(self, sql, got_dir):
        """Mismatches between the oracle SQL's result and the engine's
        output written under `got_dir`; empty when they agree exactly."""
        import pandas as pd
        canon = self.parity.canon
        try:
            exp = canon(self.con.execute(sql).df())
            got = canon(pd.read_parquet(got_dir))
        except Exception as e:  # noqa: BLE001 - a failed read is a failed check
            return [f"{type(e).__name__}: {e}"]
        if list(exp.columns) != list(got.columns):
            return [f"columns {list(got.columns)} != {list(exp.columns)}"]
        if len(exp) != len(got):
            return [f"rows {len(got)} != {len(exp)}"]
        bad = []
        for c in exp.columns:
            e, g = exp[c], got[c]
            try:
                same = (e.fillna("<null>") == g.fillna("<null>")).all() \
                    if e.dtype == object else ((e == g) | (e.isna() & g.isna())).all()
            except Exception:  # noqa: BLE001 - unhashable cells: compare as lists
                same = list(e) == list(g)
            if not same:
                bad.append(c)
        return [f"value mismatch in {bad}"] if bad else []
