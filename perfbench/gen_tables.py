"""Deterministic generator for the analytics workload's ten tables.

The analytics entries read a TPC-H-like star schema plus `events`,
`documents` and `embeddings` (see `graft.Tables`). This writes those
tables, one parquet file per table, from a fixed seed, so the benchmark
needs no data from outside its own tree. Every parameter (row counts,
key ranges, vocabulary, text lengths, duplicate share, value ranges,
timestamp type) comes from a profile of the sf0.1 tables `graft.Bench`
reads by default; `design.json` ("analytics_tables") records that
profile beside this generator's, both printed by `table_profile.py`.
The benchmark's `--seed` only permutes submission order; the data never
changes.

Usage: python3 gen_tables.py <out_dir>
"""
import os
import sys

import duckdb
import numpy as np
import pandas as pd

DATA_SEED = 20240101
ROWS = {"customer": 15000, "supplier": 1000, "part": 20000, "orders": 150000,
        "lineitem": 600000, "events": 100000, "documents": 5000,
        "embeddings": 2000}
# Measured: the sf0.1 documents use exactly these 30 words, plus "dup".
WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, end, n):
    span = (pd.Timestamp(end) - pd.Timestamp(start)).days
    return (pd.Timestamp(start)
            + pd.to_timedelta(rng.integers(0, span + 1, n), unit="D")).astype("datetime64[us]")


def tables(rng):
    """(name, DataFrame) for every table, in dependency order."""
    out = {}
    out["region"] = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)})
    n = ROWS["customer"]
    out["customer"] = pd.DataFrame({
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n)})
    n = ROWS["supplier"]
    out["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(n, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n)})
    n = ROWS["part"]
    adj = np.array(["blue", "old", "small", "new", "large", "hot", "cold", "red"])
    noun = np.array(["widget", "gizmo", "bolt", "plate", "rod", "anvil", "ring", "gear"])
    out["part"] = pd.DataFrame({
        "p_partkey": np.arange(n, dtype=np.int64),
        "p_name": np.char.add(np.char.add(rng.choice(adj, n), " "), rng.choice(noun, n)),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n).astype(str)),
        "p_type": rng.choice(["LARGE", "ECONOMY", "STANDARD", "PROMO", "SMALL", "MEDIUM"], n),
        "p_size": rng.integers(1, 51, n).astype(np.int32),
        "p_retailprice": np.round(900 + rng.integers(0, 1000, n) / 10.0, 1)})
    n = ROWS["orders"]
    out["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, ROWS["customer"], n).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n),
        "o_totalprice": _money(rng, 1000, 500000, n),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n)})
    n = ROWS["lineitem"]
    qty = rng.integers(1, 51, n).astype(np.float64)
    # Measured: l_extendedprice is uniform on [900, 105000] and unrelated
    # to l_quantity or p_retailprice (correlations under 0.002).
    out["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, ROWS["orders"], n).astype(np.int64),
        "l_partkey": rng.integers(0, ROWS["part"], n).astype(np.int64),
        "l_suppkey": rng.integers(0, ROWS["supplier"], n).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": _money(rng, 900, 105000, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n),
        "l_linestatus": rng.choice(["F", "O"], n),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n)})
    n = ROWS["events"]
    gaps = rng.exponential(25.9, n)
    out["events"] = pd.DataFrame({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": (pd.Timestamp("2024-01-01")
               + pd.to_timedelta(np.round(np.cumsum(gaps) * 1e6), unit="us")).astype("datetime64[us]"),
        "user_id": rng.integers(0, 1500, n).astype(np.int64),
        "event_type": rng.choice(["signup", "click", "error", "view", "purchase"], n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})
    out["documents"] = _documents(rng, ROWS["documents"])
    n = ROWS["embeddings"]
    # Measured: unit vectors with no cluster structure (mean cosine of
    # same-label pairs 0.001), labels uniform and unrelated to them.
    labels = rng.integers(0, 10, n)
    vecs = rng.normal(0, 1, (n, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": [v.astype(np.float32) for v in vecs],
        "label": labels.astype(np.int32)})
    return out


def _documents(rng, n):
    """Texts of 10-99 words drawn uniformly from WORDS; then 5% of the
    documents, chosen at random, are replaced by a random document's
    current text plus the word 'dup' (measured: 250 of 5000, 8 exact
    duplicate rows where two replacements copied the same text).
    """
    texts = [" ".join(rng.choice(WORDS, k)) for k in rng.integers(10, 100, n)]
    for i in rng.choice(n, n // 20, replace=False):
        texts[i] = texts[rng.integers(0, n)] + " dup"
    langs = rng.choice(["en", "zh", "de", "es", "fr"], n,
                       p=[0.41, 0.1475, 0.1475, 0.1475, 0.1475])
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})


def write(out_dir):
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    for name, df in tables(np.random.default_rng(DATA_SEED)).items():
        con.register("t", df)
        select = ("SELECT vec_id, embedding::FLOAT[] AS embedding, label FROM t"
                  if name == "embeddings" else "SELECT * FROM t")
        path = os.path.join(out_dir, f"{name}.parquet")
        con.execute(f"COPY ({select}) TO '{path}' (FORMAT PARQUET)")
        con.unregister("t")


if __name__ == "__main__":
    write(sys.argv[1])
