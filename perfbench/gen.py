"""Seeded generator for the benchmark's input tables.

Writes the ten tables the library's loaders read (`graft.Tables`) as one
parquet file each, with the schemas and value shapes of the project's
synthetic star schema plus the LLM-data corpus tables: a small-vocabulary
document corpus with injected exact and near duplicates, 64-dim
embeddings around ten labelled centres, and a month of events. The same
seed always gives the same files.
"""
import duckdb
import numpy as np
import pandas as pd

VOCAB = ("value hash batch sort data big filter dup key agg scan slow table "
         "part a merge window order column join vector row the query stream "
         "fast spark line small customer group").split()
LANGS = ["en", "en", "en", "en", "en", "en", "es", "zh", "de", "fr"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
DIM = 64


def _documents(rng, n):
    texts = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.02:  # exact re-post of an earlier doc
            texts.append(texts[rng.integers(0, i)])
        elif i > 10 and r < 0.08:  # near duplicate: a few words edited
            words = texts[rng.integers(0, i)].split()
            for _ in range(max(1, len(words) // 25)):
                words[rng.integers(0, len(words))] = VOCAB[rng.integers(0, len(VOCAB))]
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(rng.choice(VOCAB, rng.integers(10, 100))))
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[j] for j in rng.integers(0, len(LANGS), n)],
        "source": [f"src{j}" for j in rng.integers(0, 20, n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng, n):
    centres = rng.normal(0.0, 0.12, (10, DIM))
    labels = rng.integers(0, 10, n)
    vecs = centres[labels] + rng.normal(0.0, 0.09, (n, DIM))
    near = rng.random(n) < 0.03  # near-duplicate vectors (cos > 0.9)
    src = rng.integers(0, n, n)
    vecs[near] = vecs[src[near]] + rng.normal(0.0, 0.01, (int(near.sum()), DIM))
    labels[near] = labels[src[near]]
    return pd.DataFrame({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": [v.astype(np.float32).tolist() for v in vecs],
        "label": labels.astype(np.int32),
    })


def _events(rng, n, users):
    start = np.datetime64("2024-01-01T00:00:00", "us")
    gaps = rng.exponential(30 * 86400e6 / n, n).astype(np.int64)
    return pd.DataFrame({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": start + np.cumsum(gaps).astype("timedelta64[us]"),
        "user_id": rng.integers(0, users, n).astype(np.int64),
        "event_type": [EVENT_TYPES[j] for j in rng.integers(0, 5, n)],
        "value": np.round(rng.uniform(0.0, 560.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def _days(rng, n, lo, hi):
    base = np.datetime64(lo, "D")
    span = (np.datetime64(hi, "D") - base).astype(int)
    return (base + rng.integers(0, span, n).astype("timedelta64[D]")).astype("datetime64[us]")


def _tpch(rng, orders):
    cust, supp, part, lines = orders // 10, max(10, orders // 150), orders // 7, orders * 4
    tables = {
        "region": pd.DataFrame({"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS}),
        "nation": pd.DataFrame({
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32)}),
        "customer": pd.DataFrame({
            "c_custkey": np.arange(cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(cust)],
            "c_nationkey": rng.integers(0, 25, cust).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999, 9999, cust), 2),
            "c_mktsegment": [SEGMENTS[j] for j in rng.integers(0, 5, cust)]}),
        "supplier": pd.DataFrame({
            "s_suppkey": np.arange(supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(supp)],
            "s_nationkey": rng.integers(0, 25, supp).astype(np.int32),
            "s_acctbal": np.round(rng.uniform(-999, 9999, supp), 2)}),
        "part": pd.DataFrame({
            "p_partkey": np.arange(part, dtype=np.int64),
            "p_name": [f"part {i % 97}" for i in range(part)],
            "p_brand": [f"Brand#{j}" for j in rng.integers(1, 26, part)],
            "p_type": [["ECONOMY", "STANDARD", "PROMO", "LARGE"][j] for j in rng.integers(0, 4, part)],
            "p_size": rng.integers(1, 51, part).astype(np.int32),
            "p_retailprice": np.round(900 + rng.uniform(0, 1100, part), 2)}),
        "orders": pd.DataFrame({
            "o_orderkey": np.arange(orders, dtype=np.int64),
            "o_custkey": rng.integers(0, cust, orders).astype(np.int64),
            "o_orderstatus": [["F", "O", "P"][j] for j in rng.integers(0, 3, orders)],
            "o_totalprice": np.round(rng.uniform(1000, 500000, orders), 2),
            "o_orderdate": _days(rng, orders, "1995-01-01", "2001-08-02"),
            "o_orderpriority": [["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"][j]
                                for j in rng.integers(0, 5, orders)]}),
        "lineitem": pd.DataFrame({
            "l_orderkey": rng.integers(0, orders, lines).astype(np.int64),
            "l_partkey": rng.integers(0, part, lines).astype(np.int64),
            "l_suppkey": rng.integers(0, supp, lines).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, lines).astype(np.int32),
            "l_quantity": rng.integers(1, 51, lines).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900, 100000, lines), 2),
            "l_discount": rng.integers(0, 11, lines) / 100.0,
            "l_tax": rng.integers(0, 9, lines) / 100.0,
            "l_returnflag": [["A", "N", "R"][j] for j in rng.integers(0, 3, lines)],
            "l_linestatus": [["F", "O"][j] for j in rng.integers(0, 2, lines)],
            "l_shipdate": _days(rng, lines, "1995-01-02", "2001-11-05")}),
    }
    return tables


def write_corpus(out_dir, seed, docs, vecs, events, orders):
    """Write all ten tables under `out_dir` from `seed`."""
    rng = np.random.default_rng(seed)
    tables = {"documents": _documents(rng, docs), "embeddings": _embeddings(rng, vecs),
              "events": _events(rng, events, max(50, events // 60))}
    tables.update(_tpch(rng, orders))
    con = duckdb.connect()
    for name, df in tables.items():
        con.register("t", df)
        select = "SELECT * REPLACE (embedding::FLOAT[] AS embedding) FROM t" \
            if name == "embeddings" else "SELECT * FROM t"
        con.execute(f"COPY ({select}) TO '{out_dir}/{name}.parquet' (FORMAT PARQUET)")
        con.unregister("t")
    con.close()
