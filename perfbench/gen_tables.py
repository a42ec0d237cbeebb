"""bi_mix inputs: the ten fixture tables, made from a seed.

    python3 perfbench/gen_tables.py <out_dir> <seed> <sf>

The benchmark's set-up step (`BiMix.setup`) runs this: a benchmark run
reads only its own checkout, and the fixture snapshots of TESTDATA.md
are not part of the repository. Column names, types and value domains
follow those snapshots, which the declared queries and their DuckDB
oracle SQL were written for (FIXTURES.md §A); row counts follow TPC-H's
ratios at scale factor `sf` (sf 0.1 = 600k lineitems). One parquet file
per table.
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
COLORS = ["blue", "cold", "hot", "red", "small", "new", "old", "large"]
THINGS = ["ring", "plate", "gear", "rod", "bolt", "anvil", "widget", "gizmo"]


def star_schema(out_dir, seed, sf):
    rng = np.random.default_rng(seed)

    def n(base):
        return max(5, int(base * sf))

    n_cust, n_supp, n_part, n_ord = n(150000), n(10000), n(200000), n(1500000)
    n_line, n_ev, n_doc, n_emb = 4 * n_ord, n(1000000), n(50000), n(20000)

    def pick(values, size):
        return np.asarray(values, dtype=object)[rng.integers(0, len(values), size)]

    def money(lo, hi, size):
        return np.round(rng.uniform(lo, hi, size), 2)

    def days(start, span, size):
        return (np.datetime64(start, "D")
                + rng.integers(0, span, size).astype("timedelta64[D]")
                ).astype("datetime64[us]")

    def keys(size):
        return np.arange(size, dtype=np.int64)

    tables = {
        "region": {"r_regionkey": np.arange(5, dtype=np.int32),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]},
        "nation": {"n_nationkey": np.arange(25, dtype=np.int32),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": (np.arange(25) % 5).astype(np.int32)},
        "customer": {"c_custkey": keys(n_cust),
                     "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                     "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
                     "c_acctbal": money(-999.99, 9999.99, n_cust),
                     "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                           "HOUSEHOLD", "MACHINERY"], n_cust)},
        "supplier": {"s_suppkey": keys(n_supp),
                     "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                     "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
                     "s_acctbal": money(-999.99, 9999.99, n_supp)},
        "part": {"p_partkey": keys(n_part),
                 "p_name": [f"{c} {t}" for c, t in
                            zip(pick(COLORS, n_part), pick(THINGS, n_part))],
                 "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                 "p_type": pick(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                                 "STANDARD"], n_part),
                 "p_size": rng.integers(1, 51, n_part).astype(np.int32),
                 "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0},
        "orders": {"o_orderkey": keys(n_ord),
                   "o_custkey": rng.integers(0, n_cust, n_ord),
                   "o_orderstatus": pick(["F", "O", "P"], n_ord),
                   "o_totalprice": money(1000.0, 500000.0, n_ord),
                   "o_orderdate": days("1995-01-01", 2405, n_ord),
                   "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                            "4-NOT SPECIFIED", "5-LOW"], n_ord)},
        "lineitem": {"l_orderkey": rng.integers(0, n_ord, n_line),
                     "l_partkey": rng.integers(0, n_part, n_line),
                     "l_suppkey": rng.integers(0, n_supp, n_line),
                     "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
                     "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
                     "l_extendedprice": money(900.0, 105000.0, n_line),
                     "l_discount": rng.integers(0, 11, n_line) / 100.0,
                     "l_tax": rng.integers(0, 9, n_line) / 100.0,
                     "l_returnflag": pick(["A", "N", "R"], n_line),
                     "l_linestatus": pick(["F", "O"], n_line),
                     "l_shipdate": days("1995-01-02", 2499, n_line)},
        "events": {"event_id": keys(n_ev),
                   "ts": np.datetime64("2024-01-01", "us")
                   + rng.integers(0, 30 * 86400 * 10**6, n_ev).astype("timedelta64[us]"),
                   "user_id": rng.integers(0, max(1, n_cust // 10), n_ev),
                   "event_type": pick(["click", "error", "purchase", "signup",
                                       "view"], n_ev),
                   "value": np.round(rng.random(n_ev) * rng.random(n_ev) * 560.0, 2),
                   "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]},
    }
    texts = [" ".join(pick(WORDS, int(k))) for k in rng.integers(10, 101, n_doc)]
    tables["documents"] = {
        "doc_id": keys(n_doc), "text": texts,
        "lang": pick(["en", "en", "en", "de", "es", "fr", "zh"], n_doc),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}
    labels = rng.integers(0, 10, n_emb)
    centres = rng.uniform(-1, 1, (10, 64))
    emb = (centres[labels] + rng.uniform(-0.15, 0.15, (n_emb, 64))).astype(np.float32)
    tables["embeddings"] = {
        "vec_id": keys(n_emb),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": labels.astype(np.int32)}

    os.makedirs(out_dir, exist_ok=True)
    for name, cols in tables.items():
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    star_schema(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]))
