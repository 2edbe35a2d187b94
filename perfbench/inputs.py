"""Seeded inputs of the benchmark workloads: the same seed writes the same files."""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIT_ROWS = 200_000


def fit_table(path, seed):
    """FIT_ROWS rows of known families (the FIXTURES.md section A generators):
    norm(50,10), expon(scale 5), lognorm(s 0.5, scale e), pareto(b 2.5), the
    bimodal 0.4·N(0,1)+0.6·N(5,1), weibull_min(c 2, scale 10) event times
    censored by uniform(5,20) with the event flag, poisson(7) counts and an
    8-value group key. Four row groups, so Spark scans it with four tasks."""
    rng = np.random.default_rng(seed)
    n = FIT_ROWS
    t = 10.0 * rng.weibull(2.0, n)
    censor = rng.uniform(5.0, 20.0, n)
    table = pa.table({
        "id": np.arange(n, dtype=np.int64),
        "x_norm": rng.normal(50.0, 10.0, n),
        "x_expon": rng.exponential(5.0, n),
        "x_lognorm": np.e * np.exp(rng.normal(0.0, 0.5, n)),
        "x_pareto": rng.pareto(2.5, n) + 1.0,
        "x_bimodal": np.where(rng.random(n) < 0.4, rng.normal(0.0, 1.0, n), rng.normal(5.0, 1.0, n)),
        "t_weibull": np.minimum(t, censor),
        "event": t <= censor,
        "k_poisson": rng.poisson(7.0, n).astype(np.int64),
        "grp": rng.integers(0, 8, n, dtype=np.int32),
    })
    pq.write_table(table, path, row_group_size=(n + 3) // 4)


def _ts(ms):
    return pa.array(np.asarray(ms, dtype=np.int64) * 1000, pa.timestamp("us"))


def sf_tables(out, seed):
    """The harness tables (TESTDATA.md) at the sf0.01 row counts: region 5,
    nation 25, customer 1,500, supplier 100, part 2,000, orders 15,000,
    lineitem ~60,000, events 10,000, documents 500, embeddings 500 x 64.
    One single-row-group file per table, like the project's test data."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)

    def pick(values, n):
        return np.asarray(values, dtype=object)[rng.integers(0, len(values), n)]

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))

    day = 86_400_000
    d1995 = 788_918_400_000  # 1995-01-01 UTC
    t2024 = 1_704_067_200_000  # 2024-01-01 UTC

    write("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    write("customer", {"c_custkey": np.arange(1500, dtype=np.int64),
                       "c_name": [f"Customer#{i:09d}" for i in range(1500)],
                       "c_nationkey": rng.integers(0, 25, 1500, dtype=np.int32),
                       "c_acctbal": money(-999.99, 9999.99, 1500),
                       "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], 1500)})
    write("supplier", {"s_suppkey": np.arange(100, dtype=np.int64),
                       "s_name": [f"Supplier#{i:09d}" for i in range(100)],
                       "s_nationkey": rng.integers(0, 25, 100, dtype=np.int32),
                       "s_acctbal": money(-999.99, 9999.99, 100)})
    adjs = ["small", "large", "red", "blue", "old", "new", "hot", "cold", "shiny"]
    nouns = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil"]
    write("part", {"p_partkey": np.arange(2000, dtype=np.int64),
                   "p_name": [f"{a} {b}" for a, b in zip(pick(adjs, 2000), pick(nouns, 2000))],
                   "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, 2000)],
                   "p_type": pick(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"], 2000),
                   "p_size": rng.integers(1, 51, 2000, dtype=np.int32),
                   "p_retailprice": np.round(900.0 + (np.arange(2000) % 1000) / 10.0, 2)})

    n_orders = 15_000
    order_ms = d1995 + rng.integers(0, 2404, n_orders) * day
    write("orders", {"o_orderkey": np.arange(n_orders, dtype=np.int64),
                     "o_custkey": rng.integers(0, 1500, n_orders),
                     "o_orderstatus": pick(["F", "O", "P"], n_orders),
                     "o_totalprice": money(1000.0, 500000.0, n_orders),
                     "o_orderdate": _ts(order_ms),
                     "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_orders)})
    lines = rng.integers(1, 8, n_orders)
    orderkey = np.repeat(np.arange(n_orders, dtype=np.int64), lines)
    n = len(orderkey)
    linenumber = np.arange(n) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    quantity = rng.integers(1, 51, n).astype(np.float64)
    write("lineitem", {"l_orderkey": orderkey,
                       "l_partkey": rng.integers(0, 2000, n),
                       "l_suppkey": rng.integers(0, 100, n),
                       "l_linenumber": linenumber.astype(np.int32),
                       "l_quantity": quantity,
                       "l_extendedprice": np.round(quantity * rng.uniform(900.0, 2100.0, n), 2),
                       "l_discount": rng.integers(0, 11, n) / 100.0,
                       "l_tax": rng.integers(0, 9, n) / 100.0,
                       "l_returnflag": pick(["A", "N", "R"], n),
                       "l_linestatus": pick(["F", "O"], n),
                       "l_shipdate": _ts(order_ms[orderkey] + rng.integers(1, 122, n) * day)})

    n_events = 10_000
    offsets_us = np.sort(rng.integers(0, 30 * day * 1000, n_events))
    write("events", {"event_id": np.arange(n_events, dtype=np.int64),
                     "ts": pa.array(t2024 * 1000 + offsets_us, pa.timestamp("us")),
                     "user_id": rng.integers(0, 150, n_events),
                     "event_type": pick(["click", "view", "purchase", "signup", "error"], n_events),
                     "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_events), 2)),
                     "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]})

    vocab = ("a the key agg row scan slow fast table value part hash merge batch spark line sort "
             "window order data column join small customer query big stream group filter vector").split()
    texts = [" ".join(pick(vocab, k)) for k in rng.integers(8, 101, 500)]
    write("documents", {"doc_id": np.arange(500, dtype=np.int64),
                        "text": texts,
                        "lang": pick(["en", "en", "en", "de", "fr", "es", "zh"], 500),
                        "source": [f"src{i % 20}" for i in range(500)],
                        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    centers = rng.normal(0.0, 1.0, (10, 64))
    labels = rng.integers(0, 10, 500)
    vecs = centers[labels] + 1.5 * rng.normal(0.0, 1.0, (500, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    write("embeddings", {"vec_id": np.arange(500, dtype=np.int64),
                         "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
                         "label": labels.astype(np.int32)})
