"""Seeded input generator for the benchmark.

Every input the program sees comes from here and is a pure function of
the workload seed: the same seed writes byte-identical tables. The tables
have the schema, key domains and value distributions of the sf0.1
fixtures the program's declared queries are written against (600k
lineitem rows), so every declared query and its DuckDB oracle run
unchanged on them. The corpus is smaller than the fixtures' (2000
documents and 1000 embeddings instead of 5000 and 2000), which keeps its
oracles affordable in every run.

Besides the parquet tables, `etl_days` writes the raw per-day CSV zone the
nightly pipeline reads: one POS sales file and one inventory snapshot per
day, both derived from lineitem/part columns generated the same way.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]
LANGS = ["en", "fr", "zh", "de", "es"]
LANG_P = [0.41, 0.15, 0.15, 0.145, 0.145]
ADJ = ["small", "new", "blue", "old", "red", "large", "hot", "cold"]
NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
P_TYPES = ["LARGE", "ECONOMY", "STANDARD", "PROMO", "SMALL", "MEDIUM"]
SEGMENTS = ["HOUSEHOLD", "MACHINERY", "AUTOMOBILE", "BUILDING", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

SHIP_FROM = dt.date(1995, 1, 2)
SHIP_DAYS = 2499  # through 2001-11-04
ORDER_FROM = dt.date(1995, 1, 1)
ORDER_DAYS = 2404  # through 2001-08-01
ASSORTMENT = 1000  # skus the store of the nightly ETL stocks

# Table sets per workload: only what the workload's program calls read.
RELATIONAL = ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events"]
CORPUS = ["documents", "embeddings"]


def _days(base, offsets):
    epoch = np.datetime64(base.isoformat(), "D")
    return (epoch + offsets.astype("timedelta64[D]")).astype("datetime64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def relational(rng, out):
    n_cust, n_supp, n_part = 15000, 1000, 20000
    n_ord, n_li, n_ev = 150000, 600000, 100000
    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    _write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part, dtype=np.int64)
    _write(out, "part", part_columns(rng, pk))
    _write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(ORDER_FROM, rng.integers(0, ORDER_DAYS + 1, n_ord)),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    _write(out, "lineitem", lineitem_columns(rng, n_li, n_ord, n_part, n_supp))
    ts = np.sort(rng.uniform(0, 30 * 86400, n_ev))
    _write(out, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": (np.datetime64("2024-01-01T00:00:00", "us")
               + (ts * 1e6).astype("timedelta64[us]")),
        "user_id": rng.integers(0, 1500, n_ev, dtype=np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})


def part_columns(rng, pk):
    n = len(pk)
    names = [f"{ADJ[a]} {NOUN[b]}" for a, b in
             zip(rng.integers(0, 8, n), rng.integers(0, 8, n))]
    return {
        "p_partkey": pk,
        "p_name": names,
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": np.array(P_TYPES)[rng.integers(0, 6, n)],
        "p_size": rng.integers(1, 51, n, dtype=np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1)}


def lineitem_columns(rng, n, n_ord, n_part, n_supp):
    return {
        "l_orderkey": rng.integers(0, n_ord, n, dtype=np.int64),
        "l_partkey": rng.integers(0, n_part, n, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n),
        "l_discount": np.round(rng.uniform(0, 0.1, n), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, n), 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n)],
        "l_shipdate": _days(SHIP_FROM, rng.integers(0, SHIP_DAYS + 1, n))}


def corpus(rng, out):
    """2000 documents with ~5% planted near-dup clones (one token appended
    or dropped) and a few exact copies, plus 1000 label-clustered 64-d unit
    vectors."""
    n_docs, n_vecs, dim = 2000, 1000, 64
    texts = []
    for i in range(n_docs):
        r = rng.random()
        if i > 100 and r < 0.05:
            base = texts[int(rng.integers(0, i))].split(" ")
            toks = base + ["dup"] if rng.random() < 0.5 else base[:-1]
        elif i > 100 and r < 0.052:
            toks = texts[int(rng.integers(0, i))].split(" ")
        else:
            toks = list(np.array(VOCAB)[rng.integers(0, len(VOCAB), rng.integers(10, 101))])
        texts.append(" ".join(toks))
    _write(out, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    labels = rng.integers(0, 10, n_vecs, dtype=np.int32)
    centers = rng.normal(0, 0.07, (10, dim))
    v = rng.normal(0, 1, (n_vecs, dim)) / np.sqrt(dim) + centers[labels]
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": labels})


def tables(seed, out, names):
    """Write the parquet tables in `names` (a subset of RELATIONAL+CORPUS)."""
    os.makedirs(out, exist_ok=True)
    if any(n in RELATIONAL for n in names):
        relational(np.random.default_rng([seed, 1]), out)
    if any(n in CORPUS for n in names):
        corpus(np.random.default_rng([seed, 2]), out)


def etl_days(seed, out, n_days):
    """Raw zone for `n_days` consecutive seed-chosen days plus the
    opening snapshot of the first day.

    pos_sales/date=D/sales.csv   sku,quantity   (~230 rows: the lineitem
        rows shipped on D, part keys folded onto the store's assortment,
        sku spelled with stray case/whitespace, ~1% unparsable quantities)
    inventory/date=D/snapshot.csv  sku,stock_on_hand,product_name,category
        (end-of-day stock of the store's assortment: opening - sold +
        restock, with ~3% of counts off by shrinkage)

    Returns the days in order.
    """
    rng = np.random.default_rng([seed, 3])
    li = lineitem_columns(np.random.default_rng([seed, 1, 7]), 600000, 150000, 20000, 1000)
    start = int(rng.integers(30, SHIP_DAYS - n_days - 30))
    first = SHIP_FROM + dt.timedelta(days=start)
    days = [first + dt.timedelta(days=i) for i in range(n_days)]
    parts = part_columns(np.random.default_rng([seed, 4]), np.arange(20000, dtype=np.int64))
    shipped = li["l_shipdate"].astype("datetime64[D]")
    skus = rng.choice(20000, ASSORTMENT, replace=False)
    stock = rng.integers(50, 400, 20000)

    def sku_text(k):
        s = f"SKU-{k:06d}"
        r = rng.random()
        return s.lower() if r < 0.05 else (f" {s} " if r < 0.1 else s)

    def snapshot(day):
        d = os.path.join(out, "inventory", f"date={day}")
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, "snapshot.csv"), "w") as f:
            f.write("sku,stock_on_hand,product_name,category\n")
            for k in skus:
                name = parts["p_name"][k]
                if rng.random() < 0.05:
                    name = f"  {name} "
                f.write(f"{sku_text(k)},{stock[k]},{name},{parts['p_type'][k]}\n")

    snapshot(first - dt.timedelta(days=1))
    for day in days:
        rows = np.nonzero(shipped == np.datetime64(day.isoformat(), "D"))[0]
        d = os.path.join(out, "pos_sales", f"date={day}")
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, "sales.csv"), "w") as f:
            f.write("sku,quantity\n")
            for r in rows:
                k = int(skus[li["l_partkey"][r] % ASSORTMENT])
                q = int(li["l_quantity"][r])
                if rng.random() < 0.01:
                    f.write(f"{sku_text(k)},n/a\n")
                else:
                    f.write(f"{sku_text(k)},{q}\n")
                    stock[k] -= q
        low = stock[skus] < 60
        stock[skus[low]] += 300
        shrink = skus[rng.random(ASSORTMENT) < 0.03]
        stock[shrink] -= rng.integers(1, 5, len(shrink))
        snapshot(day)
    return days
