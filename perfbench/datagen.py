"""Seeded input generation for the benchmark workloads.

The tables have the shapes and value ranges of the repository's sf-scaled
test tables (uniform TPC-H-like orders, customers, lineitems, parts and
suppliers, plus documents, embeddings and events), generated from a seed so
that a run needs nothing outside its checkout. The same seed gives the same
files.
"""
import csv
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["large", "hot", "blue", "old", "cold", "small", "red", "new"]
NOUN = ["ring", "bolt", "plate", "gear", "widget", "nut", "spring", "valve"]
TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
LANGS = ["en", "zh", "de", "fr", "es"]
EVENTS = ["click", "error", "purchase", "signup", "view"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

# rows per scale factor (documents/embeddings do not scale below sf0.01)
SIZES = {
    0.1: dict(customer=15000, orders=150000, lineitem=600000, part=20000,
              supplier=1000, documents=5000, embeddings=2000, events=100000),
    0.01: dict(customer=1500, orders=15000, lineitem=60000, part=2000,
               supplier=100, documents=500, embeddings=500, events=10000),
    0.001: dict(customer=150, orders=1500, lineitem=6000, part=200,
                supplier=10, documents=500, embeddings=500, events=1000),
}


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, end, n):
    span = (end - start).days
    d = rng.integers(0, span + 1, n)
    return np.datetime64(start) + d.astype("timedelta64[D]")


def orders_customers(rng, sizes):
    nc, no = sizes["customer"], sizes["orders"]
    customer = {
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": rng.choice(SEGMENTS, nc),
    }
    orders = {
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), no),
        "o_orderpriority": rng.choice(PRIORITIES, no),
    }
    return customer, orders


def _text(rng, n_words):
    return " ".join(rng.choice(WORDS, n_words))


def documents(rng, n):
    texts = [_text(rng, int(k)) for k in rng.integers(10, 101, n)]
    # 5% near-duplicates: another document's text plus one token
    for i in np.flatnonzero(rng.random(n) < 0.05):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def embeddings(rng, n):
    v = rng.normal(size=(n, 64))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v.astype(np.float32)), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })


def events(rng, n, users):
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, n))
    return {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": start + offs.astype("timedelta64[us]"),
        "user_id": rng.integers(0, users, n).astype(np.int64),
        "event_type": rng.choice(EVENTS, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    }


def _write(out, name, cols):
    table = cols if isinstance(cols, pa.Table) else pa.table(cols)
    pq.write_table(table, os.path.join(out, f"{name}.parquet"))


def pipeline_tables(seed, out, sf):
    """The ten tables the declared queries read, as parquet files in `out`."""
    rng = np.random.default_rng(seed)
    s = SIZES[sf]
    os.makedirs(out, exist_ok=True)
    customer, orders = orders_customers(rng, s)
    orders["o_orderdate"] = orders["o_orderdate"].astype("datetime64[us]")
    _write(out, "customer", customer)
    _write(out, "orders", orders)
    nl = s["lineitem"]
    _write(out, "lineitem", {
        "l_orderkey": rng.integers(0, s["orders"], nl).astype(np.int64),
        "l_partkey": rng.integers(0, s["part"], nl).astype(np.int64),
        "l_suppkey": rng.integers(0, s["supplier"], nl).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": np.round(rng.integers(0, 11, nl) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) / 100.0, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": _days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), nl)
        .astype("datetime64[us]"),
    })
    npart = s["part"]
    _write(out, "part", {
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": [f"{rng.choice(ADJ)} {rng.choice(NOUN)}" for _ in range(npart)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": rng.choice(TYPES, npart),
        "p_size": rng.integers(1, 51, npart).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 2),
    })
    ns = s["supplier"]
    _write(out, "supplier", {
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })
    _write(out, "nation", {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })
    _write(out, "region", {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS})
    _write(out, "documents", documents(rng, s["documents"]))
    _write(out, "embeddings", embeddings(rng, s["embeddings"]))
    _write(out, "events", events(rng, s["events"], max(15, s["customer"] // 10)))


# the search_serve datasets: file -> attribute columns (after the id)
SERVE_FILES = {
    "price.csv": ["o_totalprice"],
    "date.csv": ["o_orderdate"],
    "priority.csv": ["o_orderpriority"],
    "location.csv": ["lon", "lat"],
    "name.csv": ["c_name"],
}


def serve_csvs(seed, out, sf):
    """orders joined with customer, one CSV per searchable attribute (the
    shape the service's mount requests name datasets in): price
    (numerical), order date (temporal), priority (categorical, '-' tokens),
    lon/lat derived from the customer as in q_spatial_knn (spatial) and the
    customer name (textual). Every file lists the same ids in the same
    order."""
    rng = np.random.default_rng(seed)
    customer, orders = orders_customers(rng, SIZES[sf])
    key = orders["o_custkey"]
    bal = customer["c_acctbal"][key]
    cols = {
        "o_totalprice": [f"{x:.2f}" for x in orders["o_totalprice"]],
        "o_orderdate": [str(x) for x in orders["o_orderdate"]],
        "o_orderpriority": list(orders["o_orderpriority"]),
        "lon": [f"{x:.2f}" for x in np.mod(bal, 360.0) - 180.0],
        "lat": [f"{x:.1f}" for x in (key * 13 % 180).astype(np.float64) - 90.0],
        "c_name": [customer["c_name"][k] for k in key],
    }
    ids = [str(i) for i in orders["o_orderkey"]]
    os.makedirs(out, exist_ok=True)
    for name, fields in SERVE_FILES.items():
        with open(os.path.join(out, name), "w", newline="") as f:
            w = csv.writer(f, lineterminator="\n")
            w.writerow(["id"] + fields)
            w.writerows(zip(ids, *(cols[c] for c in fields)))
