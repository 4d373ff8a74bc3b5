"""Deterministic synthetic input tables for the graft benchmark.

Writes the ten tables graft's gates read (a TPC-H-like star schema plus
`events`, `documents` and `embeddings`), one parquet file each, with the
column names and types the engine expects. Every value is drawn from
`random.Random(seed)`, so one seed always yields byte-identical inputs.

Sizes follow the smallest test tier (150 customers, 6,000 line items):
per-request cost there is dominated by the engine's fixed per-job work,
which is what the interactive workloads measure, and a full pass of the
batch pipeline fits one run.
"""

import csv
import datetime as dt
import math
import os
import random

import duckdb

N_CUSTOMER = 150
N_SUPPLIER = 10
N_PART = 200
N_ORDERS = 1500
N_LINEITEM = 6000
N_EVENTS = 1000
N_DOCUMENTS = 500
N_EMBEDDINGS = 500
EMBED_DIM = 64
N_LABELS = 10

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small", "green"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en"] * 2 + ["de", "es", "fr", "zh"]
WORDS = ("a agg batch big column customer data dup fast filter group hash join "
         "key line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()


def _ts(d):
    return d.strftime("%Y-%m-%d %H:%M:%S.%f")


def _money(r, lo, hi):
    return round(r.uniform(lo, hi), 2)


def _tables(r):
    day0 = dt.datetime(1995, 1, 1)
    t = {}
    t["region"] = [(i, n) for i, n in enumerate(REGIONS)]
    t["nation"] = [(i, f"NATION_{i}", i % 5) for i in range(25)]
    # a few deeply negative balances keep the `le(acctbal, -800)` roots
    # of the recurse/interface templates non-empty
    t["customer"] = [(i, f"Customer#{i:09d}", r.randrange(25),
                      _money(r, -999.99, -800.5) if i % 37 == 5
                      else _money(r, -799.99, 9999.99),
                      r.choice(SEGMENTS)) for i in range(N_CUSTOMER)]
    t["supplier"] = [(i, f"Supplier#{i:09d}", r.randrange(25),
                      _money(r, 500, 6100)) for i in range(N_SUPPLIER)]
    t["part"] = [(i, f"{r.choice(PART_ADJ)} {r.choice(PART_NOUN)}",
                  f"Brand#{r.randint(1, 25)}", r.choice(PART_TYPES),
                  r.randint(1, 50), round(900 + (i % 200) * 0.1, 1))
                 for i in range(N_PART)]
    t["orders"] = [(i, r.randrange(N_CUSTOMER), r.choice("FOP"),
                    _money(r, 1000, 500000),
                    _ts(day0 + dt.timedelta(days=r.randrange(2400))),
                    r.choice(PRIORITIES)) for i in range(N_ORDERS)]
    t["lineitem"] = [(r.randrange(N_ORDERS), r.randrange(N_PART),
                      r.randrange(N_SUPPLIER), r.randint(1, 7),
                      float(r.randint(1, 50)), _money(r, 900, 105000),
                      r.randint(0, 10) / 100, r.randint(0, 8) / 100,
                      r.choice("ANR"), r.choice("FO"),
                      _ts(day0 + dt.timedelta(days=1 + r.randrange(2500))))
                     for _ in range(N_LINEITEM)]
    ev0 = dt.datetime(2024, 1, 1)
    t["events"] = [(i, _ts(ev0 + dt.timedelta(seconds=r.uniform(0, 30 * 86400))),
                    r.randrange(15), r.choice(EVENT_TYPES),
                    _money(r, 0.01, 330), f'{{"k": {r.randrange(100)}}}')
                   for i in range(N_EVENTS)]
    docs = []
    for i in range(N_DOCUMENTS):
        if i >= 20 and r.random() < 0.08:
            # near-duplicate of an earlier document: a few words swapped
            words = docs[r.randrange(len(docs))][1].split(" ")
            for _ in range(r.randint(1, 3)):
                words[r.randrange(len(words))] = r.choice(WORDS)
        else:
            words = [r.choice(WORDS) for _ in range(r.randint(8, 100))]
        text = " ".join(words)
        docs.append((i, text, r.choice(LANGS), f"src{i % 20}", len(text)))
    t["documents"] = docs
    centers = [[r.gauss(0, 1) for _ in range(EMBED_DIM)] for _ in range(N_LABELS)]
    embs = []
    for i in range(N_EMBEDDINGS):
        label = r.randrange(N_LABELS)
        v = [c + r.gauss(0, 0.6) for c in centers[label]]
        norm = math.sqrt(sum(x * x for x in v))
        embs.append((i, "[" + ",".join(f"{x / norm:.7f}" for x in v) + "]", label))
    t["embeddings"] = embs
    return t


# parquet column types, in table order: the engine reads these exact types
SCHEMAS = {
    "region": "r_regionkey INTEGER, r_name VARCHAR",
    "nation": "n_nationkey INTEGER, n_name VARCHAR, n_regionkey INTEGER",
    "customer": "c_custkey BIGINT, c_name VARCHAR, c_nationkey INTEGER, "
                "c_acctbal DOUBLE, c_mktsegment VARCHAR",
    "supplier": "s_suppkey BIGINT, s_name VARCHAR, s_nationkey INTEGER, "
                "s_acctbal DOUBLE",
    "part": "p_partkey BIGINT, p_name VARCHAR, p_brand VARCHAR, p_type VARCHAR, "
            "p_size INTEGER, p_retailprice DOUBLE",
    "orders": "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus VARCHAR, "
              "o_totalprice DOUBLE, o_orderdate TIMESTAMP, o_orderpriority VARCHAR",
    "lineitem": "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, "
                "l_linenumber INTEGER, l_quantity DOUBLE, l_extendedprice DOUBLE, "
                "l_discount DOUBLE, l_tax DOUBLE, l_returnflag VARCHAR, "
                "l_linestatus VARCHAR, l_shipdate TIMESTAMP",
    "events": "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type VARCHAR, "
              "value DOUBLE, props VARCHAR",
    "documents": "doc_id BIGINT, text VARCHAR, lang VARCHAR, source VARCHAR, "
                 "n_chars BIGINT",
    "embeddings": "vec_id BIGINT, embedding FLOAT[], label INTEGER",
}


def generate(out_dir, seed):
    """Write every table under `out_dir` (skipped when already complete)."""
    stamp = os.path.join(out_dir, "_COMPLETE")
    if os.path.exists(stamp):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    tables = _tables(random.Random(seed))
    con = duckdb.connect()
    try:
        for name, cols in SCHEMAS.items():
            csv_path = os.path.join(out_dir, f"{name}.csv")
            with open(csv_path, "w", newline="") as f:
                csv.writer(f).writerows(tables[name])
            spec = [c.strip().split(" ", 1) for c in cols.split(",")]
            names = ", ".join(f"'{n}': 'VARCHAR'" for n, _ in spec)
            select = ", ".join(f"CAST({n} AS {ty}) AS {n}" for n, ty in spec)
            con.execute(
                f"COPY (SELECT {select} FROM read_csv('{csv_path}', header=false, "
                f"columns={{{names}}}, quote='\"', escape='\"')) "
                f"TO '{os.path.join(out_dir, name)}.parquet' (FORMAT PARQUET)")
            os.remove(csv_path)
    finally:
        con.close()
    open(stamp, "w").close()
    return out_dir
