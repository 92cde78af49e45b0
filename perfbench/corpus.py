"""Seeded corpus for registry_headline, in the test corpus's schema.

Writes region, nation, customer, supplier, orders, lineitem and events as
one parquet file each (timestamps without zone, as the test corpus stores
them), at about half the sf0.01 size. The same seed gives the same files.
"""
import datetime
import math
import os
import random

import duckdb
import pandas as pd

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
FLAGS = [("A", "F"), ("A", "O"), ("N", "F"), ("N", "O"), ("R", "F"), ("R", "O")]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
N_CUST, N_SUPP, N_ORDERS, N_EVENTS = 750, 100, 7500, 5000

# column -> DuckDB type; the order is the file's column order
SCHEMAS = {
    "region": {"r_regionkey": "INTEGER", "r_name": "VARCHAR"},
    "nation": {"n_nationkey": "INTEGER", "n_name": "VARCHAR",
               "n_regionkey": "INTEGER"},
    "customer": {"c_custkey": "BIGINT", "c_name": "VARCHAR",
                 "c_nationkey": "INTEGER", "c_acctbal": "DOUBLE",
                 "c_mktsegment": "VARCHAR"},
    "supplier": {"s_suppkey": "BIGINT", "s_name": "VARCHAR",
                 "s_nationkey": "INTEGER", "s_acctbal": "DOUBLE"},
    "orders": {"o_orderkey": "BIGINT", "o_custkey": "BIGINT",
               "o_orderstatus": "VARCHAR", "o_totalprice": "DOUBLE",
               "o_orderdate": "TIMESTAMP", "o_orderpriority": "VARCHAR"},
    "lineitem": {"l_orderkey": "BIGINT", "l_partkey": "BIGINT",
                 "l_suppkey": "BIGINT", "l_linenumber": "INTEGER",
                 "l_quantity": "DOUBLE", "l_extendedprice": "DOUBLE",
                 "l_discount": "DOUBLE", "l_tax": "DOUBLE",
                 "l_returnflag": "VARCHAR", "l_linestatus": "VARCHAR",
                 "l_shipdate": "TIMESTAMP"},
    "events": {"event_id": "BIGINT", "ts": "TIMESTAMP", "user_id": "BIGINT",
               "event_type": "VARCHAR", "value": "DOUBLE", "props": "VARCHAR"},
}


def tables(seed):
    r = random.Random(seed)

    def money(lo, hi):
        return round(lo + r.random() * (hi - lo), 2)

    day0 = datetime.datetime(1995, 1, 1)
    t0 = datetime.datetime(2024, 1, 1)
    order_days = [r.randrange(2404) for _ in range(N_ORDERS)]
    lines = []
    for o in range(N_ORDERS):
        for ln in range(1, 2 + r.randrange(7)):
            rf, ls = FLAGS[r.randrange(6)]
            lines.append((o, r.randrange(1000), r.randrange(N_SUPP), ln,
                          float(1 + r.randrange(50)), money(900, 105000),
                          r.randrange(11) / 100, r.randrange(9) / 100, rf, ls,
                          day0 + datetime.timedelta(
                              days=order_days[o] + 1 + r.randrange(120))))
    month_us = 30 * 24 * 3600 * 1000000
    return {
        "region": [(i, n) for i, n in enumerate(REGIONS)],
        "nation": [(i, f"NATION_{i}", i % 5) for i in range(25)],
        "customer": [(i, f"Customer#{i:09d}", r.randrange(25),
                      money(-999.99, 9999.99), SEGMENTS[r.randrange(5)])
                     for i in range(N_CUST)],
        "supplier": [(i, f"Supplier#{i:09d}", r.randrange(25),
                      money(-999.99, 9999.99)) for i in range(N_SUPP)],
        "orders": [(i, r.randrange(N_CUST), "FOP"[r.randrange(3)],
                    money(1000, 500000),
                    day0 + datetime.timedelta(days=order_days[i]),
                    PRIORITIES[r.randrange(5)]) for i in range(N_ORDERS)],
        "lineitem": lines,
        # event values are exponential with mean 50, as in the test corpus
        "events": [(i, t0 + datetime.timedelta(
                        microseconds=int(r.random() * month_us)),
                    r.randrange(150), EVENT_TYPES[r.randrange(5)],
                    max(0.01, round(-50 * math.log(1 - r.random()), 2)),
                    f'{{"k": {r.randrange(100)}}}') for i in range(N_EVENTS)],
    }


def write(out_dir, seed):
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    for name, rows in tables(seed).items():
        cols = SCHEMAS[name]
        df = pd.DataFrame(rows, columns=list(cols))
        casts = ", ".join(f"CAST({c} AS {t}) AS {c}" for c, t in cols.items())
        con.register("src", df)
        con.execute(f"COPY (SELECT {casts} FROM src) TO "
                    f"'{out_dir}/{name}.parquet' (FORMAT PARQUET)")
        con.unregister("src")
    con.close()
