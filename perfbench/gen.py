"""Seeded input stream for the medallion_incremental workload.

Cuts a stream of landing batches out of a TPC-H-shaped testdata directory
(customer, orders, lineitem, events parquet). The same seed always gives
the same bytes; the program under test only ever sees the files written
here.

Batch 0 is the seed batch the benchmark lands during set-up. Each later
batch holds:
  customers.json  new customers, changed existing customers, a few
                  malformed lines and a few rows that break quality rules
  orders.csv      order CDC rows: inserts for the batch's new customers,
                  updates and deletes of earlier orders, a few inserts with
                  a negative price (quarantined by the quality gate)
  lineitem.csv    lineitem CDC rows for the inserted and deleted orders
  events.json     the next time slice of the event stream
"""
import datetime
import json
import os
import random

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

SEED_CUSTOMERS = 300       # customers landed by the set-up batch
BATCH_CUSTOMERS = 100      # new customers per batch
CHANGED_CUSTOMERS = 30     # existing customers changed per batch
MALFORMED_LINES = 3        # unparseable customer JSON lines per batch
BAD_CUSTOMERS = 4          # parseable customers that break a quality rule
ORDER_UPDATES = 60         # existing orders updated per batch
ORDER_DELETES = 15         # existing orders deleted per batch
BAD_ORDERS = 5             # order inserts with a negative price
EVENTS_PER_BATCH = 1500
N_BATCHES = 6              # a run lands one; room for a faster program
STREAM_EPOCH = datetime.datetime(2024, 2, 1)

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
STATUSES = ["O", "F", "P"]
ORDER_COLS = ["op", "cdc_seq", "o_orderkey", "o_custkey", "o_orderstatus",
              "o_totalprice", "o_orderdate", "o_orderpriority"]
LINE_COLS = ["op", "cdc_seq", "l_orderkey", "l_linenumber", "l_partkey",
             "l_quantity", "l_extendedprice", "l_discount", "l_shipdate"]


def _csv(rows, cols):
    out = [",".join(cols)]
    for r in rows:
        out.append(",".join("" if r[c] is None else str(r[c]) for c in cols))
    return "\n".join(out) + "\n"


def generate(testdata, out_dir, seed, n_batches=N_BATCHES):
    """Write batch_000 .. batch_<n-1> under out_dir; return the batch dirs."""
    rng = random.Random(seed)
    customers = pq.read_table(f"{testdata}/customer.parquet").to_pylist()
    customers.sort(key=lambda c: c["c_custkey"])
    rng.shuffle(customers)
    customers = customers[:SEED_CUSTOMERS + (n_batches - 1) * BATCH_CUSTOMERS]
    # only the orders and lines of customers that can land are converted:
    # row-by-row conversion of the whole lineitem table dominates otherwise
    orders = _rows(pq.read_table(f"{testdata}/orders.parquet"), "o_custkey",
                   [c["c_custkey"] for c in customers], "o_orderdate")
    lines = _rows(pq.read_table(f"{testdata}/lineitem.parquet").select(LINE_COLS[2:]),
                  "l_orderkey", [o["o_orderkey"] for o in orders], "l_shipdate")
    events = pq.read_table(f"{testdata}/events.parquet").to_pylist()
    orders_by_cust, lines_by_order = {}, {}
    for o in orders:
        orders_by_cust.setdefault(o["o_custkey"], []).append(o)
    for li in lines:
        lines_by_order.setdefault(li["l_orderkey"], []).append(li)
    events.sort(key=lambda e: (e["ts"], e["event_id"]))
    ev_start = rng.randrange(len(events))

    seq = 0
    clock = 0          # seconds after the stream epoch, strictly increasing
    landed_custs = []  # customers already landed (live rows)
    live_orders = {}   # o_orderkey -> current order row
    next_cust = 0
    dirs = []
    for b in range(n_batches):
        n_new = SEED_CUSTOMERS if b == 0 else BATCH_CUSTOMERS
        new = customers[next_cust:next_cust + n_new]
        next_cust += n_new
        if not new:
            break
        clock += 3600
        stamp = (STREAM_EPOCH + datetime.timedelta(seconds=clock)).strftime("%Y-%m-%d %H:%M:%S")
        cust_lines = []
        for c in new:
            cust_lines.append(json.dumps(dict(c, updated_at=stamp)))
        if b > 0:
            for c in rng.sample(landed_custs, min(CHANGED_CUSTOMERS, len(landed_custs))):
                c["c_mktsegment"] = rng.choice(SEGMENTS)
                c["c_acctbal"] = round(rng.uniform(-900.0, 9999.0), 2)
                cust_lines.append(json.dumps(dict(c, updated_at=stamp)))
            for i in range(BAD_CUSTOMERS):
                bad = dict(rng.choice(landed_custs), updated_at=stamp)
                if i % 2 == 0:
                    bad["c_name"] = None
                else:
                    bad["c_acctbal"] = -5000.0 - i
                cust_lines.append(json.dumps(bad))
            for i in range(MALFORMED_LINES):
                cust_lines.append('{"c_custkey": %d, "c_name": "broken' % rng.randrange(10**6))
        landed_custs.extend(dict(c) for c in new)

        order_rows, line_rows = [], []
        if b > 0:
            for key in rng.sample(list(live_orders), min(ORDER_UPDATES, len(live_orders))):
                o = dict(live_orders[key])
                o["o_orderstatus"] = rng.choice(STATUSES)
                o["o_totalprice"] = round(o["o_totalprice"] * rng.uniform(0.8, 1.2), 2)
                seq += 1
                live_orders[key] = o
                order_rows.append(dict(o, op="update", cdc_seq=seq))
            for key in rng.sample(list(live_orders), min(ORDER_DELETES, len(live_orders))):
                o = live_orders.pop(key)
                seq += 1
                order_rows.append(dict(o, op="delete", cdc_seq=seq))
                for li in lines_by_order.get(key, []):
                    seq += 1
                    line_rows.append(dict(li, op="delete", cdc_seq=seq))
        for c in new:
            for o in orders_by_cust.get(c["c_custkey"], []):
                seq += 1
                live_orders[o["o_orderkey"]] = o
                order_rows.append(dict(o, op="insert", cdc_seq=seq))
                for li in lines_by_order.get(o["o_orderkey"], []):
                    seq += 1
                    line_rows.append(dict(li, op="insert", cdc_seq=seq))
        if b > 0:
            for i in range(BAD_ORDERS):
                o = dict(rng.choice(orders))
                o["o_orderkey"] = 10**9 + b * 100 + i
                o["o_totalprice"] = -1.0 - i
                seq += 1
                order_rows.append(dict(o, op="insert", cdc_seq=seq))

        ev = [events[(ev_start + b * EVENTS_PER_BATCH + i) % len(events)]
              for i in range(EVENTS_PER_BATCH)]
        ev_lines = [json.dumps(dict(e, ts=e["ts"].strftime("%Y-%m-%d %H:%M:%S.%f")))
                    for e in ev]

        d = os.path.join(out_dir, f"batch_{b:03d}")
        os.makedirs(d, exist_ok=True)
        _write(d, "customers.json", "\n".join(cust_lines) + "\n")
        _write(d, "orders.csv", _csv(order_rows, ORDER_COLS))
        _write(d, "lineitem.csv", _csv(line_rows, LINE_COLS))
        _write(d, "events.json", "\n".join(ev_lines) + "\n")
        dirs.append(d)
    return dirs


def _rows(table, key, keys, ts_col):
    """Rows of `table` whose `key` is in `keys`, `ts_col` as text."""
    table = table.filter(pc.is_in(table[key], value_set=pa.array(keys)))
    i = table.schema.get_field_index(ts_col)
    table = table.set_column(i, ts_col, pc.strftime(table[ts_col], format="%Y-%m-%d %H:%M:%S"))
    return table.to_pylist()


def _write(d, name, text):
    with open(os.path.join(d, name), "w") as f:
        f.write(text)
