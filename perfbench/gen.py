#!/usr/bin/env python3
"""Seeded input generator for the graft benchmark.

Runs apart from the timed loop. The same seed always gives the same bytes.

    python3 perfbench/gen.py --workload <name> --seed <n> --out <dir>

etl_microbatch: <out>/landing/batch_NNN/{user_events,transaction_events}_batch_0.json
    plus <out>/expected.json, the sidecar the output check compares with:
    per batch, the live silver keys (count + CRC-32 sum over
    "event_id|timestamp") and the cumulative gold sums per (date, category).
mv_refresh: <out>/sf/events.parquet and <out>/sf/customer.parquet, shaped
    like the reference data's tables at 0.4 of sf0.1, and one insert delta per cycle
    under <out>/deltas/ (fact rows; dim rows every 5th cycle from 0).
"""
import argparse
import json
import os
import zlib
from datetime import datetime, timedelta
from decimal import Decimal, ROUND_HALF_UP

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- etl batches

ETL_BATCHES = 4             # 0: each set-up's initial load, 1-3: warm-up and timed
USER_EVENTS = 5000          # per batch: one tenth of the reference bulk batch
TRANSACTIONS = 1000
REDELIVERY = 0.10           # share of user events that re-send an earlier id
SUBTYPES = ["login", "page_view", "click", "search", "add_to_cart"]
PAGES = ["home", "products", "cart", "checkout", "account"]
CATEGORIES = ["electronics", "books", "home", "garden", "toys",
              "sports", "beauty", "grocery", "fashion", "auto"]
EPOCH = datetime(2024, 1, 1)


def iso(t):
    return t.strftime("%Y-%m-%dT%H:%M:%SZ")


def user_events(rng, ids, day0):
    """`len(ids)` fresh user events inside the 7-day window from `day0`."""
    n = len(ids)
    secs = rng.integers(7 * 86400, size=n)
    et = rng.integers(len(SUBTYPES), size=n)
    cols = {k: rng.integers(m, size=n) for k, m in
            [("user", 5000), ("session", 100000), ("page", len(PAGES)), ("dev", 3),
             ("br", 3), ("ip1", 256), ("ip2", 256), ("cty", 5), ("city", 50), ("x", 2000),
             ("qty", 5)]}
    out = []
    for i in range(n):
        ev = {"event_id": ids[i], "user_id": f"u{cols['user'][i]}",
              "session_id": f"s{cols['session'][i]}", "event_type": SUBTYPES[et[i]],
              "timestamp": iso(day0 + timedelta(seconds=int(secs[i]))),
              "page": PAGES[cols["page"][i]],
              "device": ["desktop", "mobile", "tablet"][cols["dev"][i]],
              "browser": ["chrome", "firefox", "safari"][cols["br"][i]],
              "ip_address": f"10.0.{cols['ip1'][i]}.{cols['ip2'][i]}",
              "country": ["DE", "US", "FR", "IN", "BR"][cols["cty"][i]],
              "city": f"c{cols['city'][i]}"}
        if et[i] == 3:
            ev["search_query"] = f"q{cols['x'][i] % 500}"
        elif et[i] == 2:
            ev["element_id"] = f"btn-{cols['x'][i] % 50}"
        elif et[i] == 4:
            ev["product_id"] = f"p{cols['x'][i]}"
            ev["quantity"] = int(1 + cols["qty"][i])
        out.append(ev)
    return out


def dec6(x):
    # Spark's CAST(double AS DECIMAL(18,6)): the double's decimal string,
    # rounded half-up to 6 places
    return Decimal(repr(x)).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)


def key_crc(ev):
    return zlib.crc32(f"{ev['event_id']}|{ev['timestamp']}".encode())


def gen_etl(seed, out):
    rng = np.random.default_rng(seed)
    live = {}                    # event_id -> latest delivered event
    keys = []                    # ids in first-delivery order
    crc = 0                      # running CRC-32 sum over the live versions
    gold = {}                    # "date|category" -> [n, Decimal]
    expected = []
    for b in range(ETL_BATCHES):
        # every batch lands in the same 7-day window, so day partitions
        # fill as the batches go on
        day0 = EPOCH
        n_redeliver = int(USER_EVENTS * REDELIVERY) if keys else 0
        n_new = USER_EVENTS - n_redeliver
        base = len(keys)
        events = user_events(rng, [f"e{seed}-{base + i}" for i in range(n_new)], day0)
        picks = rng.integers(max(1, base), size=n_redeliver)
        newer = rng.random(n_redeliver) < 0.5
        bumps = rng.integers(1, 601, size=n_redeliver)
        pages = rng.integers(len(PAGES), size=n_redeliver)
        for i in range(n_redeliver):
            ev = dict(live[keys[picks[i]]])
            if newer[i]:
                # a newer version of the same event, same day partition
                t = datetime.strptime(ev["timestamp"], "%Y-%m-%dT%H:%M:%SZ")
                t2 = min(t.replace(hour=23, minute=59, second=59),
                         t + timedelta(seconds=int(bumps[i])))
                if t2 != t:
                    ev["timestamp"] = iso(t2)
                    ev["page"] = PAGES[pages[i]]
            events.append(ev)
        keys.extend(ev["event_id"] for ev in events[:n_new])
        # the merge keeps the newest version per key; equal versions carry
        # equal content, so which copy survives a tie does not matter
        for ev in events:
            cur = live.get(ev["event_id"])
            if cur is None or ev["timestamp"] > cur["timestamp"]:
                if cur is not None:
                    crc -= key_crc(cur)
                crc += key_crc(ev)
                live[ev["event_id"]] = ev
        order = rng.permutation(len(events))
        txs = []
        n_items = 0
        for i in range(TRANSACTIONS):
            ts = day0 + timedelta(seconds=int(rng.integers(7 * 86400)))
            k = int(1 + rng.integers(5))
            cats, qtys = rng.integers(len(CATEGORIES), size=k), rng.integers(1, 6, size=k)
            prices, prods = rng.integers(100, 10000, size=k), rng.integers(2000, size=k)
            items = []
            for j in range(k):
                cat, qty, price = CATEGORIES[cats[j]], int(qtys[j]), int(prices[j]) / 100.0
                items.append({"product_id": f"p{prods[j]}", "product_name": f"P{j}",
                              "category": cat, "brand": f"b{prods[j] % 20}",
                              "quantity": qty, "unit_price": price})
                g = gold.setdefault(f"{ts.date()}|{cat}", [0, Decimal(0)])
                g[0] += 1
                g[1] += dec6(qty * price)
            n_items += k
            sub = round(sum(it["quantity"] * it["unit_price"] for it in items), 2)
            addr = {"street": "s", "city": f"c{i % 50}", "state": "st",
                    "zip_code": f"{i:05d}", "country": "US"}
            txs.append({"transaction_id": f"t{seed}-{b}-{i}", "user_id": f"u{prods[0]}",
                        "transaction_type": "purchase", "timestamp": iso(ts),
                        "status": "completed", "payment_method": "card", "currency": "USD",
                        "line_items": items, "subtotal": sub, "tax": round(sub * 0.1, 2),
                        "total": round(sub * 1.1, 2), "billing_address": addr,
                        "shipping_address": addr})
        d = os.path.join(out, "landing", f"batch_{b:03d}")
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, "user_events_batch_0.json"), "w") as f:
            f.writelines(json.dumps(events[k]) + "\n" for k in order)
        with open(os.path.join(d, "transaction_events_batch_0.json"), "w") as f:
            f.writelines(json.dumps(t) + "\n" for t in txs)
        expected.append({
            "batch": b, "user_events": len(events), "line_items": n_items,
            "silver_keys": len(live), "silver_crc": crc,
            "gold": {k: [n, str(v)] for k, (n, v) in sorted(gold.items())}})
    with open(os.path.join(out, "expected.json"), "w") as f:
        json.dump(expected, f)


# ------------------------------------------------------------------ mv tables

# The fact and dim have the schema and value distributions of the reference
# data's `events` and `customer` tables at sf0.1, as measured there:
# event_id 0..n-1, ts over 30 days from 2024-01-01 (µs), user_id uniform over
# 1,500 users per 100,000 events, five event types in equal shares, value
# exponential with mean 50 rounded to cents (median 34.77), props
# '{"k": <0..99>}'; c_custkey 0..n-1, 25 nations, c_acctbal uniform in
# [-999.99, 9999.99], five market segments in equal shares; every event's
# user_id is a customer key. sf0.1 has 100,000 events and 15,000 customers;
# the tables here have 0.4 of those rows (and users), because at full size
# one mv_refresh run took 98 s untraced and 139-170 s traced on a 4-vCPU
# host, too long for the run limit and the benchmark's time budget.
SCALE = 0.4
EVENTS, USERS, CUSTOMERS = int(100000 * SCALE), int(1500 * SCALE), int(15000 * SCALE)
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
T0 = np.datetime64("2024-01-01T00:00:00", "us")
DAY_US = 86400 * 1000000
MV_CYCLES = 1               # the warm-up and the timed cycle
DIM_DELTA = 10              # customers added every 5th cycle


def events(rng, lo, n, day0, span_days):
    us = np.sort(rng.integers(span_days * DAY_US, size=n)) + day0 * DAY_US
    return pa.table({
        "event_id": pa.array(np.arange(lo, lo + n, dtype=np.int64)),
        "ts": pa.array(T0 + us.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(USERS, size=n).astype(np.int64)),
        "event_type": pa.array([EVENT_TYPES[i] for i in rng.integers(5, size=n)]),
        "value": pa.array(np.round(rng.exponential(50.0, size=n), 2)),
        "props": pa.array([f'{{"k": {i}}}' for i in rng.integers(100, size=n)])})


def customers(rng, lo, n):
    return pa.table({
        "c_custkey": pa.array(np.arange(lo, lo + n, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(lo, lo + n)]),
        "c_nationkey": pa.array(rng.integers(25, size=n).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, size=n), 2)),
        "c_mktsegment": pa.array([SEGMENTS[i] for i in rng.integers(5, size=n)])})


def gen_mv(seed, out):
    """<out>/sf/{events,customer}.parquet (the fact and dim the set-up
    copies into graft tables; also the table set `SparkEntry.queries`
    reads) and, per cycle, a 1% insert delta of newer events plus, every
    5th cycle, new customers."""
    rng = np.random.default_rng(seed)
    sf, deltas = os.path.join(out, "sf"), os.path.join(out, "deltas")
    os.makedirs(sf, exist_ok=True)
    os.makedirs(deltas, exist_ok=True)
    pq.write_table(events(rng, 0, EVENTS, 0, 30), os.path.join(sf, "events.parquet"))
    pq.write_table(customers(rng, 0, CUSTOMERS), os.path.join(sf, "customer.parquet"))
    delta = EVENTS // 100
    for c in range(MV_CYCLES):
        pq.write_table(events(rng, EVENTS + c * delta, delta, 30 + c, 1),
                       os.path.join(deltas, f"fact_{c:03d}.parquet"))
        if c % 5 == 0:
            pq.write_table(customers(rng, CUSTOMERS + c * DIM_DELTA, DIM_DELTA),
                           os.path.join(deltas, f"dim_{c:03d}.parquet"))
    with open(os.path.join(out, "mv.json"), "w") as f:
        json.dump({"fact_rows": EVENTS, "delta_rows": delta, "cycles": MV_CYCLES}, f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    os.makedirs(a.out, exist_ok=True)
    if a.workload == "etl_microbatch":
        gen_etl(a.seed, a.out)
    elif a.workload == "mv_refresh":
        gen_mv(a.seed, a.out)
    else:
        raise SystemExit(f"unknown workload {a.workload}")
    open(os.path.join(a.out, "_READY"), "w").close()


if __name__ == "__main__":
    main()
