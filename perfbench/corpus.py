"""Seeded inputs for the benchmark workloads.

The same seed gives the same files. Sizes are fixed so that every seed
costs the same work; the seed only draws the values.

- `catalog_tables` writes the ten parquet tables the catalog queries read
  (region, nation, customer, supplier, part, orders, lineitem, events,
  documents, embeddings), one file each, with the column names and types
  of the test data the queries were written against, at its 0.001 scale.
- `day_corpus` writes day documents as JSON-lines, the staged form
  `DaySource.readJsonl` reads: `base/` holds users x days, `mutated/`
  the same days with the water of a seeded ~1/37 of them raised by 250.
"""
import datetime as dt
import json
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("scan column window order sort part agg value line key join merge "
         "group query a vector hash slow stream filter fast the batch spark "
         "table small data big customer row").split()


def _days(start, n):
    """`n` day offsets from ISO date `start`, as timestamp[us]."""
    return (np.datetime64(start, "D") + n).astype("datetime64[us]")


def _write(out, name, columns):
    pq.write_table(pa.table(columns), out / f"{name}.parquet")


def catalog_tables(seed, out):
    out = Path(out)
    out.mkdir(parents=True, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp, n_part, n_ord, n_line = 150, 10, 200, 1500, 6000
    n_ev, n_doc, n_emb, dim = 1000, 500, 500, 64

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def pick(values, n, p=None):
        return pa.array(rng.choice(values, n, p=p).tolist(), pa.string())

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE",
                            "MIDDLE EAST"])})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out, "customer", {
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(money(-999.99, 9999.99, n_cust)),
        "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE",
                              "HOUSEHOLD", "MACHINERY"], n_cust)})
    _write(out, "supplier", {
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(money(-999.99, 9999.99, n_supp))})
    adjectives = ["small", "large", "red", "blue", "cold", "old", "new", "shiny"]
    nouns = ["widget", "bolt", "rod", "ring", "anvil", "gear", "valve", "spring"]
    _write(out, "part", {
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": pa.array([f"{rng.choice(adjectives)} {rng.choice(nouns)}"
                            for _ in range(n_part)]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pick(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                        "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(
            [round(900 + (i % 200) / 10, 2) for i in range(n_part)])})
    order_dates = _days("1995-01-01", rng.integers(0, 2404, n_ord))
    _write(out, "orders", {
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pick(["F", "O", "P"], n_ord),
        "o_totalprice": pa.array(money(1000, 500000, n_ord)),
        "o_orderdate": pa.array(order_dates, pa.timestamp("us")),
        "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                 "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    l_order = rng.integers(0, n_ord, n_line)
    ship = order_dates[l_order] + rng.integers(1, 122, n_line).astype(
        "timedelta64[D]")
    _write(out, "lineitem", {
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(float)),
        "l_extendedprice": pa.array(money(900, 105000, n_line)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100),
        "l_returnflag": pick(["A", "N", "R"], n_line),
        "l_linestatus": pick(["F", "O"], n_line),
        "l_shipdate": pa.array(ship.astype("datetime64[us]"), pa.timestamp("us"))})
    month_us = 30 * 86400 * 10**6
    ts = np.datetime64("2024-01-01", "us") + np.sort(
        rng.integers(0, month_us, n_ev)).astype("timedelta64[us]")
    _write(out, "events", {
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 15, n_ev), pa.int64()),
        "event_type": pick(["click", "error", "purchase", "signup", "view"], n_ev),
        "value": pa.array(np.round(rng.exponential(50, n_ev), 2) + 0.01),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])})
    texts = []
    for i in range(n_doc):
        if i >= 20 and rng.random() < 0.06:
            texts.append(texts[rng.integers(0, i)] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB, rng.integers(8, 100))))
    _write(out, "documents", {
        "doc_id": pa.array(range(n_doc), pa.int64()),
        "text": pa.array(texts),
        "lang": pick(["en", "es", "zh", "de", "fr"], n_doc,
                     p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    labels = rng.integers(0, 10, n_emb)
    centroids = rng.normal(size=(10, dim))
    centroids /= np.linalg.norm(centroids, axis=1, keepdims=True)
    vecs = rng.normal(size=(n_emb, dim)) / 8 + 0.14 * centroids[labels]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out, "embeddings", {
        "vec_id": pa.array(range(n_emb), pa.int64()),
        "embedding": pa.array(vecs.astype(np.float32).tolist(),
                              pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


def _day(user, date, day_index, cal, water, goal, weight):
    return {
        "username": user, "date": date,
        "meals": [
            {"name": "breakfast",
             "totals": {"calories": cal, "carbohydrates": 60.0, "fat": 20.0,
                        "protein": 25.0, "sodium": 800.0, "sugar": 15.0},
             "entries": [
                 {"short_name": "eggs", "quantity": 2.0, "unit": "unit",
                  "totals": {"calories": cal / 2, "protein": 12.0}},
                 {"short_name": "toast", "quantity": 1.0, "unit": "slice",
                  "totals": {"calories": cal / 2, "carbohydrates": 60.0}}]},
            {"name": "dinner", "totals": {"calories": cal + 100.0},
             "entries": []}],
        "exercises": [
            [{"name": "running",
              "nutrition_information": {"minutes": 30.0,
                                        "calories burned": 200.0 + day_index % 50}}],
            [{"name": "bench press",
              "nutrition_information": {"sets": 3.0, "reps/set": 10.0,
                                        "weight/set": 60.0}}]],
        "goals": {"calories": goal, "carbohydrates": 250.0, "fat": 70.0,
                  "protein": 100.0},
        "notes": {"type": "food", "body": f"day {day_index}"},
        "water": water,
        "measurements": {"Weight": weight}}


def day_corpus(seed, out, n_users, n_days=365, start="2021-01-01", files=4):
    """Writes the corpus and returns what a correct load must show."""
    out = Path(out)
    rng = np.random.default_rng([seed, 2])
    n = n_users * n_days
    mutated = set(rng.choice(n, n // 37, replace=False).tolist())
    goals = (1800 + rng.integers(0, 600, n_users)).tolist()
    cal = (400 + rng.integers(0, 300, n)).tolist()
    water = (100 * rng.integers(10, 26, n)).tolist()
    first = dt.date.fromisoformat(start)
    users = [f"user{u}@bench.test" for u in range(n_users)]
    sizes = {"base": 0, "mutated": 0, "mutated_days": 0}
    for kind in ("base", "mutated"):
        (out / kind).mkdir(parents=True, exist_ok=True)
        parts = [open(out / kind / f"part-{k:05d}.json", "w") for k in range(files)]
        for u, user in enumerate(users):
            for i in range(n_days):
                idx = u * n_days + i
                bump = 250.0 if kind == "mutated" and idx in mutated else 0.0
                line = json.dumps(_day(
                    user, (first + dt.timedelta(days=i)).isoformat(), i,
                    float(cal[idx]), float(water[idx]) + bump, float(goals[u]),
                    round(90.0 - i * 0.01 + u * 0.1, 2))) + "\n"
                parts[u % files].write(line)
                sizes[kind] += len(line)
                if bump:
                    sizes["mutated_days"] += len(line)
        for f in parts:
            f.close()
    return {
        "days": n, "days_per_user": n_days, "mutated": len(mutated),
        "users": users, "calories_goal": dict(zip(users, goals)),
        "from": start,
        "to": (first + dt.timedelta(days=n_days - 1)).isoformat(),
        "corpus_bytes": sizes["base"],
        "mutated_day_bytes": sizes["mutated_days"]}
