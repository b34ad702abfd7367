#!/usr/bin/env python3
"""Seeded input generator for the graft benchmark.

Writes, under OUT (one directory per seed, scale and generator version):

  tables/<name>.parquet   graft's ten-table schema in the shape tools/gen_sf.py
                          writes (same columns, row ratios, distributions),
                          drawn from --seed instead of a fixed seed
  wire/kafka.parquet      Kafka record frame of the reference wire (key,
                          value, topic, partition, offset, timestamp,
                          timestampType) for the ClickHouse-dialect catalog
  stream/backlog/*.json   NDJSON event files the streaming query drains
  stream/live/*.json      NDJSON event files the live-phase generator writes
  expected.json           answers of the reference aggregates, computed here
                          with numpy only (no Spark)
  meta.json               input rows and bytes

Usage: python3 perfbench/gen.py --seed N --scale S --out DIR
"""
import argparse
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Bump when the output changes, so cached inputs of an older generator are
# never reused.
GEN_VERSION = 1

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
# The fixed 31-word document vocabulary tools/gen_sf.py reads from sf0.1.
VOCAB = np.array([
    "a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order", "part",
    "query", "row", "scan", "slow", "small", "sort", "spark", "stream",
    "table", "the", "value", "vector", "window"])
EVENT_TYPES = np.array(["signup", "click", "purchase", "error", "view"])
HOUSES = ["Gryffindor", "Hufflepuff", "Ravenclaw", "Slytherin"]
SUBJECTS = ["Potions", "Charms", "Herbology", "Transfiguration"]

DAY_MS = 86_400_000
HOUR_MS = 3_600_000

# Wire and stream volumes (independent of the table scale).
WIRE_PER_SF = 2_000_000     # Kafka records per unit of scale
WIRE_PER_SLOT = 37          # students per hourly class slot (not a multiple of 4)
WIRE_PARTITIONS = 16
BACKLOG_FILES, BACKLOG_EVENTS = 40, 2500
LIVE_FILES, LIVE_EVENTS = 600, 25
FILE_SPAN_MS = 5 * 60_000   # event-time span of one stream file
DISORDER_MS = 20 * 60_000   # bounded disorder, inside the 30-minute watermark
STREAM_T0_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z


def write(out, name, table):
    rg = max(4096, min(1_048_576, (table.num_rows + 63) // 64))
    pq.write_table(table, os.path.join(out, f"{name}.parquet"), row_group_size=rg)
    return table


def gen_tables(rng, sf, out):
    n_cust = max(50, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(50, int(200_000 * sf))
    n_ord = max(500, int(1_500_000 * sf))
    n_li = max(2000, int(6_000_000 * sf))
    n_ev = max(1000, int(1_000_000 * sf))
    n_users = max(20, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_vecs = max(500, int(20_000 * sf))
    t = {}
    t["region"] = write(out, "region", pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": REGIONS}))
    t["nation"] = write(out, "nation", pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())}))
    segs = np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"])
    t["customer"] = write(out, "customer", pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": pa.array(segs[rng.integers(0, 5, n_cust)])}))
    t["supplier"] = write(out, "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2)}))
    adj = ["large", "hot", "blue", "small", "dim", "cold", "red", "green"]
    noun = ["ring", "bolt", "case", "disk", "tube", "cap", "clip", "pin"]
    t["part"] = write(out, "part", pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{adj[i % 8]} {noun[(i // 8) % 8]}" for i in range(n_part)],
        "p_brand": pa.array([f"Brand#{i % 25}" for i in range(n_part)]),
        "p_type": pa.array(np.array(
            ["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"])[
            rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + 0.1 * (np.arange(n_part) % 11000), 2)}))
    d0 = np.datetime64("1995-01-01").astype("datetime64[ms]").astype(np.int64)
    d1 = np.datetime64("2001-08-01").astype("datetime64[ms]").astype(np.int64)
    odate = d0 + rng.integers(0, (d1 - d0) // DAY_MS + 1, n_ord) * DAY_MS
    t["orders"] = write(out, "orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(np.array(["O", "P", "F"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n_ord), 2),
        "o_orderdate": pa.array(odate, pa.timestamp("ms")),
        "o_orderpriority": pa.array(np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])[
            rng.integers(0, 5, n_ord)])}))
    lo = np.sort(rng.integers(0, n_ord, n_li))
    idx = np.arange(n_li)
    start = np.where(np.concatenate([[True], lo[1:] != lo[:-1]]), idx, 0)
    np.maximum.accumulate(start, out=start)
    t["lineitem"] = write(out, "lineitem", pa.table({
        "l_orderkey": pa.array(lo, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array((idx - start + 1).astype(np.int32), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105_000, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, n_li)]),
        "l_shipdate": pa.array(odate[lo] + rng.integers(1, 96, n_li) * DAY_MS,
                               pa.timestamp("ms"))}))
    # events: 30 days of 2024-01 with nanosecond timestamps (the
    # TIMESTAMP(NANOS) read path of graft.Tables.events), 5 types, exp(50) values
    ev_t0 = np.datetime64("2024-01-01").astype("datetime64[ns]").astype(np.int64)
    ets = ev_t0 + rng.integers(0, 30 * 86_400 * 1_000_000_000 - 1, n_ev)
    etype = rng.integers(0, 5, n_ev)
    evalue = np.round(np.minimum(rng.exponential(50.0, n_ev), 600.0), 2)
    t["events"] = write(out, "events", pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ets, pa.timestamp("ns")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": pa.array(EVENT_TYPES[etype]),
        "value": evalue,
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)]}))
    texts = []
    langs = rng.choice(np.array(["en", "zh", "fr", "es", "de"]), n_docs,
                       p=[0.41, 0.15, 0.15, 0.15, 0.14])
    lens = rng.integers(10, 101, n_docs)
    for i in range(n_docs):
        r = rng.random()
        if i > 10 and r < 0.002:
            texts.append(texts[rng.integers(0, i)])
        elif i > 10 and r < 0.025:
            w = texts[rng.integers(0, i)].split(" ")
            for _ in range(2):
                w[rng.integers(0, len(w))] = VOCAB[rng.integers(0, 31)]
            texts.append(" ".join(w))
        else:
            texts.append(" ".join(VOCAB[rng.integers(0, 31, lens[i])]))
    t["documents"] = write(out, "documents", pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": pa.array(langs),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array(np.array([len(x) for x in texts]), pa.int64())}))
    dim = 64
    v = rng.standard_normal((n_vecs, dim)).astype(np.float32)
    ndup = n_vecs // 100
    src, dst = rng.integers(0, n_vecs, ndup), rng.integers(0, n_vecs, ndup)
    v[dst] = v[src] + 0.1 * rng.standard_normal((ndup, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    t["embeddings"] = write(out, "embeddings", pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32())}))
    return t, ets, etype, evalue


def sql_answers(ets_ns, etype, evalue):
    """Answers of graft.Sql.referenceQueries over the events table."""
    ts_us = ets_ns // 1000
    day = ts_us // (DAY_MS * 1000)
    hr = (ts_us // (HOUR_MS * 1000)) % 24
    points = {}
    for k, name in enumerate(EVENT_TYPES):
        points[name] = round(float(evalue[etype == k].sum()), 4)
    # latest event: ORDER BY ts DESC, event_id DESC at microsecond precision
    top = ts_us.max()
    latest = int(np.flatnonzero(ts_us == top).max())
    keys, counts = np.unique(np.stack([day, hr, etype]), axis=1, return_counts=True)
    granular = [[int(d) * DAY_MS, int(h), str(EVENT_TYPES[e]), int(n)]
                for (d, h, e), n in zip(keys.T, counts)]
    return {"count_all": int(len(ets_ns)), "points_by_house": points,
            "latest_event": latest, "attendance_granular": granular}


def gen_wire(rng, sf, out):
    """The reference wire as a Kafka record frame, plus the answers of the
    dialect statements the ad-hoc mix runs over it."""
    n = max(2000, int(WIRE_PER_SF * sf))
    n = (n // WIRE_PER_SLOT) * WIRE_PER_SLOT
    slots = n // WIRE_PER_SLOT
    ts = 1_378_022_400_000 + np.repeat(np.arange(slots), WIRE_PER_SLOT) * HOUR_MS
    # distinct students inside a slot, so (timestamp, name) orders uniquely
    names = np.concatenate([rng.permutation(50)[:WIRE_PER_SLOT] for _ in range(slots)])
    house = rng.integers(0, 4, n)
    subject = rng.integers(0, 4, n)
    teacher = rng.integers(0, 7, n)
    room = rng.integers(0, 9, n)
    pts = rng.integers(-10, 11, n)
    lines = [
        '{"timestamp": %d, "subject": "%s", "teacher": "T%d", "room": "R%d", '
        '"points": %d, "student": {"name": "S%d", "house": "%s"}}'
        % (ts[i], SUBJECTS[subject[i]], teacher[i], room[i], pts[i], names[i],
           HOUSES[house[i]]) for i in range(n)]
    part = np.arange(n) % WIRE_PARTITIONS
    pq.write_table(pa.table({
        "key": pa.array([f"S{x}".encode() for x in names], pa.binary()),
        "value": pa.array([x.encode() for x in lines], pa.binary()),
        "topic": pa.array(["entry-events"] * n),
        "partition": pa.array(part, pa.int32()),
        "offset": pa.array(np.arange(n) // WIRE_PARTITIONS, pa.int64()),
        "timestamp": pa.array(ts, pa.timestamp("ms")),
        "timestampType": pa.array(np.zeros(n, np.int32), pa.int32()),
    }), os.path.join(out, "kafka.parquet"))
    # cutover at midday of the middle day, so that day's daily state comes
    # from both the MV leg and the INSERT backfill
    mid_day = (int(ts[n // 2]) // DAY_MS) * DAY_MS
    cutoff_ms = mid_day + 12 * HOUR_MS
    houses = {h: int(pts[house == k].sum()) for k, h in enumerate(HOUSES)}
    last = int(ts.max())
    cand = np.flatnonzero(ts == last)
    # ORDER BY timestamp DESC, name DESC compares names as strings
    win = max(cand, key=lambda i: f"S{names[i]}")
    latest = [last, SUBJECTS[subject[win]], f"S{names[win]}", int(pts[win])]
    # Step 3: students per (timestamp, subject); Step 4: daily max/min/avg
    slot = np.repeat(np.arange(slots), WIRE_PER_SLOT)
    k, c = np.unique(slot * 4 + subject, return_counts=True)
    g_ts = 1_378_022_400_000 + (k // 4) * HOUR_MS
    g_day = (g_ts // DAY_MS) * DAY_MS
    daily = []
    for key in sorted(set(zip(g_day.tolist(), (k % 4).tolist()))):
        sel = c[(g_day == key[0]) & (k % 4 == key[1])]
        daily.append([key[0], SUBJECTS[key[1]], int(sel.max()), int(sel.min()),
                      float(sel.sum()) / len(sel)])
    return n, {"count": n, "points_by_house": houses, "latest": latest,
               "daily_merge": daily, "cutoff": cutoff_ms}


def gen_stream(rng, out):
    """NDJSON event files: a backlog the query drains, then live files the
    open-loop generator writes. File j holds events whose time lies in
    [T0 + j*span - disorder, T0 + (j+1)*span), so every event is newer than
    the watermark (max seen - 30 min) of any earlier micro-batch."""
    def agg(ts, et, val):
        b = (ts // HOUR_MS) * HOUR_MS
        rows = {}
        for bb, e, v in zip(b.tolist(), et.tolist(), val.tolist()):
            r = rows.setdefault((bb, e), [0, 0.0])
            r[0] += 1
            r[1] += v
        return [[bb, str(EVENT_TYPES[e]), n, s] for (bb, e), (n, s) in sorted(rows.items())]

    def make_file(path, j, n_ev, first_id):
        base = STREAM_T0_MS + j * FILE_SPAN_MS
        ts = base + rng.integers(0, FILE_SPAN_MS, n_ev) - rng.integers(0, DISORDER_MS, n_ev)
        et = rng.integers(0, 5, n_ev)
        val = np.round(np.minimum(rng.exponential(50.0, n_ev), 600.0), 2)
        user = rng.integers(0, 5000, n_ev)
        pk = rng.integers(0, 100, n_ev)
        with open(path, "w") as f:
            for i in range(n_ev):
                f.write('{"event_id":%d,"timestamp":%d,"user_id":%d,"event_type":"%s",'
                        '"value":%r,"props":"{\\"k\\": %d}"}\n'
                        % (first_id + i, ts[i], user[i], EVENT_TYPES[et[i]],
                           float(val[i]), pk[i]))
        return ts, et, val

    os.makedirs(os.path.join(out, "backlog"))
    os.makedirs(os.path.join(out, "live"))
    parts, next_id = [], 0
    for j in range(BACKLOG_FILES):
        parts.append(make_file(os.path.join(out, "backlog", f"part-{j:05d}.json"),
                               j, BACKLOG_EVENTS, next_id))
        next_id += BACKLOG_EVENTS
    cat = [np.concatenate(x) for x in zip(*parts)]
    backlog = agg(*cat)
    live = []
    for j in range(LIVE_FILES):
        ts, et, val = make_file(os.path.join(out, "live", f"live-{j:05d}.json"),
                                BACKLOG_FILES + j, LIVE_EVENTS, next_id)
        next_id += LIVE_EVENTS
        live.append(agg(ts, et, val))
    return {"backlog_events": BACKLOG_FILES * BACKLOG_EVENTS,
            "live_file_events": LIVE_EVENTS, "backlog": backlog, "live": live}


def dir_bytes(path):
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--scale", type=float, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    tmp = a.out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    for d in ("tables", "wire", "stream"):
        os.makedirs(os.path.join(tmp, d))
    rng = np.random.default_rng([GEN_VERSION, a.seed])
    tables, ets, etype, evalue = gen_tables(rng, a.scale, os.path.join(tmp, "tables"))
    n_wire, ch = gen_wire(rng, a.scale, os.path.join(tmp, "wire"))
    stream = gen_stream(rng, os.path.join(tmp, "stream"))
    expected = {"sql": sql_answers(ets, etype, evalue), "ch": ch, "stream": stream}
    with open(os.path.join(tmp, "expected.json"), "w") as f:
        json.dump(expected, f)
    meta = {
        "generator_version": GEN_VERSION, "seed": a.seed, "scale": a.scale,
        "table_rows": {k: v.num_rows for k, v in tables.items()},
        "table_bytes": dir_bytes(os.path.join(tmp, "tables")),
        "wire_rows": n_wire, "wire_bytes": dir_bytes(os.path.join(tmp, "wire")),
        "stream_events": stream["backlog_events"] + LIVE_FILES * LIVE_EVENTS,
        "stream_bytes": dir_bytes(os.path.join(tmp, "stream")),
    }
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f)
    shutil.rmtree(a.out, ignore_errors=True)
    os.rename(tmp, a.out)


if __name__ == "__main__":
    main()
