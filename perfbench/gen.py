"""Seeded input generator for the graft benchmark.

Writes the table layout the engine's loaders read (`<dir>/<table>.parquet`,
one file per table) with the shapes and value domains of the engine's
synthetic corpus: a TPC-H-like star schema, a 30-day `events` stream
(locations are `user_id`s), a small document corpus and an embedding table.
The same (scale factor, seed) always gives the same tables.

With `batches`, it also writes the ingest phase's release schedule: one
parquet file per event-time day (`batch_00.parquet` ...). A seeded share
of each day's rows is held back into the next day's file as late data.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
DAYS = 30
EPOCH = dt.datetime(2024, 1, 1)
WORDS = ("a the data spark stream window merge table column vector value small "
         "join filter big group hash customer sort order slow line part fast "
         "row agg key query scan batch").split()
LANGS = (["en"] * 41 + ["zh"] * 15 + ["de"] * 14 + ["fr"] * 15 + ["es"] * 15)
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def sizes(sf):
    n = lambda k, floor=1: max(floor, int(round(k * sf)))
    return {
        "events": n(1_000_000, 1000), "locations": n(15_000, 15),
        "customer": n(150_000, 150), "orders": n(1_500_000, 1500),
        "lineitem": n(6_000_000, 6000), "part": n(200_000, 200),
        "supplier": n(10_000, 10), "documents": n(50_000, 500),
        "embeddings": n(20_000, 500),
    }


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def events(rng, sz):
    n, locs = sz["events"], sz["locations"]
    span = DAYS * 86_400_000_000
    off = np.unique(rng.integers(0, span, size=n + n // 10 + 16))
    off = np.sort(rng.choice(off, size=n, replace=False))
    ts = np.datetime64(EPOCH, "us") + off.astype("timedelta64[us]")
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, locs, size=n, dtype=np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, size=n)]),
        "value": pa.array(np.round(rng.exponential(50.0, size=n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)]),
    })


def tpch(rng, sz):
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS)})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))})
    nc, ns, npart = sz["customer"], sz["supplier"], sz["part"]
    no, nl = sz["orders"], sz["lineitem"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, size=nc, dtype=np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, size=nc), 2)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, size=nc)])})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": pa.array(rng.integers(0, 25, size=ns, dtype=np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, size=ns), 2))})
    adj = np.array(PART_ADJ)[rng.integers(0, len(PART_ADJ), size=npart)]
    noun = np.array(PART_NOUN)[rng.integers(0, len(PART_NOUN), size=npart)]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart, dtype=np.int64)),
        "p_name": pa.array(np.char.add(np.char.add(adj, " "), noun)),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, size=npart)]),
        "p_type": pa.array(np.array(PART_TYPES)[rng.integers(0, 6, size=npart)]),
        "p_size": pa.array(rng.integers(1, 51, size=npart, dtype=np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 2))})
    odays = rng.integers(0, 2404, size=no)  # 1995-01-01 .. 2001-08-01
    base = np.datetime64("1995-01-01", "us")
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, nc, size=no, dtype=np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, size=no)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, size=no), 2)),
        "o_orderdate": pa.array(base + (odays * 86_400_000_000).astype("timedelta64[us]"),
                                type=pa.timestamp("us")),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, size=no)])})
    lorder = rng.integers(0, no, size=nl, dtype=np.int64)
    qty = rng.integers(1, 51, size=nl).astype(np.float64)
    ship = odays[lorder] + rng.integers(1, 122, size=nl)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(lorder),
        "l_partkey": pa.array(rng.integers(0, npart, size=nl, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, ns, size=nl, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, size=nl, dtype=np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, size=nl), 2)),
        "l_discount": pa.array(rng.integers(0, 11, size=nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, size=nl) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, size=nl)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, size=nl)]),
        "l_shipdate": pa.array(base + (ship * 86_400_000_000).astype("timedelta64[us]"),
                               type=pa.timestamp("us"))})
    return out


def documents(rng, sz):
    n = sz["documents"]
    texts = []
    for i in range(n):
        r = rng.random()
        if i > 0 and r < 0.05:      # near-duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 0 and r < 0.052:   # exact duplicate
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), size=k)]))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.integers(0, len(LANGS), size=n)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))})


def embeddings(rng, sz, dim=64):
    n = sz["embeddings"]
    x = rng.normal(size=(n, dim)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, size=n, dtype=np.int32))})


def day_batches(rng, ev, late_share):
    """Split `events` into DAYS event-time batches; a `late_share` of each
    day's rows (all days but the last) is released with the next day."""
    ts = ev.column("ts").to_numpy()
    day = ((ts - np.datetime64(EPOCH, "us")) // np.timedelta64(1, "D")).astype(int)
    late = (rng.random(len(day)) < late_share) & (day < DAYS - 1)
    release = day + late
    return [ev.filter(pa.array(release == d)) for d in range(DAYS)], int(late.sum())


def generate(out, sf, seed, tables=None, batches=None, late_share=0.02):
    # One generator stream per table, so the events (and hence every
    # serve/ingest input) are identical whichever other tables are written.
    seqs = np.random.SeedSequence(seed).spawn(5)
    rngs = [np.random.default_rng(s) for s in seqs]
    sz = sizes(sf)
    os.makedirs(out, exist_ok=True)
    want = set(tables or ["events", "tpch", "documents", "embeddings"])
    info = {"sf": sf, "seed": seed, "sizes": sz}
    ev = events(rngs[0], sz)
    if "events" in want:
        _write(ev, os.path.join(out, "events.parquet"))
    if "tpch" in want:
        for name, t in tpch(rngs[1], sz).items():
            _write(t, os.path.join(out, f"{name}.parquet"))
    if "documents" in want:
        _write(documents(rngs[2], sz), os.path.join(out, "documents.parquet"))
    if "embeddings" in want:
        _write(embeddings(rngs[3], sz), os.path.join(out, "embeddings.parquet"))
    if batches:
        os.makedirs(batches, exist_ok=True)
        parts, n_late = day_batches(rngs[4], ev, late_share)
        for i, t in enumerate(parts):
            _write(t, os.path.join(batches, f"batch_{i:02d}.parquet"))
        info.update(batches=len(parts), late_rows=n_late, late_share=late_share,
                    batch_rows=[t.num_rows for t in parts])
    return info
