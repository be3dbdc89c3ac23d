"""Seeded input generator for the graft benchmark.

Every input the program sees is a parquet file written here from a numpy
PCG64 stream keyed by the seed: the same seed gives byte-identical files,
another seed gives different ones. Nothing else is read by the program.

Shapes follow the sf-scaled test tables (TPC-H-ish star schema, an `events`
stream, `documents` and `embeddings`):

    python3 perfbench/gen.py <out_dir> <workload> <seed> [--probes]
"""
import datetime as dt
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
EPOCH_2024 = dt.datetime(2024, 1, 1)
DAY_US = 86_400_000_000

# alert_tick: days of event history, one tick windows one day
TICK_DAYS = 7
TICK_EVENTS_PER_DAY = 3_300
# stream_ingest: arrival batches released one per cycle
STREAM_BATCHES = 80
STREAM_BATCH_EVENTS = 4_000
STREAM_BATCH_SPAN_US = 3_600_000_000  # one hour of event time per batch
CORPUS_SOURCES = 20


def _write(table, path):
    # fixed writer settings and no pandas metadata: byte-identical output
    pq.write_table(table, path, compression="snappy", use_dictionary=True,
                   write_statistics=True, row_group_size=1 << 20)


def _ts(us):
    return pa.array(np.asarray(us, dtype=np.int64), type=pa.int64()).cast(
        pa.timestamp("us"))


def _epoch_us(d):
    return int((d - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000


def _events(rng, n, start_us, span_us, first_id=0):
    ts = np.sort(start_us + rng.integers(0, span_us, n))
    return {
        "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, 1500, n),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": np.array([f'{{"k": {k}}}' for k in range(100)])[
            rng.integers(0, 100, n)],
    }


def _events_table(cols):
    return pa.table({
        "event_id": pa.array(cols["event_id"], pa.int64()),
        "ts": _ts(cols["ts"]),
        "user_id": pa.array(cols["user_id"], pa.int64()),
        "event_type": pa.array(cols["event_type"], pa.string()),
        "value": pa.array(cols["value"], pa.float64()),
        "props": pa.array(cols["props"], pa.string()),
    })


def _texts(rng, n, lo, hi):
    lens = rng.integers(lo, hi + 1, n)
    idx = rng.integers(0, len(WORDS), int(lens.sum()))
    words = np.array(WORDS)[idx]
    out, pos = [], 0
    for ln in lens:
        out.append(" ".join(words[pos:pos + ln]))
        pos += ln
    return out


def _documents_table(texts, rng):
    n = len(texts)
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(np.array(LANGS)[rng.choice(5, n, p=LANG_P)]),
        "source": pa.array(np.array(
            [f"src{i}" for i in range(CORPUS_SOURCES)])[
                rng.integers(0, CORPUS_SOURCES, n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings_table(rng, n, dim=64, labels=10):
    centers = rng.normal(0, 1, (labels, dim))
    label = rng.integers(0, labels, n)
    v = centers[label] + rng.normal(0, 1.5, (n, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    flat = pa.array(v.astype(np.float32).ravel(), pa.float32())
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32)), flat)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": emb,
        "label": pa.array(label.astype(np.int32)),
    })


def sf_tables(out, rng, sf):
    """The ten sf-shaped tables every SparkEntry query reads."""
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc = n_vec = int(50_000 * sf)
    region = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    _write(pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(region)}), f"{out}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))}),
        f"{out}/nation.parquet")
    seg = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                    "MACHINERY"])
    _write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": pa.array(seg[rng.integers(0, 5, n_cust)])}),
        f"{out}/customer.parquet")
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2))}),
        f"{out}/supplier.parquet")
    adj = ["red", "new", "hot", "small", "cold", "big", "old", "blue"]
    noun = ["bolt", "anvil", "ring", "rod", "plate", "gear", "widget", "nut"]
    names = np.array([f"{a} {b}" for a in adj for b in noun])
    ptypes = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                       "STANDARD"])
    price = np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)
    _write(pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array(names[rng.integers(0, len(names), n_part)]),
        "p_brand": pa.array(np.array([f"Brand#{i}" for i in range(1, 26)])[
            rng.integers(0, 25, n_part)]),
        "p_type": pa.array(ptypes[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(price)}), f"{out}/part.parquet")
    d0 = _epoch_us(dt.datetime(1995, 1, 1))
    odate = d0 + rng.integers(0, 2404, n_ord) * DAY_US
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[
            rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, n_ord), 2)),
        "o_orderdate": _ts(odate),
        "o_orderpriority": pa.array(np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])[
                rng.integers(0, 5, n_ord)])}), f"{out}/orders.parquet")
    lok = rng.integers(0, n_ord, n_line)
    lpk = rng.integers(0, n_part, n_line)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    _write(pa.table({
        "l_orderkey": pa.array(lok),
        "l_partkey": pa.array(lpk),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * price[lpk] * 2.1, 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[
            rng.integers(0, 3, n_line)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[
            rng.integers(0, 2, n_line)]),
        "l_shipdate": _ts(odate[lok] + rng.integers(1, 122, n_line) * DAY_US)}),
        f"{out}/lineitem.parquet")
    _write(_events_table(_events(rng, n_ev, _epoch_us(EPOCH_2024),
                                 30 * DAY_US)), f"{out}/events.parquet")
    texts = _texts(rng, n_doc, 10, 100)
    for i in rng.choice(n_doc, n_doc // 20, replace=False):
        j = int(rng.integers(0, n_doc))
        w = texts[j].split(" ")
        w.insert(int(rng.integers(0, len(w) + 1)), "dup")
        texts[i] = " ".join(w)
    for i in rng.choice(n_doc, 8, replace=False):
        texts[i] = texts[int(rng.integers(0, n_doc))]
    _write(_documents_table(texts, rng), f"{out}/documents.parquet")
    _write(_embeddings_table(rng, n_vec), f"{out}/embeddings.parquet")


def tick_events(out, rng):
    """`events` for alert_tick: TICK_DAYS days of history."""
    n = TICK_DAYS * TICK_EVENTS_PER_DAY
    _write(_events_table(_events(rng, n, _epoch_us(EPOCH_2024),
                                 TICK_DAYS * DAY_US)), f"{out}/events.parquet")


def stream_batches(out, rng, batches=STREAM_BATCHES, size=STREAM_BATCH_EVENTS):
    """Arrival files in event-time order. Each batch repeats 2% of its own
    rows and replays 3% of the previous batch (same ids), so the dedup
    state has work; the rule emits each alert id once."""
    os.makedirs(f"{out}/arrivals", exist_ok=True)
    start = _epoch_us(EPOCH_2024)
    prev = None
    next_id = 0
    for b in range(batches):
        cols = _events(rng, size, start + b * STREAM_BATCH_SPAN_US,
                       STREAM_BATCH_SPAN_US, next_id)
        next_id += size
        parts = [(cols, np.sort(rng.choice(size, size // 50, replace=False)))]
        if prev is not None:
            parts.append((prev, np.sort(rng.choice(
                size, size * 3 // 100, replace=False))))
        merged = {k: np.concatenate([cols[k]] + [p[k][ix] for p, ix in parts])
                  for k in cols}
        _write(_events_table(merged), f"{out}/arrivals/batch-{b:04d}.parquet")
        prev = cols


def probe(out, rng):
    """Small inputs for the traced run's one-shot layer probes: the sf0.01
    tables and a few arrival batches."""
    os.makedirs(out, exist_ok=True)
    sf_tables(out, rng, sf=0.01)
    stream_batches(out, rng, batches=2, size=2_000)


def generate(out, workload, seed, probes=False):
    os.makedirs(out, exist_ok=True)
    rng = np.random.Generator(np.random.PCG64(seed))
    if probes:
        probe(f"{out}/probe", np.random.Generator(np.random.PCG64(seed + 1)))
    if workload == "alert_tick":
        tick_events(out, rng)
    elif workload == "stream_ingest":
        stream_batches(out, rng)
    else:
        raise ValueError(f"unknown workload {workload}")


if __name__ == "__main__":
    generate(sys.argv[1], sys.argv[2], int(sys.argv[3]),
             probes="--probes" in sys.argv[4:])
