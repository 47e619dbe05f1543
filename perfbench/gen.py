"""Seeded input generator for the graft benchmark.

Writes the ten TPC-H-ish tables graft's operators read (one parquet file
each, with the schema and value distributions of the test tables that
TESTDATA.md describes) into a directory, so the program only ever sees
generated inputs. The seed changes the rows themselves, not only their
order.

Three generators:

* ``tables(dir, sf, seed)``: one scale-factor-shaped table set;
* ``corpus_4x(dir, sf, seed)``: a 4x replication of a table set that
  follows the rehearsal recipe's id-offset scheme (replica ids shifted by
  ``copy * 10_000_000``), with replica document text and vectors
  perturbed so copies are near-duplicates rather than exact ones;
* ``daily(dir, sf, days, seed)``: per-day event slices plus, per day, the
  inserted purchase rows and the late label updates for them.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

OFFSET = 10_000_000
WORDS = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
ADJ = "small red blue hot cold old new large".split()
NOUN = "bolt gear anvil ring widget rod plate gizmo".split()
SEGMENTS = "MACHINERY AUTOMOBILE BUILDING HOUSEHOLD FURNITURE".split()
PTYPES = "ECONOMY STANDARD LARGE SMALL MEDIUM PROMO".split()
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
DAY_US = 86_400_000_000
JAN_2024_US = 1_704_067_200_000_000
DIM = 64


def _write(dir_, name, cols):
    pq.write_table(pa.table(cols), os.path.join(dir_, f"{name}.parquet"))


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _dates(rng, n, lo, hi):
    """Whole-day timestamps in [lo, hi] (epoch-day numbers)."""
    return _ts(rng.integers(lo, hi + 1, n) * DAY_US)


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _events(rng, n, users, t0_us, span_us, first_id=0):
    ts = np.sort(rng.integers(t0_us, t0_us + span_us, n))
    return {
        "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "ts": _ts(ts),
        "user_id": rng.integers(0, users, n).astype(np.int64),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n)),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    }


def _documents(rng, n):
    texts = []
    for i in range(n):
        # ~5 % of documents are near-duplicates of an earlier one
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))))
    return texts


def _embeddings(rng, n):
    centres = rng.normal(0.0, 1.0, (10, DIM))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    label = rng.integers(0, 10, n)
    raw = 0.14 * centres[label] + rng.normal(0.0, 0.125, (n, DIM))
    return (raw / np.linalg.norm(raw, axis=1, keepdims=True)).astype(np.float32), label


def _vectors(v):
    return pa.array(list(v), type=pa.list_(pa.float32()))


def tables(dir_, sf, seed, docs=500, vectors=500):
    """One table set shaped like the test tables at scale factor ``sf``."""
    os.makedirs(dir_, exist_ok=True)
    rng = np.random.default_rng(seed)
    nc, ns, np_ = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    no, nl, ne = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    _write(dir_, "region", {"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": REGIONS})
    _write(dir_, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(dir_, "customer", {
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": _money(rng, nc, -999.99, 9999.99),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, nc))})
    _write(dir_, "supplier", {
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": _money(rng, ns, -999.99, 9999.99)})
    keys = np.arange(np_, dtype=np.int64)
    _write(dir_, "part", {
        "p_partkey": keys,
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, np_), rng.integers(0, 8, np_))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, np_)],
        "p_type": pa.array(rng.choice(PTYPES, np_)),
        "p_size": rng.integers(1, 51, np_).astype(np.int32),
        "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 1)})
    # 1995-01-01 .. 2001-08-01 and 1995-01-02 .. 2001-11-04 as epoch days
    _write(dir_, "orders", {
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], no)),
        "o_totalprice": _money(rng, no, 1000.0, 500_000.0),
        "o_orderdate": _dates(rng, no, 9131, 11535),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, no))})
    _write(dir_, "lineitem", {
        "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
        "l_partkey": rng.integers(0, np_, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, nl, 900.0, 105_000.0),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], nl)),
        "l_linestatus": pa.array(rng.choice(["O", "F"], nl)),
        "l_shipdate": _dates(rng, nl, 9132, 11630)})
    _write(dir_, "events", _events(rng, ne, max(10, int(15_000 * sf)),
                                   JAN_2024_US, 30 * DAY_US))
    texts = _documents(rng, docs)
    _write(dir_, "documents", {
        "doc_id": np.arange(docs, dtype=np.int64),
        "text": texts,
        "lang": pa.array(rng.choice(LANGS, docs, p=LANG_P)),
        "source": [f"src{i % 20}" for i in range(docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    emb, label = _embeddings(rng, vectors)
    _write(dir_, "embeddings", {
        "vec_id": np.arange(vectors, dtype=np.int64),
        "embedding": _vectors(emb),
        "label": label.astype(np.int32)})


def _perturb(rng, text):
    """A near-duplicate: ~4 % of words replaced, sometimes one dropped."""
    words = text.split()
    for i in np.nonzero(rng.random(len(words)) < 0.04)[0]:
        words[i] = WORDS[int(rng.integers(0, len(WORDS)))]
    if len(words) > 12 and rng.random() < 0.3:
        del words[int(rng.integers(0, len(words)))]
    return " ".join(words)


SHIFTED = {"part": ["p_partkey"], "orders": ["o_orderkey"],
           "lineitem": ["l_orderkey", "l_partkey"], "events": ["event_id"],
           "documents": ["doc_id"], "embeddings": ["vec_id"]}


def corpus_4x(dir_, sf, seed, docs=500, vectors=500, factor=4):
    """A ``factor``-way replication of one table set: ids shift by
    ``copy * OFFSET`` in the replicated tables, dimension keys stay put,
    and replica documents/vectors are perturbed near-duplicates."""
    base = dir_ + ".base"
    tables(base, sf, seed, docs, vectors)
    os.makedirs(dir_, exist_ok=True)
    rng = np.random.default_rng(seed + 1)
    for name in ("region", "nation", "customer", "supplier"):
        os.replace(os.path.join(base, f"{name}.parquet"),
                   os.path.join(dir_, f"{name}.parquet"))
    for name, keys in SHIFTED.items():
        src = pq.read_table(os.path.join(base, f"{name}.parquet"))
        parts = []
        for copy in range(factor):
            t = src
            for k in keys:
                i = t.schema.get_field_index(k)
                t = t.set_column(i, k, pa.array(
                    t.column(k).to_numpy() + copy * OFFSET, pa.int64()))
            if copy and name == "documents":
                texts = [_perturb(rng, s) for s in t.column("text").to_pylist()]
                t = t.set_column(t.schema.get_field_index("text"), "text",
                                 pa.array(texts))
                t = t.set_column(t.schema.get_field_index("n_chars"), "n_chars",
                                 pa.array([len(s) for s in texts], pa.int64()))
            if copy and name == "embeddings":
                v = np.stack(t.column("embedding").to_numpy(zero_copy_only=False))
                v = v + rng.normal(0.0, 0.01, v.shape)
                v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
                t = t.set_column(t.schema.get_field_index("embedding"),
                                 "embedding", _vectors(v))
            parts.append(t)
        pq.write_table(pa.concat_tables(parts), os.path.join(dir_, f"{name}.parquet"))
        os.remove(os.path.join(base, f"{name}.parquet"))
    os.rmdir(base)


def daily(dir_, sf, days, seed):
    """Day slices for the daily lifecycle: ``events_dNN.parquet`` (the
    day's event stream, ``ts`` as epoch nanoseconds, the streaming
    source's schema), ``insert_dNN.parquet`` (the day's purchases, label
    unknown) and ``label_dNN.parquet`` (the late labels for the same
    purchases, committed the next day)."""
    os.makedirs(dir_, exist_ok=True)
    rng = np.random.default_rng(seed)
    per_day, users, next_id = int(1_000_000 * sf / 30), max(10, int(15_000 * sf)), 0
    for d in range(days):
        ev = _events(rng, per_day, users, JAN_2024_US + d * DAY_US, DAY_US, next_id)
        next_id += per_day
        ev["ts"] = ev["ts"].cast(pa.int64()).to_numpy() * 1000
        del ev["props"]
        _write(dir_, f"events_d{d:02d}", ev)
        buy = np.asarray(ev["event_type"].to_pylist()) == "purchase"
        rows = {k: ev[k][buy] for k in ("event_id", "user_id", "ts", "value")}
        n = int(buy.sum())
        _write(dir_, f"insert_d{d:02d}", dict(rows, label=pa.nulls(n, pa.string())))
        won = rng.random(n) < 0.5
        _write(dir_, f"label_d{d:02d}",
               dict(rows, label=pa.array(np.where(won, "win", "loss"))))


def input_stats(dir_):
    """Rows and bytes of every parquet file under ``dir_``."""
    rows = size = 0
    for root, _, files in os.walk(dir_):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(root, f)
                rows += pq.read_metadata(p).num_rows
                size += os.path.getsize(p)
    return rows, size
