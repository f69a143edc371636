"""Seeded input generators for the benchmark.

Two kinds of input:

* the database: the ten parquet tables the query mixes read, in the
  schema the program's `Tables` catalog expects. It is generated from a
  fixed seed (`DATABASE_SEED`), so every run queries the same database
  and the answers of ops without a DuckDB oracle can be pinned by a
  recorded fingerprint. The workload seed varies the query order.
* the htap change stream: `events`-schema batches generated from the
  workload seed. `user_id` is Zipf-skewed over a fixed key space,
  `event_id` is monotonic across batches (it is the row version) and a
  fixed share of rows are `'error'` rows, which the program treats as
  delete marks.

Everything uses `random.Random(seed)` only, so the same seed gives
byte-identical parquet files.
"""
import bisect
import datetime as dt
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

DATABASE_SEED = 42

# Row counts of the database (the TPC-H-like star schema at SF 0.01 plus
# the LLM-curation corpus tables).
SIZES = {
    "customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
    "lineitem": 60000, "events": 10000, "documents": 500, "embeddings": 500,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["small", "red", "blue", "green", "large", "shiny", "rusty",
            "steel", "brass", "tabby", "cab9", "x2"]
PART_NOUN = ["ring", "widget", "bolt", "nut", "gear", "spring", "lab",
             "valve", "pipe", "cable"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
LANGS = ["en"] * 4 + ["de", "es", "fr", "zh"]
EMBED_DIM = 64
EMBED_LABELS = 10

EPOCH = dt.datetime(1995, 1, 1)
TS = pa.timestamp("us")


def _write(path, columns, schema):
    pq.write_table(pa.table(columns, schema=schema), path,
                   compression="snappy")


def _day(rng, first, span_days):
    return first + dt.timedelta(days=int(rng.random() * span_days))


def _money(rng, lo, hi):
    return round(lo + rng.random() * (hi - lo), 2)


def write_database(out_dir, seed=DATABASE_SEED):
    """Write the ten tables as `<out_dir>/<table>.parquet`."""
    os.makedirs(out_dir, exist_ok=True)
    rng = random.Random(seed)
    n = SIZES
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()

    _write(f"{out_dir}/region.parquet",
           {"r_regionkey": list(range(5)), "r_name": REGIONS},
           pa.schema([("r_regionkey", i32), ("r_name", s)]))
    _write(f"{out_dir}/nation.parquet",
           {"n_nationkey": list(range(25)),
            "n_name": [f"NATION_{k}" for k in range(25)],
            "n_regionkey": [k % 5 for k in range(25)]},
           pa.schema([("n_nationkey", i32), ("n_name", s), ("n_regionkey", i32)]))

    nc = n["customer"]
    _write(f"{out_dir}/customer.parquet",
           {"c_custkey": list(range(nc)),
            "c_name": [f"Customer#{k:09d}" for k in range(nc)],
            "c_nationkey": [rng.randrange(25) for _ in range(nc)],
            "c_acctbal": [_money(rng, -999.99, 9999.99) for _ in range(nc)],
            "c_mktsegment": [rng.choice(SEGMENTS) for _ in range(nc)]},
           pa.schema([("c_custkey", i64), ("c_name", s), ("c_nationkey", i32),
                      ("c_acctbal", f64), ("c_mktsegment", s)]))

    ns = n["supplier"]
    _write(f"{out_dir}/supplier.parquet",
           {"s_suppkey": list(range(ns)),
            "s_name": [f"Supplier#{k:09d}" for k in range(ns)],
            "s_nationkey": [rng.randrange(25) for _ in range(ns)],
            "s_acctbal": [_money(rng, -999.99, 9999.99) for _ in range(ns)]},
           pa.schema([("s_suppkey", i64), ("s_name", s), ("s_nationkey", i32),
                      ("s_acctbal", f64)]))

    npart = n["part"]
    _write(f"{out_dir}/part.parquet",
           {"p_partkey": list(range(npart)),
            "p_name": [f"{rng.choice(PART_ADJ)} {rng.choice(PART_NOUN)}"
                       for _ in range(npart)],
            "p_brand": [f"Brand#{rng.randrange(1, 26)}" for _ in range(npart)],
            "p_type": [rng.choice(PART_TYPES) for _ in range(npart)],
            "p_size": [rng.randrange(1, 51) for _ in range(npart)],
            "p_retailprice": [round(900 + (k % 1000) / 10, 2) for k in range(npart)]},
           pa.schema([("p_partkey", i64), ("p_name", s), ("p_brand", s),
                      ("p_type", s), ("p_size", i32), ("p_retailprice", f64)]))

    no = n["orders"]
    _write(f"{out_dir}/orders.parquet",
           {"o_orderkey": list(range(no)),
            "o_custkey": [rng.randrange(nc) for _ in range(no)],
            "o_orderstatus": [rng.choice("FOP") for _ in range(no)],
            "o_totalprice": [_money(rng, 1000, 500000) for _ in range(no)],
            "o_orderdate": [_day(rng, EPOCH, 2404) for _ in range(no)],
            "o_orderpriority": [rng.choice(PRIORITIES) for _ in range(no)]},
           pa.schema([("o_orderkey", i64), ("o_custkey", i64),
                      ("o_orderstatus", s), ("o_totalprice", f64),
                      ("o_orderdate", TS), ("o_orderpriority", s)]))

    nl = n["lineitem"]
    cols = {k: [] for k in ["l_orderkey", "l_partkey", "l_suppkey",
                            "l_linenumber", "l_quantity", "l_extendedprice",
                            "l_discount", "l_tax", "l_returnflag",
                            "l_linestatus", "l_shipdate"]}
    for _ in range(nl):
        qty = float(rng.randrange(1, 51))
        cols["l_orderkey"].append(rng.randrange(no))
        cols["l_partkey"].append(rng.randrange(npart))
        cols["l_suppkey"].append(rng.randrange(ns))
        cols["l_linenumber"].append(rng.randrange(1, 8))
        cols["l_quantity"].append(qty)
        cols["l_extendedprice"].append(round(qty * _money(rng, 900, 2000), 2))
        cols["l_discount"].append(rng.randrange(11) / 100)
        cols["l_tax"].append(rng.randrange(9) / 100)
        cols["l_returnflag"].append(rng.choice("ANR"))
        cols["l_linestatus"].append(rng.choice("FO"))
        cols["l_shipdate"].append(_day(rng, EPOCH + dt.timedelta(days=1), 2498))
    _write(f"{out_dir}/lineitem.parquet", cols,
           pa.schema([("l_orderkey", i64), ("l_partkey", i64), ("l_suppkey", i64),
                      ("l_linenumber", i32), ("l_quantity", f64),
                      ("l_extendedprice", f64), ("l_discount", f64),
                      ("l_tax", f64), ("l_returnflag", s), ("l_linestatus", s),
                      ("l_shipdate", TS)]))

    ne = n["events"]
    _write(f"{out_dir}/events.parquet",
           events_columns(rng, 0, ne, user_of=lambda r: r.randrange(150),
                          t0=dt.datetime(2024, 1, 1), gap_s=259.2),
           EVENTS_SCHEMA)

    nd = n["documents"]
    texts, langs, sources = [], [], []
    for k in range(nd):
        if k > 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document, for the dedup ops
            texts.append(texts[rng.randrange(k)] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS)
                                  for _ in range(rng.randrange(10, 100))))
        langs.append(rng.choice(LANGS))
        sources.append(f"src{rng.randrange(20)}")
    _write(f"{out_dir}/documents.parquet",
           {"doc_id": list(range(nd)), "text": texts, "lang": langs,
            "source": sources, "n_chars": [len(t) for t in texts]},
           pa.schema([("doc_id", i64), ("text", s), ("lang", s),
                      ("source", s), ("n_chars", i64)]))

    nv = n["embeddings"]
    centers = [[rng.gauss(0, 1) for _ in range(EMBED_DIM)]
               for _ in range(EMBED_LABELS)]
    vecs, labels = [], []
    for _ in range(nv):
        label = rng.randrange(EMBED_LABELS)
        v = [c * 0.3 + rng.gauss(0, 1) for c in centers[label]]
        norm = sum(x * x for x in v) ** 0.5
        vecs.append([x / norm for x in v])
        labels.append(label)
    _write(f"{out_dir}/embeddings.parquet",
           {"vec_id": list(range(nv)), "embedding": vecs, "label": labels},
           pa.schema([("vec_id", i64), ("embedding", pa.list_(pa.float32())),
                      ("label", i32)]))


EVENTS_SCHEMA = pa.schema([
    ("event_id", pa.int64()), ("ts", TS), ("user_id", pa.int64()),
    ("event_type", pa.string()), ("value", pa.float64()), ("props", pa.string())])


def events_columns(rng, first_id, count, user_of, t0, gap_s,
                   error_share=None):
    """`count` events with ids first_id.. in the events schema.

    With `error_share` set, that share of rows are 'error' rows (delete
    marks) and the other types are drawn uniformly; otherwise all five
    types are uniform."""
    cols = {k: [] for k in EVENTS_SCHEMA.names}
    for j in range(count):
        eid = first_id + j
        if error_share is None:
            etype = rng.choice(EVENT_TYPES)
        elif rng.random() < error_share:
            etype = "error"
        else:
            etype = rng.choice(EVENT_TYPES[:-1])
        cols["event_id"].append(eid)
        cols["ts"].append(t0 + dt.timedelta(seconds=eid * gap_s))
        cols["user_id"].append(user_of(rng))
        cols["event_type"].append(etype)
        cols["value"].append(round(rng.random() * 500, 2))
        cols["props"].append('{"k": %d}' % rng.randrange(100))
    return cols


# htap change stream
HTAP_KEYS = 2000          # fixed key space of user_id
HTAP_ZIPF_S = 1.1         # Zipf exponent of user_id
HTAP_ERROR_SHARE = 0.1    # share of 'error' (delete-mark) rows
HTAP_BATCH_ROWS = 2000    # rows per batch; the MV check relies on it being fixed
HTAP_T0 = dt.datetime(2024, 3, 1)
HTAP_GAP_S = 60.0         # event-time spacing: 1440 events per day


def zipf_sampler(keys, s):
    """Inverse-CDF sampler of a Zipf(s) rank over `keys` keys."""
    cdf, total = [], 0.0
    for k in range(1, keys + 1):
        total += 1.0 / k ** s
        cdf.append(total)
    return lambda rng: min(bisect.bisect_left(cdf, rng.random() * total), keys - 1)


def write_htap_batches(out_dir, seed, count):
    """Write `count` change batches as `<out_dir>/batch-<i>.parquet`."""
    os.makedirs(out_dir, exist_ok=True)
    rng = random.Random(seed)
    user_of = zipf_sampler(HTAP_KEYS, HTAP_ZIPF_S)
    paths = []
    for i in range(count):
        cols = events_columns(rng, i * HTAP_BATCH_ROWS, HTAP_BATCH_ROWS,
                              user_of, HTAP_T0, HTAP_GAP_S,
                              error_share=HTAP_ERROR_SHARE)
        path = f"{out_dir}/batch-{i:05d}.parquet"
        _write(path, cols, EVENTS_SCHEMA)
        paths.append(path)
    return paths


def query_rounds(mix, seed, rounds):
    """The seeded query order: one shuffled copy of `mix` per round."""
    rng = random.Random(seed)
    out = []
    for _ in range(rounds):
        order = list(mix)
        rng.shuffle(order)
        out.append(order)
    return out
