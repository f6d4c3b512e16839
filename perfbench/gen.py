"""Seeded input generator for the benchmark.

Writes the ten tables graft's query modules read (`region nation customer
supplier part orders lineitem events documents embeddings`) as parquet,
with the same schemas and value shapes as the project's test data. The
same (seed, scale) always gives byte-identical tables. graft only ever
sees the files written here.
"""
import datetime as dt
import pathlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a agg batch big column customer data dup fast filter group hash join "
         "key line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.13, 0.15]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
COLORS = "blue old small new hot large cold red".split()
THINGS = "widget gizmo ring gear bolt plate anvil rod".split()
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
TS_US = pa.timestamp("us")


def _days(rng, n, start, end):
    span = (end - start).days
    d = rng.integers(0, span + 1, n)
    base = np.datetime64(start.isoformat(), "us")
    return base + d.astype("timedelta64[D]").astype("timedelta64[us]")


def _write(out, name, cols):
    pq.write_table(pa.table(cols), out / f"{name}.parquet")


def events_table(seed, n, first_id=0):
    """`n` events with ids first_id.., increasing timestamps over 30 days."""
    rng = np.random.default_rng([seed, 1])
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 1_000_000, n))
    users = max(1, n // 66)
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
        "ts": pa.array(start + offs.astype("timedelta64[us]"), TS_US),
        "user_id": pa.array(rng.integers(0, users, n, dtype=np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
        "value": pa.array(np.round(np.maximum(rng.exponential(50.0, n), 0.01), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def document_rows(rng, first_id, n):
    words = np.array(WORDS)
    ids, texts, langs, srcs = [], [], [], []
    for i in range(n):
        k = int(rng.integers(8, 90))
        t = " ".join(words[rng.integers(0, len(WORDS), k)])
        ids.append(first_id + i)
        texts.append(t)
        langs.append(LANGS[int(rng.choice(5, p=LANG_P))])
        srcs.append(f"src{int(rng.integers(0, 20))}")
    return {"doc_id": ids, "text": texts, "lang": langs, "source": srcs,
            "n_chars": [len(t) for t in texts]}


def documents_table(rows):
    return pa.table({
        "doc_id": pa.array(rows["doc_id"], pa.int64()),
        "text": pa.array(rows["text"], pa.string()),
        "lang": pa.array(rows["lang"], pa.string()),
        "source": pa.array(rows["source"], pa.string()),
        "n_chars": pa.array(rows["n_chars"], pa.int64()),
    })


def embeddings_table(rng, n, dim=64, labels=10):
    cent = rng.normal(0.0, 1.0, (labels, dim))
    lab = rng.integers(0, labels, n)
    v = cent[lab] + rng.normal(0.0, 0.9, (n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(lab.astype(np.int32)),
    })


def write_all(out, seed, scale, docs_seed=None):
    """All ten tables at `scale` (1.0 = 60k lineitem rows, 10k events,
    500 documents and embeddings). Documents come from `docs_seed` when
    given, and are written as a directory so that files can be appended."""
    out = pathlib.Path(out)
    out.mkdir(parents=True, exist_ok=True)
    rng = np.random.default_rng([seed, 0])
    n_supp = max(10, int(100 * scale))
    n_cust = max(50, int(1500 * scale))
    n_part = max(100, int(2000 * scale))
    n_ord = max(200, int(15000 * scale))
    n_li = max(800, int(60000 * scale))
    n_docs = max(100, int(500 * scale))

    _write(out, "region", {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                           "r_name": REGIONS})
    _write(out, "nation", {"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                           "n_name": [f"NATION_{i}" for i in range(25)],
                           "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2))})
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)])})
    pk = np.arange(n_part, dtype=np.int64)
    _write(out, "part", {
        "p_partkey": pa.array(pk),
        "p_name": [f"{COLORS[a]} {THINGS[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": pa.array(np.array(PART_TYPES)[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) * 0.1, 2))})
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, n_ord), 2)),
        "o_orderdate": pa.array(_days(rng, n_ord, dt.date(1995, 1, 1), dt.date(2001, 8, 1)), TS_US),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_ord)])})
    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900.0, 105000.0, n_li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_li)]),
        "l_shipdate": pa.array(_days(rng, n_li, dt.date(1995, 1, 2), dt.date(2001, 11, 4)), TS_US)})
    pq.write_table(events_table(seed, max(1000, int(10000 * scale))), out / "events.parquet")
    docs = documents_table(document_rows(
        np.random.default_rng([seed if docs_seed is None else docs_seed, 2]), 0, n_docs))
    (out / "documents.parquet").mkdir(exist_ok=True)
    pq.write_table(docs, out / "documents.parquet" / "part-0.parquet")
    pq.write_table(embeddings_table(np.random.default_rng([seed, 3]), n_docs),
                   out / "embeddings.parquet")


def write_clones(docs_dir, out_file, seed, n):
    """`n` copies of existing documents with fresh doc_ids above every
    existing one."""
    base = pq.read_table(pathlib.Path(docs_dir) / "part-0.parquet").to_pydict()
    rng = np.random.default_rng([seed, 4])
    pick = rng.choice(len(base["doc_id"]), n, replace=False)
    rows = {c: [base[c][i] for i in pick] for c in base}
    first = max(base["doc_id"]) + 1
    rows["doc_id"] = list(range(first, first + n))
    pq.write_table(documents_table(rows), out_file)
