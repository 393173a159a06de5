"""Deterministic benchmark inputs.

Everything here is plain numpy + pyarrow, so inputs exist before any
Spark session starts and cost nothing inside a timed region.

* ``write_tables`` writes the ten registry tables (the TPC-H-ish star
  schema plus ``events``, ``documents`` and ``embeddings``) at the row
  counts of the repository's sf0.001 test tables. The table seed is a
  constant: the committed query digests are computed over exactly
  these bytes, and the run seed only orders the queries.
* ``corpus_categories`` turns documents into collector records for the
  offline ``fetch`` of ``CorpusPipeline``: the run seed picks which
  documents land in which category, which ids are cross-listed in a
  second category and which documents get a planted copy under a new
  id.
* ``store_drops`` cuts documents and vectors into seeded drops for the
  store workload, with planted copies: within the first drop, and of
  earlier drops from the second drop on.

Planted copies repeat their original's text exactly. MinHash-LSH
finds a pair of identical texts with certainty, so the checks that
rest on them cannot fail by chance.
"""

from __future__ import annotations

import datetime as dt
import functools
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 20240101
DATA_VERSION = "tables-v1"

N_CUSTOMER, N_SUPPLIER, N_PART = 150, 10, 200
N_ORDERS, N_LINEITEM, N_EVENTS = 1500, 6000, 1000
N_DOCUMENTS, N_EMBEDDINGS, EMB_DIM = 500, 500, 64
N_DOC_SOURCES, N_LABELS = 20, 10

VOCAB = ("a the agg batch big column customer data fast filter group hash "
         "join key line merge order part query row scan slow small sort "
         "spark stream table value vector window").split()
TABLE_NAMES = ("region", "nation", "customer", "supplier", "part", "orders",
               "lineitem", "events", "documents", "embeddings")


def _ts(start: str, offsets_us: np.ndarray) -> pa.Array:
    base = np.datetime64(start, "us")
    return pa.array(base + offsets_us.astype("timedelta64[us]"),
                    pa.timestamp("us"))


def _doc_text(rng: np.random.Generator) -> str:
    return " ".join(rng.choice(VOCAB, size=int(rng.integers(10, 100))))


@functools.lru_cache(maxsize=1)
def make_tables(seed: int = TABLE_SEED) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)  # noqa: E731
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(rng.integers(0, 5, 25), pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": np.arange(N_CUSTOMER, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, N_CUSTOMER),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], N_CUSTOMER)})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(N_SUPPLIER, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, N_SUPPLIER)})
    adj = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    noun = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    t["part"] = pa.table({
        "p_partkey": np.arange(N_PART, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(adj, N_PART),
                                              rng.choice(noun, N_PART))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, N_PART)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO",
                              "SMALL", "STANDARD"], N_PART),
        "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
        "p_retailprice": np.round(900.0 + np.arange(N_PART) * 0.1, 2)})
    day = 86_400_000_000
    t["orders"] = pa.table({
        "o_orderkey": np.arange(N_ORDERS, dtype=np.int64),
        "o_custkey": rng.integers(0, N_CUSTOMER, N_ORDERS),
        "o_orderstatus": rng.choice(["F", "O", "P"], N_ORDERS),
        "o_totalprice": money(1000.0, 500000.0, N_ORDERS),
        "o_orderdate": _ts("1995-01-01", rng.integers(0, 2404, N_ORDERS) * day),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], N_ORDERS)})
    qty = rng.integers(1, 51, N_LINEITEM).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, N_ORDERS, N_LINEITEM),
        "l_partkey": rng.integers(0, N_PART, N_LINEITEM),
        "l_suppkey": rng.integers(0, N_SUPPLIER, N_LINEITEM),
        "l_linenumber": pa.array(rng.integers(1, 8, N_LINEITEM), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, N_LINEITEM), 2),
        "l_discount": rng.integers(0, 11, N_LINEITEM) / 100.0,
        "l_tax": rng.integers(0, 9, N_LINEITEM) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], N_LINEITEM),
        "l_linestatus": rng.choice(["F", "O"], N_LINEITEM),
        "l_shipdate": _ts("1995-01-02", rng.integers(0, 2497, N_LINEITEM) * day)})
    t["events"] = pa.table({
        "event_id": np.arange(N_EVENTS, dtype=np.int64),
        "ts": _ts("2024-01-01", np.sort(rng.integers(0, 30 * day, N_EVENTS))),
        "user_id": rng.integers(0, 15, N_EVENTS),
        "event_type": rng.choice(["click", "error", "purchase", "signup",
                                  "view"], N_EVENTS),
        "value": np.maximum(np.round(rng.exponential(50.0, N_EVENTS), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)]})
    # 5 % of documents are planted near-duplicates of an earlier one:
    # the same text with " dup" appended (the sf-table convention)
    texts: list[str] = []
    for i in range(N_DOCUMENTS):
        if i >= 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(_doc_text(rng))
    t["documents"] = pa.table({
        "doc_id": np.arange(N_DOCUMENTS, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "en", "de", "es", "fr", "zh"], N_DOCUMENTS),
        "source": [f"src{i % N_DOC_SOURCES}" for i in range(N_DOCUMENTS)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64)})
    t["embeddings"] = make_vectors(rng, N_EMBEDDINGS, start_id=0)
    return t


def make_vectors(rng: np.random.Generator, n: int, start_id: int) -> pa.Table:
    """Unit vectors around ``N_LABELS`` fixed centres, ``embeddings``
    schema (``vec_id | embedding array<float> | label``)."""
    centres = np.random.default_rng(TABLE_SEED + 1).normal(size=(N_LABELS, EMB_DIM))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    labels = rng.integers(0, N_LABELS, n)
    vecs = centres[labels] * 0.4 + rng.normal(size=(n, EMB_DIM)) / np.sqrt(EMB_DIM)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table({
        "vec_id": np.arange(start_id, start_id + n, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


def write_tables(dest: str) -> dict[str, tuple[int, int]]:
    """Write the tables under ``dest`` once (a ``_VERSION`` marker makes
    re-runs free); return ``{name: (rows, bytes)}``."""
    marker = os.path.join(dest, "_VERSION")
    if not (os.path.exists(marker) and open(marker).read() == DATA_VERSION):
        os.makedirs(dest, exist_ok=True)
        for name, table in make_tables().items():
            pq.write_table(table, os.path.join(dest, f"{name}.parquet"))
        with open(marker, "w") as fh:
            fh.write(DATA_VERSION)
    return {n: (pq.read_metadata(os.path.join(dest, f"{n}.parquet")).num_rows,
                os.path.getsize(os.path.join(dest, f"{n}.parquet")))
            for n in TABLE_NAMES}


# ------------------------------------------------------------ corpus_build

CATEGORIES = ["cs.AI", "cs.LG"]
DOCS_PER_CATEGORY = 40
N_CROSS_LISTED = 6
N_COPIES = 6


def corpus_categories(seed: int, run_date: dt.date
                      ) -> tuple[dict[str, list[dict]], dict]:
    """Collector records per category plus what was planted.

    The documents are always the first ``DOCS_PER_CATEGORY`` per
    category of the ``documents`` table; the seed picks their order and
    category, the stamps, and which of them get a copy or a second
    category. ``published`` is stamped 1-60 days before ``run_date``, inside the
    collector's 6-month lookback, so the id-history dedup sees the same
    window whatever the calendar says."""
    rng = np.random.default_rng(seed)
    docs = make_tables()["documents"].to_pylist()
    pick = rng.permutation(len(CATEGORIES) * DOCS_PER_CATEGORY)
    cats: dict[str, list[dict]] = {c: [] for c in CATEGORIES}
    for k, i in enumerate(pick):
        d = docs[int(i)]
        cat = CATEGORIES[k % len(CATEGORIES)]
        pub = run_date - dt.timedelta(days=int(rng.integers(1, 61)))
        cats[cat].append(_record(f"doc-{d['doc_id']}", d["text"], cat, pub))
    originals = [r for recs in cats.values() for r in recs]
    copies = []
    for j, i in enumerate(rng.choice(len(originals), N_COPIES, replace=False)):
        src = originals[int(i)]
        cat = CATEGORIES[j % len(CATEGORIES)]
        rec = dict(src, entry_id=f"copy-{j}-{src['entry_id']}",
                   primary_category=cat, categories=[cat])
        cats[cat].append(rec)
        copies.append((src["entry_id"], rec["entry_id"]))
    cross = rng.choice(len(originals), N_CROSS_LISTED, replace=False)
    for i in cross:
        src = originals[int(i)]
        other = CATEGORIES[(CATEGORIES.index(src["primary_category"]) + 1)
                           % len(CATEGORIES)]
        cats[other].append(dict(src))
    for recs in cats.values():
        rng.shuffle(recs)
    fed = {r["entry_id"] for recs in cats.values() for r in recs}
    input_bytes = sum(len(json.dumps(r)) for recs in cats.values() for r in recs)
    planted = {"distinct_ids": sorted(fed), "copies": copies,
               "records_by_id": {r["entry_id"]: r for recs in cats.values()
                                 for r in recs},
               "cross_listed": len(cross),
               "records": sum(len(v) for v in cats.values()),
               "input_bytes": input_bytes}
    return cats, planted


def _record(entry_id: str, text: str, cat: str, pub: dt.date) -> dict:
    stamp = f"{pub.isoformat()}T00:00:00Z"
    return {"entry_id": entry_id, "title": f"Paper {entry_id}",
            "authors": ["Ada Writer", "Bo Author"], "summary": text,
            "primary_category": cat, "categories": [cat],
            "published": stamp, "updated": stamp, "journal_ref": None,
            "doi": None, "_corrupt_record": None}


# --------------------------------------------------------------- serve_mix

DROP_DOCS = 50
DROP_VECS = 20
COPIES_PER_DROP = 3
DOC_ID_BASE = 1_000_000


def store_drops(seed: int, n_drops: int) -> list[dict]:
    """``n_drops`` drops of ``DROP_DOCS`` documents (``documents``
    schema) and ``DROP_VECS`` vectors (``embeddings`` schema).

    Drop ``k`` always carries the same documents and vectors; the seed
    picks their order and which documents are planted again as copies:
    documents of the same drop in the first drop (the bootstrap batch
    clusters them by in-batch LSH), documents of earlier drops in every
    later one (the batch against the stored signatures). A copy always
    has a larger id than its original, so the original stays its
    cluster's canonical."""
    rng = np.random.default_rng(seed)
    base = make_tables()["documents"].to_pylist()
    drops: list[dict] = []
    next_doc = DOC_ID_BASE
    next_vec = DOC_ID_BASE
    for k in range(n_drops):
        fresh = DROP_DOCS - COPIES_PER_DROP
        rows = []
        for j in rng.permutation(fresh):
            src = base[(k * DROP_DOCS + int(j)) % len(base)]
            rows.append((next_doc, src["text"], src["lang"], src["source"]))
            next_doc += 1
        copies = []
        earlier = [r for d in drops for r in d["doc_rows"]] or list(rows)
        for i in rng.choice(len(earlier), COPIES_PER_DROP, replace=False):
            orig = earlier[int(i)]
            rows.append((next_doc, orig[1], orig[2], orig[3]))
            copies.append((orig[0], next_doc))
            next_doc += 1
        vecs = make_vectors(np.random.default_rng((TABLE_SEED, k)),
                            DROP_VECS, next_vec)
        next_vec += DROP_VECS
        drops.append({"doc_rows": rows, "copies": copies,
                      "vectors": vecs})
    return drops


def docs_table(rows: list[tuple]) -> pa.Table:
    return pa.table({
        "doc_id": pa.array([r[0] for r in rows], pa.int64()),
        "text": [r[1] for r in rows],
        "lang": [r[2] for r in rows],
        "source": [r[3] for r in rows],
        "n_chars": pa.array([len(r[1]) for r in rows], pa.int64())})
