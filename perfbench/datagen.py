"""Deterministic input tables for the benchmark.

Writes the ten tables the query registry reads (``region nation customer
supplier part orders lineitem events documents embeddings``), one parquet
file each, with the schemas and scaling laws of the shipped testdata:

    lineitem 6M*sf   orders 1.5M*sf   customer 150k*sf   part 200k*sf
    supplier 10k*sf  events 1M*sf     documents max(500, 50k*sf)
    embeddings max(500, 20k*sf)       events users ~ 15k*sf

The table *contents* depend only on ``sf`` (fixed generator seed), so the
committed expected counts in ``expected_counts.json`` hold for every run.
The workload seed only permutes the row order of the batch tables
(``order_seed``); ``events`` keeps its arrival order, because a stream's
order is part of its meaning.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
DAY_US = 86_400_000_000

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
MKTSEGMENTS = ["AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "MACHINERY", "BUILDING"]
ORDERSTATUS = ["O", "P", "F"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
LANGS = ["en", "es", "fr", "de", "zh"]
LANG_P = [0.40, 0.15, 0.15, 0.15, 0.15]
VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window",
]
PART_ADJ = ["large", "hot", "blue", "small", "red", "green", "cold", "dim"]
PART_NOUN = ["ring", "bolt", "case", "gear", "disk", "plate", "tube", "cap"]
PART_TYPES = ["LARGE", "ECONOMY", "SMALL", "STANDARD", "PROMO", "MEDIUM"]


def _pick(rng, values, n):
    return np.array(values)[rng.integers(0, len(values), n)]


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(epoch_day: str, offsets_us) -> pa.Array:
    epoch = np.datetime64(epoch_day).astype("datetime64[us]").astype(np.int64)
    return pa.array(epoch + offsets_us, pa.timestamp("us"))


def _documents(rng, n_doc: int) -> list[str]:
    """8..60-word texts over a 31-word vocabulary; ~10% near-duplicates
    (1-3 word edits of an earlier text) and ~0.2% exact duplicates."""
    vocab = np.array(VOCAB)
    lens = rng.integers(8, 61, n_doc)
    texts: list[str] = []
    for i in range(n_doc):
        r = rng.random()
        if i > 10 and r < 0.002:
            texts.append(texts[rng.integers(0, i)])
        elif i > 10 and r < 0.10:
            words = texts[rng.integers(0, i)].split(" ")
            for _ in range(rng.integers(1, 4)):
                words[rng.integers(0, len(words))] = vocab[rng.integers(0, len(vocab))]
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), lens[i])]))
    return texts


def build_tables(sf: float) -> dict[str, pa.Table]:
    """The ten tables at scale factor ``sf``, in generation order."""
    rng = np.random.default_rng(DATA_SEED)
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_evt = int(1_000_000 * sf)
    n_users = max(15, int(15_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_vec = max(500, int(20_000 * sf))
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -1000, 10_000, n_cust),
        "c_mktsegment": _pick(rng, MKTSEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -1000, 10_000, n_supp),
    })
    adj = _pick(rng, PART_ADJ, n_part)
    noun = _pick(rng, PART_NOUN, n_part)
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": np.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": _money(rng, 900, 1000, n_part),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _pick(rng, ORDERSTATUS, n_ord),
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _ts("1995-01-01", rng.integers(0, 2404, n_ord) * DAY_US),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    # ~4 lines per order; linenumber counts up within each order
    l_ok = np.sort(rng.integers(0, n_ord, n_line))
    first = np.ones(n_line, dtype=bool)
    first[1:] = l_ok[1:] != l_ok[:-1]
    idx = np.arange(n_line)
    l_ln = idx - np.maximum.accumulate(np.where(first, idx, 0)) + 1
    l_days = rng.integers(0, 2499, n_line)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_ok, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(l_ln, pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, n_line),
        "l_discount": np.round(rng.integers(0, 11, n_line) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) / 100.0, 2),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _ts("1995-01-01", l_days * DAY_US),
    })
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_evt), pa.int64()),
        "ts": _ts("2024-01-01", np.sort(rng.integers(0, 30 * DAY_US, n_evt))),
        "user_id": pa.array(rng.integers(0, n_users, n_evt), pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, n_evt),
        "value": np.round(rng.uniform(0, 1, n_evt) ** 2 * 560, 2),
        "props": np.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]),
    })
    texts = _documents(rng, n_doc)
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(len(LANGS), n_doc, p=LANG_P)],
        "source": np.array([f"src{s}" for s in rng.integers(0, 20, n_doc)]),
        "n_chars": pa.array(np.array([len(x) for x in texts]), pa.int64()),
    })
    # unit-norm 64-dim vectors around 10 label centroids
    cents = rng.normal(0, 1, (10, 64))
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)
    labels = rng.integers(0, 10, n_vec)
    vecs = cents[labels] + rng.normal(0, 0.35, (n_vec, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vecs.astype(np.float32).ravel()), 64
        ).cast(pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return t


def stage(tables: dict[str, pa.Table], outdir: str, order_seed: int | None) -> None:
    """Write ``tables`` as ``<outdir>/<name>.parquet``.  With an
    ``order_seed``, every table but ``events`` is written in a seeded
    row permutation."""
    os.makedirs(outdir, exist_ok=True)
    rng = np.random.default_rng(order_seed) if order_seed is not None else None
    for name, table in tables.items():
        if rng is not None and name != "events":
            table = table.take(pa.array(rng.permutation(table.num_rows)))
        pq.write_table(table, os.path.join(outdir, f"{name}.parquet"))
