"""Seeded inputs for the benchmark workloads.

``write_tables`` lands the ten catalog tables the query registry reads
(``sources.tables.TABLE_NAMES``) with the schemas, key ranges and value
distributions of the reference synthetic star schema: TPC-H-shaped
region/nation/customer/supplier/part/orders/lineitem, an ``events``
click stream, a 30-word ``documents`` corpus with ~5% near-duplicates
("<text of another doc> dup"), and 64-d unit ``embeddings`` in ten
labelled clusters. The tables are the same for every benchmark seed
(``TABLE_SEED``): a seed varies what a workload does with them, not
the data.

``corpus_inputs`` derives the golden-run corpus from those documents:
every document plus perturbed replicas, and a benchmark passage set.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "es", "zh", "de", "fr")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("small", "red", "blue", "hot", "old", "large", "new", "cold")
PART_NOUN = ("ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod")
PART_TYPES = ("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "view", "signup", "purchase", "error")

_DAY_US = 86_400 * 1_000_000
TABLE_SEED = 42
REPLICAS = 2  # golden-run copies of each document
N_PASSAGES = 40  # benchmark passages for decontamination


def _epoch_us(date: str) -> int:
    return int(np.datetime64(date, "us").astype(np.int64))


def _days(rng, n: int, first: str, last: str) -> np.ndarray:
    lo, hi = _epoch_us(first) // _DAY_US, _epoch_us(last) // _DAY_US
    return rng.integers(lo, hi + 1, n) * _DAY_US


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us, type=pa.timestamp("us"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, choices, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(choices, dtype=object)[rng.choice(len(choices), n, p=p)])


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def documents(rng, n: int) -> list[str]:
    """``n`` texts of 10-100 vocabulary words; ~5% are another
    document's text with a trailing `` dup`` token."""
    words = np.asarray(VOCAB, dtype=object)
    lengths = rng.integers(10, 101, n)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in lengths]
    for i in np.flatnonzero(rng.random(n) < 0.05):
        texts[i] = texts[int(rng.integers(0, n))].removesuffix(" dup") + " dup"
    return texts


def write_tables(out_dir: str, sf: float) -> str:
    """Write every catalog table for scale factor ``sf`` into ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([TABLE_SEED, 42])
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord, n_line = int(200_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_users = int(1_000_000 * sf), int(15_000 * sf)
    n_doc, n_emb = int(50_000 * sf), max(500, int(20_000 * sf))

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(REGIONS),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })
    pk = np.arange(n_part, dtype=np.int64)
    _write(out_dir, "part", {
        "p_partkey": pk,
        "p_name": pa.array(
            np.char.add(
                np.char.add(np.asarray(PART_ADJ)[rng.integers(0, 8, n_part)], " "),
                np.asarray(PART_NOUN)[rng.integers(0, 8, n_part)],
            ).astype(object)
        ),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
    })
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": _pick(rng, ("F", "O", "P"), n_ord),
        "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
        "o_orderdate": _ts(_days(rng, n_ord, "1995-01-01", "2001-08-01")),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, n_line, 900.0, 105_000.0),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(rng, ("A", "N", "R"), n_line),
        "l_linestatus": _pick(rng, ("O", "F"), n_line),
        "l_shipdate": _ts(_days(rng, n_line, "1995-01-02", "2001-11-04")),
    })
    start = _epoch_us("2024-01-01")
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(np.sort(start + rng.integers(0, 30 * _DAY_US, n_ev))),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts = documents(rng, n_doc)
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": _pick(rng, LANGS, n_doc, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(size=(10, 64))
    vecs = centers[labels] + rng.normal(scale=1.5, size=(n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return out_dir


def corpus_inputs(docs_path: str, out_dir: str, seed: int) -> tuple[str, str]:
    """Replicate a documents table into a golden-run corpus and pick
    its benchmark passages.

    Each document becomes ``REPLICAS`` rows: replica 0 is verbatim and
    replica k > 0 appends a seed-chosen vocabulary word, so replicas
    reach the near-dup stage as distinct texts. Passages are 8-token
    windows of ``N_PASSAGES`` seed-chosen documents of at least 10
    tokens.
    Returns (corpus parquet path, passages parquet path).
    """
    rng = np.random.default_rng([seed, 7])
    src = pq.read_table(docs_path, columns=["doc_id", "text", "source"]).to_pydict()
    suffix = np.asarray(VOCAB, dtype=object)[rng.integers(0, len(VOCAB), REPLICAS)]
    ids, texts, sources = [], [], []
    for doc_id, text, source in zip(src["doc_id"], src["text"], src["source"]):
        for k in range(REPLICAS):
            ids.append(doc_id * REPLICAS + k)
            texts.append(text if k == 0 else f"{text} {suffix[k]}")
            sources.append(source)
    os.makedirs(out_dir, exist_ok=True)
    corpus = os.path.join(out_dir, "corpus.parquet")
    pq.write_table(pa.table({
        "doc_id": pa.array(ids, pa.int64()), "text": texts, "source": sources,
    }), corpus)

    long_docs = [t.split() for t in src["text"] if len(t.split()) >= 10]
    picked = rng.choice(len(long_docs), min(N_PASSAGES, len(long_docs)), replace=False)
    passages = []
    for i in picked:
        toks = long_docs[i]
        at = int(rng.integers(0, len(toks) - 8 + 1))
        passages.append(" ".join(toks[at:at + 8]))
    bench = os.path.join(out_dir, "passages.parquet")
    pq.write_table(pa.table({"text": passages}), bench)
    return corpus, bench
