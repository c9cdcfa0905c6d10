"""Seeded inputs for the head queries and the corpus pipeline.

``write_query_tables``: the sf-shaped tables the head queries read,
with the same dtypes, string formats and cardinality ratios as the
engine's scale-factor fixtures (FIXTURES.md §1); counts scale linearly
with ``sf`` (sf0.1 = 600k lineitem rows). ``write_corpus``: a
5,000-document corpus whose duplicate, near-duplicate, filtered and
contaminated documents are planted in fixed numbers. Parquet files
are written with multiple row groups.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
STATUSES = ["O", "F", "P"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
LANGS = ["de", "zh", "fr", "en", "es"]
VOCAB = (
    "batch part spark line column order small sort fast value scan hash "
    "slow group agg filter query a big key window row table stream merge "
    "data vector join scan read write disk page block node plan cost"
).split()

DAY_US = 86_400_000_000
EPOCH_1995_DAYS = int((np.datetime64("1995-01-01", "D") - np.datetime64("1970-01-01", "D")).astype(int))


def _days_ts(rng: np.random.Generator, n: int, days: int) -> pa.Array:
    return pa.array((EPOCH_1995_DAYS + rng.integers(0, days, n)) * DAY_US, type=pa.timestamp("us"))


def _write(out_dir: str, name: str, table: pa.Table) -> int:
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), row_group_size=65536)
    return table.num_rows


def documents(rng: np.random.Generator, n_doc: int) -> pa.Table:
    lens = rng.integers(10, 60, n_doc)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    texts, pos = [], 0
    for ln in lens:
        texts.append(" ".join(VOCAB[w] for w in words[pos:pos + ln]))
        pos += ln
    return pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, 5, n_doc)],
        "source": [f"src{int(s)}" for s in rng.integers(0, 10, n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def write_query_tables(out_dir: str, seed: int, sf: float = 0.1) -> dict[str, int]:
    """lineitem, orders, customer, events and documents; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    scale = sf / 0.1
    n_cust, n_part, n_supp = int(15_000 * scale), int(20_000 * scale), int(1_000 * scale)
    n_ord, n_li = int(150_000 * scale), int(600_000 * scale)
    n_ev, n_doc, n_users = int(100_000 * scale), int(5_000 * scale), int(1_500 * scale)
    rng = np.random.default_rng(seed)
    rows = {}
    rows["customer"] = _write(out_dir, "customer", pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    }))
    rows["orders"] = _write(out_dir, "orders", pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(STATUSES)[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1_000, 500_000, n_ord), 2),
        "o_orderdate": _days_ts(rng, n_ord, 2404),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    }))
    rows["lineitem"] = _write(out_dir, "lineitem", pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(1_000, 105_000, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": np.array(["R", "N", "A"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _days_ts(rng, n_li, 2500),
    }))
    rows["events"] = _write(out_dir, "events", pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(EPOCH_1995_DAYS * DAY_US + rng.integers(0, 365 * DAY_US, n_ev), type=pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.uniform(0, 100, n_ev), 4),
        "props": [f'{{"k": {int(k)}}}' for k in rng.integers(0, 100, n_ev)],
    }))
    rows["documents"] = _write(out_dir, "documents", documents(rng, n_doc))
    return rows


# English stopwords (the engine's language-ID and quality lexicon) and
# a content vocabulary large enough that unrelated documents share no
# word 3-grams.
EN_STOP = ("the", "a", "of", "and", "to", "in", "is", "that", "it", "for")
DE_STOP = ("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "zu")
CONTENT = [f"k{i:04d}" for i in range(4000)]

# Documents per kind in a 5,000-document corpus; every seed plants the
# same structure, so the pipeline does the same work on every seed.
CORPUS_KINDS = {
    "unique": 3600,        # English, passes every filter
    "german": 400,         # dropped by the language filter
    "low_quality": 200,    # one stopword + two 16-char punctuation tokens
    "repetitive": 200,     # one word repeated: top bigram fraction ~1
    "exact_dup": 300,      # copies of unique documents
    "near_dup": 300,       # 100 clusters of 3 one-word edits of a unique doc
}


def _sentence(rng: np.random.Generator, stop: tuple[str, ...]) -> list[str]:
    n = int(rng.integers(20, 60))
    words = [CONTENT[i] for i in rng.integers(0, len(CONTENT), n)]
    for pos in range(0, n, 4):
        words[pos] = stop[int(rng.integers(0, len(stop)))]
    return words


def write_corpus(out_dir: str, seed: int, n_probe: int = 64) -> dict[str, int]:
    """``documents`` with planted structure (``CORPUS_KINDS``) plus a
    ``probe`` set: ``n_probe`` unique documents' texts, standing in for
    a held-out benchmark to decontaminate against."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    k = CORPUS_KINDS
    unique = [_sentence(rng, EN_STOP) for _ in range(k["unique"])]
    texts = [" ".join(w) for w in unique]
    texts += [" ".join(_sentence(rng, DE_STOP)) for _ in range(k["german"])]
    texts += ["the " + "%" * 16 + " " + "#" * 16 for _ in range(k["low_quality"])]
    texts += [
        " ".join(["the"] + [CONTENT[int(rng.integers(0, len(CONTENT)))]] * 30)
        for _ in range(k["repetitive"])
    ]
    # Bases for duplicates and probes are disjoint slices of `unique`.
    texts += [texts[i] for i in range(k["exact_dup"])]
    base0 = k["exact_dup"]
    for c in range(k["near_dup"] // 3):
        base = unique[base0 + c]
        for _ in range(3):
            edit = list(base)
            edit[int(rng.integers(1, len(edit)))] = CONTENT[int(rng.integers(0, len(CONTENT)))]
            texts.append(" ".join(edit))
    probe_from = base0 + k["near_dup"] // 3
    probe_texts = texts[probe_from:probe_from + n_probe]
    order = rng.permutation(len(texts))
    texts = [texts[i] for i in order]
    n_doc = len(texts)
    docs = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, 5, n_doc)],
        "source": [f"src{int(s)}" for s in rng.integers(0, 10, n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    probe = pa.table({"doc_id": np.arange(n_probe, dtype=np.int64), "text": probe_texts})
    return {"documents": _write(out_dir, "documents", docs), "probe": _write(out_dir, "probe", probe)}
