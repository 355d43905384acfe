"""Deterministic generator for the tables the registry queries read.

Writes the ten parquet tables of the engine's test data layout
(``region nation customer supplier part orders lineitem events
documents embeddings``) with the same columns, at the row counts of
scale factor 0.01 (a tenth of sf0.1).  The value distributions are
modelled on the test data, not copied from it; ``LAYERS.md`` compares
the headline queries' row counts and times on these tables with those
on the test data's sf0.01 and sf0.1 tables.

The ``documents`` table (``doc_id, text, lang, source, n_chars``) uses a
31-word vocabulary, 10-100 tokens per document, 20 sources, five
languages (about 40 % ``en``) and a few near-duplicates (another
document's text plus the token ``dup``).  ``small_vocab_documents``
builds the same table from an LDA model over that vocabulary, so a
trained model can be scored against a known β.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
DUP = "dup"
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
N_SOURCES = 20

SF001_ROWS = {
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "documents": 500,
    "embeddings": 500,
}

_DAY_US = 86_400 * 1_000_000


def _days(start: str, n_days: int, size: int, rng) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n_days, size) * np.timedelta64(1, "D")


def _documents_frame(texts: list, rng) -> pd.DataFrame:
    n = len(texts)
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": LANGS[rng.choice(len(LANGS), n, p=LANG_P)],
            "source": [f"src{i % N_SOURCES}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _with_near_dups(texts: list, share: float, rng) -> list:
    n = len(texts)
    out = list(texts)
    for i in np.flatnonzero(rng.random(n) < share):
        if i > 0:
            out[i] = texts[int(rng.integers(0, i))] + " " + DUP
    return out


def uniform_documents(n: int, rng) -> pd.DataFrame:
    words = np.array(WORDS)
    lens = rng.integers(10, 101, n)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in lens]
    return _documents_frame(_with_near_dups(texts, 0.05, rng), rng)


SMALL_VOCAB_MODEL_SEED, SMALL_VOCAB_ALPHA = 31, 0.2


def small_vocab_documents(n: int, topics: int, rng):
    """``documents`` drawn from LDA over the 31-word vocabulary: the
    topic-word matrix from a fixed seed, the documents from ``rng``.

    Returns ``(frame, beta)`` with ``beta`` the (topics, 31) true
    topic-word matrix, columns in ``WORDS`` order."""
    V = len(WORDS)
    model = np.random.default_rng([SMALL_VOCAB_MODEL_SEED, 0])
    beta = model.dirichlet(np.full(V, 0.3), size=topics)
    words = np.array(WORDS)
    lens = rng.integers(10, 101, n)
    texts = []
    for k in lens:
        p = rng.dirichlet(np.full(topics, SMALL_VOCAB_ALPHA)) @ beta
        texts.append(" ".join(words[rng.choice(V, int(k), p=p / p.sum())]))
    return _documents_frame(texts, rng), beta


def tables(seed: int) -> dict:
    rows = SF001_ROWS
    rng = np.random.default_rng([seed, 4_2])
    out = {}
    out["region"] = pd.DataFrame(
        {
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    out["nation"] = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }
    )
    nc = rows["customer"]
    out["customer"] = pd.DataFrame(
        {
            "c_custkey": np.arange(nc, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
            "c_mktsegment": np.array(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
            )[rng.integers(0, 5, nc)],
        }
    )
    ns = rows["supplier"]
    out["supplier"] = pd.DataFrame(
        {
            "s_suppkey": np.arange(ns, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2),
        }
    )
    npart = rows["part"]
    adj = ["large", "hot", "blue", "old", "cold", "red", "small", "new"]
    noun = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"]
    out["part"] = pd.DataFrame(
        {
            "p_partkey": np.arange(npart, dtype=np.int64),
            "p_name": [
                f"{adj[a]} {noun[b]}"
                for a, b in zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
            "p_type": np.array(
                ["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"]
            )[rng.integers(0, 6, npart)],
            "p_size": rng.integers(1, 51, npart).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 2),
        }
    )
    no = rows["orders"]
    out["orders"] = pd.DataFrame(
        {
            "o_orderkey": np.arange(no, dtype=np.int64),
            "o_custkey": rng.integers(0, nc, no).astype(np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, no), 2),
            "o_orderdate": _days("1995-01-01", 2404, no, rng),
            "o_orderpriority": np.array(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
            )[rng.integers(0, 5, no)],
        }
    )
    nl = rows["lineitem"]
    qty = rng.integers(1, 51, nl).astype(np.float64)
    unit = np.exp(rng.uniform(np.log(900.0), np.log(2200.0), nl))
    out["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
            "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
            "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * unit, 2),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
            "l_shipdate": _days("1995-01-02", 2498, nl, rng),
        }
    )
    ne = rows["events"]
    users = max(1, nc // 10)
    ts = np.datetime64("2024-01-01", "us") + np.sort(
        rng.integers(0, 30 * _DAY_US, ne)
    ).astype("timedelta64[us]")
    out["events"] = pd.DataFrame(
        {
            "event_id": np.arange(ne, dtype=np.int64),
            "ts": ts,
            "user_id": rng.integers(0, users, ne).astype(np.int64),
            "event_type": np.array(
                ["signup", "purchase", "view", "click", "error"]
            )[rng.integers(0, 5, ne)],
            "value": np.round(rng.exponential(50.0, ne), 2),
            "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, ne)],
        }
    )
    out["documents"] = uniform_documents(rows["documents"], rng)
    nv = rows["embeddings"]
    centers = rng.normal(size=(10, 64))
    labels = rng.integers(0, 10, nv)
    emb = centers[labels] * 0.3 + rng.normal(size=(nv, 64))
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    out["embeddings"] = pd.DataFrame(
        {
            "vec_id": np.arange(nv, dtype=np.int64),
            "embedding": list(emb.astype(np.float32)),
            "label": labels.astype(np.int32),
        }
    )
    return out


def write_tables(frames: dict, out_dir: str) -> str:
    os.makedirs(out_dir, exist_ok=True)
    for name, df in frames.items():
        pq.write_table(
            pa.Table.from_pandas(df, preserve_index=False),
            os.path.join(out_dir, f"{name}.parquet"),
        )
    return out_dir
