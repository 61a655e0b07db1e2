"""Seeded input generators for the benchmark.

Everything the workloads read is built here from a seed, with numpy and
pyarrow only (no Spark), so the same seed always gives byte-identical
inputs and a fresh checkout needs no external data:

- ``write_sf_tables``: the engine's star-schema + ``documents`` /
  ``embeddings`` / ``events`` tables, shaped like the sf test tables of
  TESTDATA.md (same columns, physical types, key ranges and planted
  near-duplicate documents).
- ``orp_documents`` / ``legislation_edges``: the ORP-shaped search table
  (the columns ``operators.search.build_predicate`` filters on), derived
  from the generated ``documents`` table.
- ``search_requests``: a seeded request mix that covers every
  ``build_predicate`` branch, deep pages, the ``legislation_edges`` join,
  empty results and invalid keys.
"""

from __future__ import annotations

import datetime as dt
import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# the sf test tables' 31-word vocabulary ("dup" only marks planted copies)
DOC_VOCAB = (
    "query row stream the batch sort value hash filter big data part column "
    "order scan a slow agg key window table merge vector join spark line "
    "small fast group customer"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _rng(seed: int, salt: str) -> np.random.Generator:
    """One independent stream per (seed, table): adding a table or a
    column to one generator never shifts another table's values."""
    return np.random.default_rng([seed, *salt.encode()])


def _write(path: str, table: pa.Table) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def _days(base: str, offsets: np.ndarray) -> np.ndarray:
    return np.datetime64(base, "us") + offsets.astype("timedelta64[D]").astype(
        "timedelta64[us]"
    )


def _word_texts(rng: np.random.Generator, n: int, vocab: list[str],
                lo: int, hi: int) -> list[str]:
    lengths = rng.integers(lo, hi + 1, n)
    words = rng.integers(0, len(vocab), int(lengths.sum()))
    vocab_arr = np.array(vocab, dtype=object)
    out, pos = [], 0
    for k in lengths:
        out.append(" ".join(vocab_arr[words[pos:pos + k]]))
        pos += k
    return out


def documents_table(seed: int, n: int) -> pa.Table:
    """``documents``: word-bag texts; 5% are an earlier document's text
    plus `` dup`` (as in the sf test tables)."""
    rng = _rng(seed, "documents")
    texts = _word_texts(rng, n, DOC_VOCAB, 10, 100)
    dup_rows = rng.choice(np.arange(1, n), size=max(1, n // 20), replace=False)
    for i in np.sort(dup_rows):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings_table(seed: int, n: int = 2000, dim: int = 64,
                     k: int = 10) -> pa.Table:
    """Unit-norm float vectors around ``k`` cluster centres; ``label`` is
    the centre."""
    rng = _rng(seed, "embeddings")
    centres = rng.normal(size=(k, dim))
    labels = rng.integers(0, k, n)
    vecs = centres[labels] + rng.normal(scale=0.8, size=(n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def write_sf_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write the ten engine tables at scale factor ``sf`` under
    ``out_dir`` (one ``<name>.parquet`` each); returns row counts."""
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_events = max(1000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })

    rng = _rng(seed, "customer")
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })

    rng = _rng(seed, "supplier")
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })

    rng = _rng(seed, "part")
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n_part),
                                             rng.choice(PART_NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
    })

    rng = _rng(seed, "orders")
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2),
        "o_orderdate": pa.array(_days("1995-01-01", rng.integers(0, 2404, n_ord)),
                                pa.timestamp("us")),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    })

    rng = _rng(seed, "lineitem")
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": pa.array(_days("1995-01-02", rng.integers(0, 2499, n_line)),
                               pa.timestamp("us")),
    })

    rng = _rng(seed, "events")
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n_events))
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01", "us")
                       + ts.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n_events),
        "value": np.round(rng.uniform(0.01, 500.0, n_events), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_events)],
    })

    tables["documents"] = documents_table(seed, n_docs)
    tables["embeddings"] = embeddings_table(seed)

    for name, t in tables.items():
        _write(os.path.join(out_dir, f"{name}.parquet"), t)
    return {name: t.num_rows for name, t in tables.items()}


# --- search: the ORP documents table and the request mix -----------------

REGULATORS = ["cma", "defra", "ea", "fca", "hse", "ofcom", "ofgem", "ofwat"]
DOC_TYPES = ["GD", "HS", "MSI", "LEG", "CON"]
STATUSES = ["published", "archive", "draft"]
STATUS_P = [0.8, 0.1, 0.1]
TOPICS = ["/env", "/env/water", "/env/air", "/energy", "/energy/gas",
          "/safety", "/safety/fire", "/finance"]
FORMATS = ["PDF", "DOCX", "ODF", "HTML", "ORPML"]


def orp_documents(seed: int, docs: pa.Table) -> pa.Table:
    """The ORP documents table (FIXTURES.md §documents) derived row by
    row from a ``documents`` table: title and keywords come from the
    text, the rest from the seed."""
    rng = _rng(seed, "orp")
    n = docs.num_rows
    texts = docs.column("text").to_pylist()
    topic_idx = rng.integers(0, len(TOPICS), n)
    # path-expanded topics: "/env/water" also carries "/env"
    topics = []
    for t in topic_idx:
        path = TOPICS[t]
        parts = path.strip("/").split("/")
        topics.append(["/" + "/".join(parts[:i + 1]) for i in range(len(parts))])
    keywords = [sorted(set(t.split()[:12]) - {"a", "the", "dup"})[:10] for t in texts]
    titles = [" ".join(t.split()[:4]).title() for t in texts]
    published = rng.integers(0, 6 * 365, n)
    return pa.table({
        "document_uid": [f"{u:032x}" for u in rng.integers(0, 2**62, n)],
        "regulator_id": rng.choice(REGULATORS, n),
        "user_id": [f"user{u}" for u in rng.integers(0, 200, n)],
        "document_type": rng.choice(DOC_TYPES, n),
        "document_format": rng.choice(FORMATS, n),
        "regulatory_topic": pa.array(topics, pa.list_(pa.string())),
        "assigned_orp_topic": [t[-1] for t in topics],
        "status": rng.choice(STATUSES, n, p=STATUS_P),
        "title": titles,
        "language": docs.column("lang"),
        "subject_keywords": pa.array(keywords, pa.list_(pa.string())),
        "date_published": pa.array(_days("2018-01-01", published), pa.timestamp("us")),
        "date_uploaded": pa.array(_days("2024-01-01", rng.integers(0, 300, n)),
                                  pa.timestamp("us")),
        "version": pa.array(rng.integers(1, 4, n), pa.int32()),
        "text": docs.column("text"),
    })


def legislation_edges(seed: int, orp: pa.Table) -> pa.Table:
    """document → legislation edges: ~40% of documents cite one or two
    acts, so the search join both misses and multiplies rows."""
    rng = _rng(seed, "edges")
    uids = orp.column("document_uid").to_pylist()
    src, href = [], []
    for u in uids:
        for _ in range(int(rng.choice([0, 0, 0, 1, 2], p=[0.3, 0.2, 0.1, 0.25, 0.15]))):
            src.append(u)
            href.append(f"ukpga/{int(rng.integers(1990, 2024))}/{int(rng.integers(1, 60))}")
    return pa.table({"document_uid": src, "leg_href": href})


@dataclass
class SearchRequest:
    body: dict
    join: bool = False
    kind: str = ""


# one cycle of the request mix: (kind, edges join, ascending order). It
# is a coverage mix, not measured traffic (no ORP request log exists to
# weight it by): each filter shape two or three times, the edges join on
# 4 of 20, ascending order on 5 of 20, one 404 and one 400 (see
# README.md). The seed draws only the parameter values, so every run
# sends the same shapes in the same proportions (a seeded shape mix
# moved the median latency by ~20% between seeds)
REQUEST_CYCLE = [
    ("keyword", False, False), ("in", True, False), ("id", False, False),
    ("date", False, True), ("title", False, False), ("topic", True, False),
    ("deep", False, False), ("combo", False, True), ("keyword", False, True),
    ("empty", False, False), ("in", False, False), ("date", True, False),
    ("id", False, False), ("title", False, True), ("deep", True, False),
    ("topic", False, False), ("combo", False, False), ("keyword", False, False),
    ("invalid", False, False), ("in", False, True),
]


def search_requests(seed: int, orp: pa.Table, n: int,
                    salt: str = "requests") -> list[SearchRequest]:
    """``n`` requests walking ``REQUEST_CYCLE`` with seeded parameters:
    every ``build_predicate`` branch, deep pages, the edges join, 404s
    and 400s appear in every 20 consecutive requests. A different
    ``salt`` gives independent parameters (the warm-up requests)."""
    rng = _rng(seed, salt)
    uids = orp.column("document_uid").to_pylist()
    vocab = [w for w in DOC_VOCAB if w not in ("a", "the", "dup")]
    out = []
    for i in range(n):
        kind, join, ascending = REQUEST_CYCLE[i % len(REQUEST_CYCLE)]
        body: dict = {}
        if kind == "id":
            body["id"] = uids[int(rng.integers(0, len(uids)))]
        elif kind == "keyword":
            body["keyword"] = [str(w).upper() if rng.random() < 0.3 else str(w)
                               for w in rng.choice(vocab, int(rng.integers(1, 3)),
                                                   replace=False)]
        elif kind == "in":
            body["regulator_id"] = [str(r) for r in rng.choice(REGULATORS, 2, replace=False)]
            body["status"] = [str(s) for s in rng.choice(["published", "draft"],
                                                         int(rng.integers(1, 3)),
                                                         replace=False)]
            body["document_type"] = [str(t) for t in rng.choice(DOC_TYPES, 2, replace=False)]
        elif kind == "date":
            start = dt.date(2018, 1, 1) + dt.timedelta(days=int(rng.integers(0, 1800)))
            end = start + dt.timedelta(days=int(rng.integers(30, 400)))
            side = rng.integers(0, 3)
            dates = {}
            if side != 1:
                dates["start_date"] = start.isoformat()
            if side != 2:
                dates["end_date"] = end.isoformat()
            body["date_published"] = dates
        elif kind == "title":
            body["title"] = str(rng.choice(vocab))[:4].upper()
        elif kind == "topic":
            body["regulatory_topic"] = str(rng.choice(TOPICS))
        elif kind == "deep":
            body["status"] = ["published"]
            body["page"] = int(rng.integers(5, 40))
            body["page_size"] = int(rng.choice([10, 20, 50]))
        elif kind == "combo":
            body["keyword"] = [str(rng.choice(vocab))]
            body["regulator_id"] = [str(r) for r in rng.choice(REGULATORS, 3, replace=False)]
            body["regulatory_topic"] = str(rng.choice(TOPICS[:4]))
            body["page"] = int(rng.integers(0, 3))
        elif kind == "empty":
            body["keyword"] = ["nonexistentterm"]
        elif kind == "invalid":
            body["frobnicate"] = 1
        if ascending:
            body["order"] = "asc"
        out.append(SearchRequest(body, join=join, kind=kind))
    return out
