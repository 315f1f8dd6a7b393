"""Seeded input generators for the benchmark.

Every table is built here with numpy and written with pyarrow, so a change
to the program under test cannot change what it is fed.  The same seed
always gives byte-identical inputs.

* ``write_pages`` / ``write_entity_dict``: a Common-Crawl-style page corpus
  (url, warc_ts, html, text, lang) whose mentions are Zipf-skewed over a
  fixed entity dictionary, so hub entities exist.
* ``write_relational``: the three TPC-H-shaped tables the operator queries
  read (orders, lineitem, documents), only the columns they read, each one
  file with one row group, the layout of the repo's own test tables.
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_ENTITIES = 1000
VOCAB_SIZE = 5000
WORDS_PER_PAGE = 60
MENTIONS_PER_PAGE = 6
ZIPF_EXPONENT = 3.0
LANGS = ["en", "de", "fr", "es"]
KINDS = ["person", "org", "place", "work"]
N_HOSTS = 50
_T0 = datetime(2024, 1, 1)

# the relational tables use this fixed seed whatever --seed says
RELATIONAL_SEED = 42


def write_table(table: pa.Table, out_dir: str, files: int = 1) -> str:
    """Write ``table`` as ``files`` parquet files (one row group each)."""
    os.makedirs(out_dir, exist_ok=True)
    n = table.num_rows
    bounds = np.linspace(0, n, files + 1).astype(int)
    for i in range(files):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(part, os.path.join(out_dir, f"part-{i:05d}.parquet"),
                       row_group_size=max(part.num_rows, 1))
    return out_dir


def page_texts(seed: int, n_pages: int) -> list:
    """``WORDS_PER_PAGE`` tokens per page; every ``step``-th slot holds an
    entity mention, Zipf-skewed as floor(u^3 * n_entities) so that entity 0
    is a hub."""
    rng = np.random.default_rng(seed)
    vocab = np.array([f"w{w}" for w in range(VOCAB_SIZE)], dtype=object)
    ent_tok = np.array([f"ent{e}" for e in range(N_ENTITIES)], dtype=object)
    toks = vocab[rng.integers(0, VOCAB_SIZE, (n_pages, WORDS_PER_PAGE))]
    ents = np.floor(rng.random((n_pages, MENTIONS_PER_PAGE)) ** ZIPF_EXPONENT * N_ENTITIES)
    step = WORDS_PER_PAGE // MENTIONS_PER_PAGE
    toks[:, np.arange(MENTIONS_PER_PAGE) * step + 3] = ent_tok[ents.astype(np.int64)]
    return [" ".join(row) for row in toks]


def write_pages(seed: int, n_pages: int, out_dir: str, files: int) -> str:
    texts = page_texts(seed, n_pages)
    ids = range(n_pages)
    html = [f"<html><head><title>Page {p}</title></head><body><p>{t}</p></body></html>".encode()
            for p, t in zip(ids, texts)]
    return write_table(pa.table({
        "url": pa.array([f"https://site{p % N_HOSTS}.example/page/{p}" for p in ids]),
        "warc_ts": pa.array([_T0 + timedelta(seconds=p) for p in ids], pa.timestamp("us")),
        "html": pa.array(html, pa.binary()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[(p * 7 + seed) % len(LANGS)] for p in ids]),
    }), out_dir, files)


def write_entity_dict(out_dir: str) -> str:
    """(entity_id, surface, canonical, kind): 1:1 single-token surfaces."""
    ids = np.arange(N_ENTITIES, dtype=np.int64)
    return write_table(pa.table({
        "entity_id": ids,
        "surface": [f"ent{i}" for i in ids],
        "canonical": [f"ENT_{i}" for i in ids],
        "kind": [KINDS[(i * 31 + 7) % len(KINDS)] for i in ids],
    }), out_dir)


_DOC_VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window order data column join small customer query "
    "big filter stream group vector"
).split()


def write_relational(out_dir: str, customers: int, orders: int, parts: int,
                     lineitems: int, documents: int,
                     seed: int = RELATIONAL_SEED) -> dict:
    """orders(o_orderkey, o_custkey), lineitem(l_orderkey, l_partkey) and
    documents(doc_id, text), one single-row-group file each, under
    ``out_dir/<table>.parquet`` (the path layout ``__spark_entry__``
    queries read).  Keys are drawn uniformly over ``customers`` and
    ``parts``.  Returns {table: rows}."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    vocab = np.array(_DOC_VOCAB, dtype=object)
    tables = {
        "orders": pa.table({
            "o_orderkey": np.arange(orders, dtype=np.int64),
            "o_custkey": rng.integers(0, customers, orders),
        }),
        "lineitem": pa.table({
            "l_orderkey": rng.integers(0, orders, lineitems),
            "l_partkey": rng.integers(0, parts, lineitems),
        }),
        "documents": pa.table({
            "doc_id": np.arange(documents, dtype=np.int64),
            "text": [" ".join(vocab[rng.integers(0, len(vocab), k)])
                     for k in rng.integers(10, 101, documents)],
        }),
    }
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(table.num_rows, 1))
    return {name: t.num_rows for name, t in tables.items()}
