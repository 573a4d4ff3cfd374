"""Corpus tables for the corpus half of the `data_round` workload, and the
DuckDB oracle check of its first pass.

The tables follow the shape of the project's synthetic test data: documents
are bags of words over a 30-word vocabulary with 5% planted near-duplicates
(a copy of another document plus one token) and a few exact copies;
embeddings are unit-norm 64-d float vectors. Everything is a function of the
seed.
"""
import json
import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DOCS = 300
EMBEDDINGS = 1000
WORDS = (10, 61)

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def generate(out_dir, seed):
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    texts = [" ".join(rng.choice(VOCAB, size=int(rng.integers(*WORDS))))
             for _ in range(DOCS)]
    for i in rng.choice(DOCS, size=DOCS // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, DOCS))] + " dup"
    for i in rng.choice(DOCS, size=8, replace=False):
        texts[i] = texts[int(rng.integers(0, DOCS))]
    pq.write_table(pa.table({
        "doc_id": pa.array(range(DOCS), pa.int64()),
        "text": texts,
        "lang": list(rng.choice(LANGS, size=DOCS, p=LANG_P)),
        "source": [f"src{i % 20}" for i in range(DOCS)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), os.path.join(out_dir, "documents.parquet"))

    v = rng.normal(size=(EMBEDDINGS, 64))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    pq.write_table(pa.table({
        "vec_id": pa.array(range(EMBEDDINGS), pa.int64()),
        "embedding": pa.array(list(v.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, size=EMBEDDINGS), pa.int32()),
    }), os.path.join(out_dir, "embeddings.parquet"))



def connect(data_dir):
    con = duckdb.connect()
    con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
    for name in ("documents", "embeddings"):
        p = os.path.join(data_dir, name + ".parquet")
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    return con


def check(data_dir, first_dir, oracle_path):
    """Compare each first-pass output with its oracle, the way
    scripts/check_oracles.py does: columns by name, rows sorted, floats with
    1e-9 tolerance. Returns {query: error or None}."""
    con = connect(data_dir)
    with open(oracle_path) as f:
        oracle = json.load(f)
    out = {}
    for q, sql in sorted(oracle.items()):
        qdir = os.path.join(first_dir, q)
        if not os.path.isdir(qdir):
            out[q] = "no first-pass output"
            continue
        out[q] = compare(pq.read_table(qdir).to_pandas(), con.sql(sql).df())
    return out


def compare(got, want):
    gc, wc = sorted(got.columns), sorted(want.columns)
    if gc != wc:
        return f"columns {gc} vs oracle {wc}"
    if len(got) != len(want):
        return f"{len(got)} rows vs oracle {len(want)}"
    g = got[gc].sort_values(gc).reset_index(drop=True)
    w = want[wc].sort_values(wc).reset_index(drop=True)
    for c in gc:
        if g[c].dtype.kind in "fc" or w[c].dtype.kind in "fc":
            a, b = g[c].astype(float).to_numpy(), w[c].astype(float).to_numpy()
            if not np.allclose(a, b, rtol=1e-9, atol=1e-9, equal_nan=True):
                return f"values differ in {c}"
        elif not (g[c].astype(str).values == w[c].astype(str).values).all():
            return f"values differ in {c}"
    return None
