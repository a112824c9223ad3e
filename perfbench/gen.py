#!/usr/bin/env python3
"""Deterministic generator for the two tables the curation queries read,
`documents` and `embeddings`, with the schema, value domains and
distributions of the harness tables the program is oracle-checked on.

The document model is fitted to the harness `documents` table at sf0.01
(500 rows) and sf0.1 (5,000 rows), measured column by column (the
figures are in perfbench/README.md):

- text: words drawn uniformly from the same 30-word vocabulary, 10 to
  100 tokens per document, uniform in length;
- 4.9% near-duplicates: an earlier document's text plus the token
  "dup"; 0.16% exact copies of an earlier document;
- lang 41% en, the rest de, es, fr and zh in about equal shares;
- source cycling over src0..src19; n_chars the text's length.

Embeddings are 64-dimensional unit vectors with a label in 0..9.

The generator seed is fixed, so a row count always yields the same
tables and the pinned expected results hold on every run.

    python3 perfbench/gen.py OUT_DIR N_DOCUMENTS N_EMBEDDINGS
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEED = 42
VOCAB = np.array(
    ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
     "filter", "group", "hash", "join", "key", "line", "merge", "order",
     "part", "query", "row", "scan", "slow", "small", "sort", "spark",
     "stream", "table", "the", "value", "vector", "window"])
NEAR_DUP, EXACT_DUP = 0.049, 0.0016
LANGS = np.array(["en"] * 41 + ["de"] * 15 + ["es"] * 15 + ["fr"] * 14
                 + ["zh"] * 15)


def documents(n):
    rng = np.random.default_rng([SEED, 0])
    texts = []
    kind = rng.random(n)
    for i in range(n):
        length = int(rng.integers(10, 101))
        words = VOCAB[rng.integers(0, len(VOCAB), length)]
        if i > 0 and kind[i] < NEAR_DUP + EXACT_DUP:
            src = texts[int(rng.integers(0, i))]
            texts.append(src + " dup" if kind[i] < NEAR_DUP else src)
        else:
            texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": pa.array(LANGS[rng.integers(0, len(LANGS), n)]),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def embeddings(n):
    rng = np.random.default_rng([SEED, 1])
    vecs = rng.normal(0.0, 1.0, (n, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32())})


def write(out_dir, n_docs, n_embeddings):
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(documents(n_docs), os.path.join(out_dir, "documents.parquet"))
    pq.write_table(embeddings(n_embeddings),
                   os.path.join(out_dir, "embeddings.parquet"))


def write_slices(out_dir, n_docs, n_slices, order):
    """The documents table cut into `n_slices` single-file slices by
    doc_id modulo the slice count, for streaming ingest. `order` is the
    arrival order: the file source takes files oldest first, so the
    modification times are set to follow it."""
    docs = documents(n_docs)
    os.makedirs(os.path.join(out_dir, "src"), exist_ok=True)
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))
    ids = docs.column("doc_id").to_numpy()
    base = 1_700_000_000
    for k, s in enumerate(order):
        path = os.path.join(out_dir, "src", f"documents_{s}.parquet")
        pq.write_table(docs.filter(pa.array(ids % n_slices == s)), path)
        os.utime(path, (base + 10 * k, base + 10 * k))


if __name__ == "__main__":
    if len(sys.argv) != 4:
        sys.exit(__doc__)
    write(sys.argv[1], int(sys.argv[2]), int(sys.argv[3]))
