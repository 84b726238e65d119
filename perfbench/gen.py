"""Seeded input generator for the graft benchmark.

Writes, under one output directory:
  documents.parquet   doc_id, text, lang, source, n_chars
  embeddings.parquet  vec_id, embedding (64 x float32, unit norm), label
  inputs.json         query vectors, query texts and Create batches
  manifest.json       row counts and a checksum of every file above

The distributions follow the repository's synthetic test corpus: texts
are 10-100 tokens drawn uniformly from a 30-word vocabulary, 5% of the
documents are a copy of another document with " dup" appended, and the
embeddings are independent unit Gaussians. The same seed always gives
the same bytes.
"""
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
DIM = 64
DUP_SHARE = 0.05
QUERIES = 512       # query vectors, and query texts
CREATES = 64        # Create batches
CREATE_DOCS = 50    # documents per Create batch


def texts(rng, n, lo=10, hi=100):
    lens = rng.integers(lo, hi + 1, size=n)
    toks = rng.integers(0, len(VOCAB), size=int(lens.sum()))
    out, at = [], 0
    for ln in lens:
        out.append(" ".join(VOCAB[t] for t in toks[at:at + ln]))
        at += ln
    return out


def documents(rng, n):
    text = texts(rng, n)
    dups = np.flatnonzero(rng.random(n) < DUP_SHARE)
    srcs = rng.integers(0, n, size=len(dups))
    for i, j in zip(dups, srcs):
        if i != j:
            text[i] = text[j] + " dup"
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(text, pa.string()),
        "lang": pa.array(rng.choice(LANGS, size=n, p=LANG_P).tolist(), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in ids], pa.string()),
        "n_chars": pa.array([len(t) for t in text], pa.int64()),
    })


def unit_rows(rng, n):
    v = rng.standard_normal((n, DIM))
    return (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)


def embeddings(rng, n):
    v = unit_rows(rng, n)
    flat = pa.array(v.reshape(-1), pa.float32())
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64), pa.int64()),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, n * DIM + 1, DIM, dtype=np.int32)), flat),
        "label": pa.array(rng.integers(0, 10, size=n).astype(np.int32), pa.int32()),
    }), v


def sha(path):
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


def generate(seed, n_docs, n_vecs, out):
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    docs = documents(rng, n_docs)
    emb, vecs = embeddings(rng, n_vecs)
    # Search queries sit near a seeded corpus vector so that the 0.6
    # cosine-distance threshold keeps some rows.
    near = rng.integers(0, n_vecs, size=QUERIES)
    q = vecs[near].astype(np.float64) + 0.09 * rng.standard_normal((QUERIES, DIM))
    q = (q / np.linalg.norm(q, axis=1, keepdims=True)).astype(np.float32)
    creates = []
    next_id = max(n_docs, n_vecs)
    for _ in range(CREATES):
        creates.append({"ids": list(range(next_id, next_id + CREATE_DOCS)),
                        "texts": texts(rng, CREATE_DOCS)})
        next_id += CREATE_DOCS
    inputs = {
        "seed": seed,
        "query_vectors": [[float(x) for x in row] for row in q],
        "query_texts": texts(rng, QUERIES, 3, 12),
        "creates": creates,
    }
    pq.write_table(docs, os.path.join(out, "documents.parquet"))
    pq.write_table(emb, os.path.join(out, "embeddings.parquet"))
    with open(os.path.join(out, "inputs.json"), "w") as f:
        json.dump(inputs, f)
    manifest = {
        "seed": seed, "documents": n_docs, "embeddings": n_vecs,
        "sha256": {name: sha(os.path.join(out, name))
                   for name in ("documents.parquet", "embeddings.parquet", "inputs.json")},
    }
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1)
    return manifest


def verify(out, seed, n_docs, n_vecs):
    """True when `out` holds this seed's inputs, by row count and checksum."""
    try:
        with open(os.path.join(out, "manifest.json")) as f:
            m = json.load(f)
        if (m["seed"], m["documents"], m["embeddings"]) != (seed, n_docs, n_vecs):
            return False
        if pq.read_metadata(os.path.join(out, "documents.parquet")).num_rows != n_docs:
            return False
        if pq.read_metadata(os.path.join(out, "embeddings.parquet")).num_rows != n_vecs:
            return False
        return all(sha(os.path.join(out, k)) == v for k, v in m["sha256"].items())
    except (OSError, KeyError, ValueError):
        return False

