"""Seeded inputs for the LLM-corpus pipeline.

Documents come from the package's own ``corpusgen`` reader (called in
plain Python, so no Spark job runs before timing), which repeats the text
of doc ``i - 1`` at every ``dup_every``-th id. On top of that the
generator plants near duplicates: copies of random documents with a few
tokens replaced, appended after the generated ids. Embeddings are
seeded clustered vectors plus a fixed query set near the same centres.

Ground truth is known by construction: the exact-duplicate count, the
planted near-duplicate pairs, and each query's exact top-k by cosine.
"""

from __future__ import annotations

import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_DOCS = 8_000
DUP_EVERY = 10
N_NEAR_DUPS = 400
REPLACE_SHARE = 0.04
N_VECTORS = 1_000
N_QUERIES = 256
N_CLUSTERS = 64
NOISE = 0.15
DIM = 64
TOP_K = 10
LSH_BITS = 3


def _docs(seed: int, n_docs: int) -> list[tuple]:
    from hive_parse_lineage_spark.sources.corpusgen import (
        CorpusGenReader, _Range)
    reader = CorpusGenReader({"rows": n_docs, "seed": seed,
                              "dup_every": DUP_EVERY})
    return list(reader.read(_Range(0, n_docs)))


def build_corpus(seed: int, n_docs: int = N_DOCS,
                 n_near: int = N_NEAR_DUPS) -> tuple[pa.Table, dict]:
    """(documents table, ground truth) for ``seed``."""
    from hive_parse_lineage_spark.sources.corpusgen import _VOCAB
    rows = _docs(seed, n_docs)
    rnd = random.Random(seed * 7919 + 1)
    exact_pairs = [(i - 1, i) for i in range(DUP_EVERY, n_docs, DUP_EVERY)]
    near_pairs = []
    for j in range(n_near):
        src = rnd.randrange(n_docs)
        toks = rows[src][1].split(" ")
        for _ in range(max(1, round(len(toks) * REPLACE_SHARE))):
            pos = rnd.randrange(len(toks))
            toks[pos] = rnd.choice([w for w in _VOCAB[:50] if w != toks[pos]])
        text = " ".join(toks)
        new_id = n_docs + j
        rows.append((new_id, text, rows[src][2], rows[src][3], len(text)))
        near_pairs.append((src, new_id))
    cols = list(zip(*rows))
    table = pa.table({
        "doc_id": pa.array(cols[0], pa.int64()),
        "text": pa.array(cols[1], pa.string()),
        "lang": pa.array(cols[2], pa.string()),
        "source": pa.array(cols[3], pa.string()),
        "n_chars": pa.array(cols[4], pa.int64())})
    texts = cols[1]
    injected = len(texts) - len(set(texts))
    truth = {"docs": len(texts), "exact_dups": injected,
             "tokens": sum(len(x.split(" ")) for x in texts),
             "pairs": sorted(set(exact_pairs) | set(near_pairs))}
    return table, truth


def build_vectors(seed: int, n_vec: int = N_VECTORS,
                  n_q: int = N_QUERIES) -> tuple[pa.Table, pa.Table, np.ndarray, np.ndarray]:
    """(corpus table, query table, corpus matrix, query matrix)."""
    # The cluster centres and the query set are fixed, every cluster gets
    # the same number of vectors and queries, and the seed draws the corpus
    # noise. Recall then depends on the operator, not on how a seed happens
    # to place its clusters and queries against the LSH hyperplanes.
    centres = np.random.default_rng(DIM).standard_normal((N_CLUSTERS, DIM))
    rng = np.random.default_rng([seed, DIM])
    vec = (centres[np.arange(n_vec) % N_CLUSTERS]
           + NOISE * rng.standard_normal((n_vec, DIM))).astype("float32")
    q_rng = np.random.default_rng(DIM + 1)
    qry = (centres[np.arange(n_q) % N_CLUSTERS]
           + NOISE * q_rng.standard_normal((n_q, DIM))).astype("float32")
    corpus = pa.table({"vec_id": pa.array(np.arange(n_vec), pa.int64()),
                       "embedding": pa.array(list(vec),
                                             pa.list_(pa.float32()))})
    queries = pa.table({"query_id": pa.array(np.arange(n_q), pa.int64()),
                        "embedding": pa.array(list(qry),
                                              pa.list_(pa.float32()))})
    return corpus, queries, vec, qry


def exact_topk(vec: np.ndarray, qry: np.ndarray,
               k: int = TOP_K) -> tuple[np.ndarray, np.ndarray]:
    """Brute-force cosine top-k ids per query (ties to the lower id) and
    the cosine matrix they came from."""
    v = vec.astype("float64")
    q = qry.astype("float64")
    cos = (q @ v.T) / (np.linalg.norm(q, axis=1)[:, None]
                       * np.linalg.norm(v, axis=1)[None, :])
    order = np.lexsort((np.broadcast_to(np.arange(v.shape[0]), cos.shape),
                        -cos), axis=1)
    return order[:, :k], cos


def write_inputs(seed: int, out_dir: str) -> dict:
    """Write docs/corpus/query parquet for ``seed``; returns the truth."""
    os.makedirs(out_dir, exist_ok=True)
    docs, truth = build_corpus(seed)
    corpus, queries, vec, qry = build_vectors(seed)
    pq.write_table(docs, os.path.join(out_dir, "docs.parquet"))
    pq.write_table(corpus, os.path.join(out_dir, "vectors.parquet"))
    pq.write_table(queries, os.path.join(out_dir, "queries.parquet"))
    np.save(os.path.join(out_dir, "vectors.npy"), vec)
    np.save(os.path.join(out_dir, "queries.npy"), qry)
    return truth
