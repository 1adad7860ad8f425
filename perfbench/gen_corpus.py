"""Seeded generator of the LLM-curation corpus in the catalog's table
schema: ``documents.parquet`` (doc_id, text, lang, source, n_chars) and
``embeddings.parquet`` (vec_id, embedding float[64] unit-norm, label).

Near-duplicates are planted by mutating a few words of an earlier
document, and vectors are drawn around ``n_clusters`` centres with a share
of them re-drawn as small perturbations of an earlier vector — never
verbatim copies, which would make the LSH pair stages quadratic and the
top-k rankings tie.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 64
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch residue chain atom entry lake shard index "
    "probe bucket cluster shingle token corpus page crawl score rank label"
).split()
LANGS = (("en", 0.41), ("zh", 0.15), ("es", 0.15), ("fr", 0.15), ("de", 0.14))


def documents(rng: np.random.Generator, n_docs: int, dup_frac: float) -> tuple[pa.Table, int]:
    texts: list[str] = []
    n_dups = 0
    for i in range(n_docs):
        if i > 10 and rng.random() < dup_frac:
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(max(1, len(words) // 20)):
                words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            n_dups += 1
        else:
            words = [VOCAB[k] for k in rng.integers(0, len(VOCAB), int(rng.integers(8, 90)))]
        texts.append(" ".join(words))
    langs = rng.choice([l for l, _ in LANGS], size=n_docs, p=[p for _, p in LANGS])
    table = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs.tolist(), pa.string()),
        "source": pa.array([f"src{i % 5}" for i in range(n_docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    return table, n_dups


def embeddings(rng: np.random.Generator, n_vecs: int, dup_frac: float,
               n_clusters: int = 10) -> tuple[pa.Table, int]:
    centres = rng.normal(size=(n_clusters, DIM))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    labels = rng.integers(0, n_clusters, n_vecs)
    # weak clusters: the catalog's cosine thresholds (tau 0.35) are tuned to
    # a corpus whose unrelated pairs sit near cosine 0
    vecs = 0.25 * centres[labels] + rng.normal(scale=1 / np.sqrt(DIM), size=(n_vecs, DIM))
    dup = (rng.random(n_vecs) < dup_frac) & (np.arange(n_vecs) > 10)
    src = (rng.random(n_vecs) * np.arange(n_vecs)).astype(np.int64)
    for i in np.flatnonzero(dup):
        vecs[i] = vecs[src[i]] + rng.normal(scale=0.02 / np.sqrt(DIM), size=DIM)
        labels[i] = labels[src[i]]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel(), pa.float32())
    table = pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, n_vecs * DIM + 1, DIM), pa.int32()), flat
        ),
        "label": pa.array(labels, pa.int32()),
    })
    return table, int(dup.sum())


def generate(out_dir: str, seed: int, n_docs: int, n_vecs: int,
             dup_frac: float = 0.1) -> dict:
    """Write both tables under ``out_dir``; return their sizes and the
    number of planted near-duplicates."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    docs, n_doc_dups = documents(rng, n_docs, dup_frac)
    vecs, n_vec_dups = embeddings(rng, n_vecs, dup_frac)
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))
    pq.write_table(vecs, os.path.join(out_dir, "embeddings.parquet"))
    return {"docs": n_docs, "vecs": n_vecs, "doc_near_dups": n_doc_dups,
            "vec_near_dups": n_vec_dups}
