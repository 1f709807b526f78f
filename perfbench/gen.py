"""Seeded input generator. Everything a workload feeds the engine is
written here, from `--seed`, before any timing starts; the same seed
gives byte-identical inputs.

- pubsub: the `v` payload of every event (`n` is the event's position).
- dedup: chunks of documents with a fixed share of exact re-sends and
  of near-duplicate edits of documents sent in EARLIER chunks, plus the
  doc ids that are first occurrences by text (the exact-dedup oracle).
  Duplicates only ever point backwards across chunks, so which copy
  survives never depends on how a chunk's rows interleave across the
  topic's partitions.
- tables: the synthetic sf tables from the repository's own generator
  (`tools/gen_sf.py`), seeded with the same seed.
"""

from __future__ import annotations

import importlib.util
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CHUNK_DOCS = 2000
EXACT_SHARE = 0.10  # re-sends of an earlier document, verbatim
NEAR_SHARE = 0.10  # earlier document with one word appended


def _gen_sf_module(repo: str):
    spec = importlib.util.spec_from_file_location(
        "gen_sf", os.path.join(repo, "tools", "gen_sf.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def tables(repo: str, sf: float, out_dir: str, seed: int) -> str:
    _gen_sf_module(repo).generate(sf, out_dir, seed=seed)
    return out_dir


def pubsub_payload(out_dir: str, n: int, seed: int) -> str:
    path = os.path.join(out_dir, "pubsub_v.npy")
    np.save(path, np.random.default_rng(seed).standard_normal(n))
    return path


def dedup_chunks(repo: str, tables_dir: str, out_dir: str, n_chunks: int,
                 seed: int, chunk_docs: int = CHUNK_DOCS) -> dict:
    """Write `n_chunks` parquet chunks (doc_id long, text string) and a
    manifest with, per chunk, the doc ids that are first occurrences of
    their text over the stream so far."""
    rng = np.random.default_rng(seed + 1)
    vocab = np.array(_gen_sf_module(repo).VOCAB)
    base = pq.read_table(os.path.join(tables_dir, "documents.parquet"))
    pool = list(dict.fromkeys(base.column("text").to_pylist()))  # distinct
    rng.shuffle(pool)
    n_dup = int(chunk_docs * EXACT_SHARE)
    n_near = int(chunk_docs * NEAR_SHARE)
    fresh_needed = chunk_docs + (n_chunks - 1) * (chunk_docs - n_dup - n_near)
    seen = set(pool)
    while len(pool) < fresh_needed:  # extend with draws of the same recipe
        text = " ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))])
        if text not in seen:
            seen.add(text)
            pool.append(text)

    os.makedirs(out_dir, exist_ok=True)
    sent: list[str] = []  # fresh texts of earlier chunks
    first_by_text: dict[str, int] = {}
    manifest = {"chunks": [], "first_ids": []}
    next_fresh = next_id = 0
    for c in range(n_chunks):
        k = chunk_docs if c == 0 else chunk_docs - n_dup - n_near
        fresh = pool[next_fresh:next_fresh + k]
        next_fresh += k
        texts = list(fresh)
        if c > 0:
            # distinct sources, so no text occurs twice within a chunk
            texts += [sent[i] for i in rng.choice(len(sent), n_dup, replace=False)]
            texts += [
                sent[i] + " " + vocab[rng.integers(0, len(vocab))]
                for i in rng.choice(len(sent), n_near, replace=False)
            ]
            texts = [texts[i] for i in rng.permutation(len(texts))]
        ids = list(range(next_id, next_id + len(texts)))
        next_id += len(texts)
        firsts = []
        for i, t in zip(ids, texts):
            if t not in first_by_text:
                first_by_text[t] = i
                firsts.append(i)
        sent += fresh
        path = os.path.join(out_dir, f"chunk-{c:04d}.parquet")
        pq.write_table(
            pa.table({"doc_id": pa.array(ids, pa.int64()), "text": texts}), path
        )
        manifest["chunks"].append(path)
        manifest["first_ids"].append(firsts)
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    return manifest
