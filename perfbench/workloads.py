"""Workload definitions and seeded input generation.

Two workloads, each a list of named steps run one at a time (a closed loop
with one client):

* ``search_dedup`` runs registry queries (``__spark_entry__.queries()``)
  over small fixed tables written by :func:`write_registry_tables`: kNN and
  HNSW search over ``embeddings`` and near-duplicate clustering over
  ``documents``. The tables do not depend on the workload
  seed, so each step's output fingerprint can be pinned in
  ``fingerprints.json``; the seed sets the step order of every round.
* ``embed_ingest`` drives the write side of the library (embedding, CSV
  export, PQ index build, incremental streaming) over a corpus that
  :func:`write_ingest_corpus` generates from the seed.
"""

from __future__ import annotations

import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The registry steps: queries whose time is split between driver-side
# construction and execution, chosen for the operator families and
# size-dependent choices later changes are expected to touch: the GEMM kNN
# chunk fan-out sized by the core count (knn_chunked), HNSW shard build and
# search (hnsw_recall), and driver-side union-find over MinHash-LSH pairs
# (dedup_clusters). The list is kept this short so that a run, set-up
# included, fits the benchmark's time budget on a busy 4-core host.
SEARCH_DEDUP = "knn_chunked hnsw_recall dedup_clusters".split()

#: embed_ingest steps. ``embed`` writes the table every other step reads, so
#: it always runs first; the seed orders the rest.
INGEST_FIRST = "embed"
INGEST_REST = ["export_csv", "pq_index", "stream"]

REGISTRY_WORKLOADS = {"search_dedup": SEARCH_DEDUP}
WORKLOADS = ("search_dedup", "embed_ingest")

#: The table each registry step reads; its rows are the step's input rows
#: that ``rows_per_s`` counts.
STEP_TABLES = {"knn_chunked": "embeddings", "hnsw_recall": "embeddings", "dedup_clusters": "documents"}

# Registry tables: fixed seed and sizes, so outputs can be pinned. Row
# counts and shape follow the repository's sf0.1 test tables: 5,000
# documents of 10-99 words over the same 30-word vocabulary, ~5% of them
# near duplicates ending in " dup", in 20 sources and 5 languages; 2,000
# unit-norm 64-dimensional embeddings with labels 0-9. Each table is one
# parquet row group, as there.
TABLE_SEED = 42
N_DOCS = 5_000
N_VECS = 2_000
VEC_DIM = 64
DOC_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
LANGS = (("en", 0.43), ("fr", 0.14), ("es", 0.15), ("zh", 0.14), ("de", 0.14))

# embed_ingest corpus shape: docs of 10-209 words over a 5,000-word
# Zipf-distributed vocabulary, in 8 base files plus 4 stream batches.
INGEST_DOCS = 10_000
INGEST_FILES = 8
STREAM_BATCHES = 4
STREAM_BATCH_DOCS = 1_000
INGEST_VOCAB = 5_000


def step_order(workload: str, seed: int, rounds: int) -> list[list[str]]:
    """The step order of each round: one seeded shuffle per round."""
    rng = random.Random(f"{workload}:{seed}")
    out = []
    for _ in range(rounds):
        if workload == "embed_ingest":
            rest = list(INGEST_REST)
            rng.shuffle(rest)
            out.append([INGEST_FIRST] + rest)
        else:
            steps = list(REGISTRY_WORKLOADS[workload])
            rng.shuffle(steps)
            out.append(steps)
    return out


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, row_group_size=1 << 20)


def write_registry_tables(data_dir: str) -> dict[str, int]:
    """Write the documents and embeddings parquet files the registry
    workloads read and return their row counts."""
    os.makedirs(data_dir, exist_ok=True)
    rng = np.random.default_rng(TABLE_SEED)

    langs = rng.choice([lang for lang, _ in LANGS], N_DOCS, p=[p for _, p in LANGS]).tolist()
    sources = [f"src{i % 20}" for i in range(N_DOCS)]
    texts: list[str] = []
    for i in range(N_DOCS):
        if i >= 20 and rng.random() < 0.05:
            # near duplicate of an earlier document in the same (lang, source)
            # block, so the blocked dedup steps find pairs
            j = int(rng.integers(0, i))
            texts.append(texts[j] + " dup")
            langs[i], sources[i] = langs[j], sources[j]
        else:
            n = int(rng.integers(10, 100))
            texts.append(" ".join(rng.choice(DOC_VOCAB, n)))
    docs = pa.table(
        {
            "doc_id": pa.array(range(N_DOCS), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs, pa.string()),
            "source": pa.array(sources, pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    _write(docs, os.path.join(data_dir, "documents.parquet"))

    vecs = rng.standard_normal((N_VECS, VEC_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pa.table(
        {
            "vec_id": pa.array(range(N_VECS), pa.int64()),
            "embedding": pa.array(vecs.tolist(), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, N_VECS).tolist(), pa.int32()),
        }
    )
    _write(emb, os.path.join(data_dir, "embeddings.parquet"))

    return {"documents": N_DOCS, "embeddings": N_VECS}


def _ingest_texts(rng: np.random.Generator, vocab: np.ndarray, p: np.ndarray, n: int) -> list[str]:
    lengths = rng.integers(10, 210, n)
    words = vocab[rng.choice(len(vocab), int(lengths.sum()), p=p)]
    ends = np.cumsum(lengths)
    return [" ".join(words[e - k : e]) for e, k in zip(ends.tolist(), lengths.tolist())]


def write_ingest_corpus(data_dir: str, seed: int) -> dict[str, int]:
    """Write the seeded embed_ingest corpus: ``corpus/`` (INGEST_FILES files)
    and ``stream/`` (STREAM_BATCHES batch files), each with (doc_id, text)."""
    rng = np.random.default_rng(seed)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab = sorted({"".join(rng.choice(letters, int(rng.integers(2, 11)))) for _ in range(INGEST_VOCAB * 2)})
    vocab = np.array(vocab[:INGEST_VOCAB], dtype=object)
    rng.shuffle(vocab)
    p = 1.0 / np.arange(1, len(vocab) + 1)
    p /= p.sum()

    def write_files(sub: str, start: int, sizes: list[int]) -> None:
        os.makedirs(os.path.join(data_dir, sub), exist_ok=True)
        for i, size in enumerate(sizes):
            texts = _ingest_texts(rng, vocab, p, size)
            table = pa.table(
                {
                    "doc_id": pa.array(range(start, start + size), pa.int64()),
                    "text": pa.array(texts, pa.string()),
                }
            )
            _write(table, os.path.join(data_dir, sub, f"part-{i:02d}.parquet"))
            start += size

    per_file = INGEST_DOCS // INGEST_FILES
    write_files("corpus", 0, [per_file] * INGEST_FILES)
    write_files("stream", per_file * INGEST_FILES, [STREAM_BATCH_DOCS] * STREAM_BATCHES)
    return {"corpus": per_file * INGEST_FILES, "stream": STREAM_BATCH_DOCS * STREAM_BATCHES}
