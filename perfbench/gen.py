"""Seeded input generator for the refresh-and-serve benchmark.

Everything the program under test reads is written here as parquet, from
the seed alone; the same (workload, seed, scale) always gives the same
bytes. The generator also returns the expectations the benchmark checks
outputs against, derived from the generated rows and the planted-delta
rules of ``operators/catalog.py`` (doc_id % 11 == 3 reads as new,
% 13 == 2 as updated, % 17 == 0 adds a catalog-only ghost).

Run on its own to inspect an input set:

    python3 perfbench/gen.py --workload refresh_small_docs --seed 1 --out /tmp/pb
"""

from __future__ import annotations

import argparse
import json
import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Input sizes per workload and scale. "full" is what the benchmark
# measures; "tiny" is the smoke-test size.
SIZES = {
    "full": {
        "refresh_small_docs": {"docs": 20_000, "tokens": (3, 12)},
        "refresh_long_docs": {"docs": 40, "tokens": (1_000, 3_000)},
        "serve_and_publish": {"vectors": 200, "dim": 2000, "rows": 400, "batch": 200},
    },
    "tiny": {
        "refresh_small_docs": {"docs": 400, "tokens": (3, 12)},
        "refresh_long_docs": {"docs": 6, "tokens": (1_000, 3_000)},
        "serve_and_publish": {"vectors": 160, "dim": 64, "rows": 80, "batch": 20},
    },
}

N_SOURCES = 20
VOCAB = 4000
CHUNK_TOKENS = 32  # operators/chunking.CHUNK_TOKENS
SECTION_TOKENS = 64  # operators/chunking.SECTION_TOKENS
N_CELLS = 16  # operators/advanced.NCELLS: codebook rows are vec_id 100..115
CODEBOOK_BASE = 100
N_BATCHES = 12
NEW_PER_BATCH = 0.25  # share of each publish batch that inserts new keys


def _vocab(rng: np.random.Generator) -> np.ndarray:
    lengths = rng.integers(2, 11, VOCAB)
    letters = rng.integers(0, 26, int(lengths.sum()))
    chars = np.frombuffer((letters + ord("a")).astype(np.uint8).tobytes(), dtype="S1")
    cuts = np.cumsum(lengths)[:-1]
    return np.array([b"".join(w).decode() for w in np.split(chars, cuts)])


def write_documents(rng: np.random.Generator, out: str, n_docs: int, tok_range) -> dict:
    """documents.parquet with contiguous doc_ids; Zipf-like token mix."""
    vocab = _vocab(rng)
    p = 1.0 / np.arange(1, VOCAB + 1)
    p /= p.sum()
    # evenly spread lengths in seeded order: every seed chunks the same
    # number of tokens, so seeds vary the text, not the amount of work
    n_tok = rng.permutation(np.linspace(tok_range[0], tok_range[1], n_docs).round().astype(np.int64))
    words = vocab[rng.choice(VOCAB, int(n_tok.sum()), p=p)]
    bounds = np.concatenate([[0], np.cumsum(n_tok)])
    texts = [" ".join(words[bounds[i] : bounds[i + 1]]) for i in range(n_docs)]
    sources = rng.integers(0, N_SOURCES, n_docs)
    doc_id = np.arange(n_docs, dtype=np.int64)
    table = pa.table(
        {
            "doc_id": doc_id,
            "text": texts,
            "lang": ["en"] * n_docs,
            "source": [f"src{s:02d}" for s in sources],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    path = os.path.join(out, "documents.parquet")
    pq.write_table(table, path)

    new = doc_id % 11 == 3
    updated = ~new & (doc_id % 13 == 2)
    ghosts = int((doc_id % 17 == 0).sum())
    expect = {
        "delta": n_docs + ghosts,
        "sections": int(np.ceil(n_tok / SECTION_TOKENS).sum()),
        "chunks": int(np.ceil(n_tok / CHUNK_TOKENS).sum()),
        "embeddings": n_docs,
        "master": n_docs,
        "validation": int(len(np.unique(sources))),
        "monitor_logs": 6,
    }
    return {
        "stage_counts": expect,
        "actions": {
            "new": int(new.sum()),
            "updated": int(updated.sum()),
            "deleted": ghosts,
            "unchanged": int(n_docs - new.sum() - updated.sum()),
        },
        "tokens": int(n_tok.sum()),
        "text_bytes": int(sum(len(t.encode()) for t in texts)),
        "input_bytes": os.path.getsize(path),
        "input_rows": n_docs,
    }


def _chunk_rows(rng, keys, dim, tag):
    n = len(keys)
    return {
        "document_id": np.array([k[0] for k in keys], dtype=np.int64),
        "chunk_number": np.array([k[1] for k in keys], dtype=np.int64),
        "chunk_content": [f"{tag} doc {d} chunk {c}" for d, c in keys],
        "embedding": pa.array(
            list(rng.normal(size=(n, dim)).astype(np.float32)), type=pa.list_(pa.float32())
        ),
    }


def write_serving(rng: np.random.Generator, out: str, n_vec: int, dim: int, n_rows: int, batch: int) -> dict:
    """Clustered embeddings for the IVF index, the seed rows of the
    published table, and the upsert batches in publish order."""
    centers = rng.normal(size=(N_CELLS, dim))
    labels = rng.integers(0, N_CELLS, n_vec)
    labels[CODEBOOK_BASE : CODEBOOK_BASE + N_CELLS] = np.arange(N_CELLS)
    noise = np.where(
        (np.arange(n_vec) >= CODEBOOK_BASE) & (np.arange(n_vec) < CODEBOOK_BASE + N_CELLS), 0.05, 0.6
    )
    vecs = (centers[labels] + noise[:, None] * rng.normal(size=(n_vec, dim))).astype(np.float32)
    emb_path = os.path.join(out, "embeddings.parquet")
    pq.write_table(
        pa.table(
            {
                "vec_id": np.arange(n_vec, dtype=np.int64),
                "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
                "label": labels.astype(np.int32),
            }
        ),
        emb_path,
    )

    keys = [(i // 4, i % 4) for i in range(n_rows)]
    pq.write_table(pa.table(_chunk_rows(rng, keys, dim, "seed")), os.path.join(out, "seed_rows.parquet"))
    live = set(keys)
    next_doc = n_rows // 4 + 1
    n_new = int(batch * NEW_PER_BATCH)
    os.makedirs(os.path.join(out, "batches"), exist_ok=True)
    for b in range(N_BATCHES):
        existing = sorted(live)
        pick = rng.choice(len(existing), batch - n_new, replace=False)
        fresh = [(next_doc + i // 4, i % 4) for i in range(n_new)]
        next_doc += math.ceil(n_new / 4)
        bkeys = [existing[i] for i in sorted(pick)] + fresh
        live.update(fresh)
        pq.write_table(
            pa.table(_chunk_rows(rng, bkeys, dim, f"batch {b}")),
            os.path.join(out, "batches", f"b{b:03d}.parquet"),
        )
    return {
        "vectors": vecs,
        "seed_keys": keys,
        "batch_size": batch,
        "n_batches": N_BATCHES,
        "input_bytes": os.path.getsize(emb_path),
        "input_rows": n_vec,
    }


def generate(workload: str, seed: int, out: str, scale: str = "full") -> dict:
    """Write the inputs for ``workload`` under ``out``; return expectations."""
    size = SIZES[scale][workload]
    rng = np.random.default_rng([seed, sorted(SIZES["full"]).index(workload)])
    os.makedirs(out, exist_ok=True)
    if workload == "serve_and_publish":
        return write_serving(rng, out, size["vectors"], size["dim"], size["rows"], size["batch"])
    return write_documents(rng, out, size["docs"], size["tokens"])


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES["full"]))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--scale", default="full", choices=sorted(SIZES))
    a = ap.parse_args()
    info = generate(a.workload, a.seed, a.out, a.scale)
    info.pop("vectors", None)
    info.pop("seed_keys", None)
    print(json.dumps(info, indent=1, sort_keys=True))


if __name__ == "__main__":
    main()
