"""Seeded input generators. Every input of a run is a function of the
workload seed alone; sizes are fixed so that seeds change values, never
the amount of work."""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# -- nc_ingest: the grid ---------------------------------------------------------

GRID_LINES = 1536  # records along the UNLIMITED time dim (x 32 x 32 cells)
GRID_Y = GRID_X = 32
CHUNK_LINES = 16  # storage chunk / HDF5 chunk0, as the engine's fixtures
WINDOW_LINES = 256  # width of the seeded time-window aggregate
NOISE_SD = 0.5


def grid(seed: int) -> dict[str, np.ndarray]:
    """The engine's closed-form grid plus seeded Gaussian noise, so deflate
    sees real entropy instead of a 31x-compressible field."""
    from netcdf4_variable_streamer_spark.sources.queries import grid_values

    rng = np.random.default_rng([seed, 1])
    base = grid_values(0, GRID_LINES)
    return {
        name: (a + rng.normal(0.0, NOISE_SD, a.shape)).astype(np.float32)
        for name, a in base.items()
    }


def window(seed: int) -> tuple[int, int]:
    """Seeded [lo, hi) time window of fixed width."""
    rng = np.random.default_rng([seed, 2])
    lo = int(rng.integers(0, GRID_LINES - WINDOW_LINES + 1))
    return lo, lo + WINDOW_LINES


def fixed_point_sum(a: np.ndarray) -> float:
    """NumPy twin of the engine's order-independent ``dsum``: exact integer
    accumulation of floor(x * 1e6), so the result is bit-comparable."""
    fx = np.floor(a.astype(np.float64).ravel() * 1000000).astype(np.int64)
    return float(int(fx.sum())) / 1000000


# -- crawl_stream: the document feed ---------------------------------------------

# The 31-word vocabulary and 10..100-word uniform lengths of the sf0.1
# documents table, which the benchmark cannot read at run time.
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
FEED_BATCHES = 4
FEED_DOCS_PER_BATCH = 220
DUP_SHARE = 0.25  # share of docs in batches >= 1 that rewrite an earlier doc
REWRITE_SHARE = 0.08  # share of a rewritten doc's words that are replaced


def doc_feed(seed: int) -> list[dict[str, list]]:
    """FEED_BATCHES micro-batches of documents (columns doc_id, text, lang,
    source, n_chars). Batches >= 1 carry DUP_SHARE near-duplicate rewrites
    of documents from earlier batches; doc ids rise across batches."""
    rng = np.random.default_rng([seed, 3])
    texts: list[str] = []
    batches = []
    for b in range(FEED_BATCHES):
        ids, txt = [], []
        for _ in range(FEED_DOCS_PER_BATCH):
            if b > 0 and rng.random() < DUP_SHARE:
                words = texts[int(rng.integers(0, len(texts)))].split()
                for i in np.nonzero(rng.random(len(words)) < REWRITE_SHARE)[0]:
                    words[i] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            else:
                n = int(rng.integers(10, 101))
                words = [VOCAB[i] for i in rng.integers(0, len(VOCAB), n)]
            ids.append(len(texts) + len(txt))
            txt.append(" ".join(words))
        texts.extend(txt)
        batches.append(
            {
                "doc_id": ids,
                "text": txt,
                "lang": [LANGS[i] for i in rng.integers(0, 5, len(ids))],
                "source": [f"src{i}" for i in rng.integers(0, 20, len(ids))],
                "n_chars": [len(t) for t in txt],
            }
        )
    return batches


DOC_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)


def write_feed(batches: list[dict[str, list]], stream_dir: str) -> None:
    """One parquet file per micro-batch. The file stream source takes files
    in modification-time order, so each file's mtime is set one second
    after the previous one's: files written within the same clock tick
    would otherwise be read out of batch order."""
    os.makedirs(stream_dir, exist_ok=True)
    for i, b in enumerate(batches):
        path = os.path.join(stream_dir, f"part-{i:04d}.parquet")
        pq.write_table(pa.table(b, schema=DOC_SCHEMA), path)
        os.utime(path, (1_000_000_000 + i, 1_000_000_000 + i))


# -- similarity: perturbed replicas of an embeddings corpus ----------------------

EMB_BASE = 100  # distinct base vectors
EMB_REPLICAS = 10  # jittered replicas of each (the 10x replica fixture shape)
EMB_DIM = 64


def embeddings(seed: int) -> pa.Table:
    """EMB_BASE x EMB_REPLICAS vectors shaped like the engine's 10x
    perturbed-replica fixture: replica r of base vector v gets a small
    per-dimension jitter, so each vector's true neighbours are its
    siblings. Base values ~N(0, 0.1) as in the embeddings table."""
    rng = np.random.default_rng([seed, 4])
    base = rng.normal(0.0, 0.1, (EMB_BASE, EMB_DIM))
    jitter = rng.integers(-5, 6, (EMB_REPLICAS, EMB_BASE, EMB_DIM)) * 0.001
    vecs = (base[None, :, :] + jitter).reshape(-1, EMB_DIM).astype(np.float32)
    n = len(vecs)
    ids = np.arange(n, dtype=np.int64)
    labels = (np.tile(np.arange(EMB_BASE), EMB_REPLICAS) % 10).astype(np.int32)
    emb = pa.FixedSizeListArray.from_arrays(
        pa.array(vecs.ravel(), pa.float32()), EMB_DIM
    ).cast(pa.list_(pa.float32()))
    return pa.table({"vec_id": ids, "embedding": emb, "label": labels})
