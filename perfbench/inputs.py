"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of ``(seed, size)``: the same seed writes
byte-identical files, another seed writes different ones. The engine only
ever sees the files written here; the expected answers (numpy and DuckDB
oracles) are computed by the workloads from the same files.

Sizes keep one op within seconds on a 4-vCPU VM at ``local[4]`` (about
2 s kmeans, 3 s gemm, 5 s damds, 11 s corpus_shards), where fixed per-job
and per-micro-batch costs, not the data, dominate. ``SMOKE`` sizes make
every op as small as the engine allows, for the self-tests.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


@dataclass(frozen=True)
class Sizes:
    # kmeans: Gaussian blobs in 2-d around k uniform centres (the reference
    # KMeansDataGenerator shape: range 100, relative std 0.08)
    km_points: int
    km_k: int
    km_iters: int
    # damds: N×N int16 distance + weight matrices, a share of pairs missing
    md_n: int
    md_missing: float
    # gemm: A (rows × inner) float64 big-endian file, B (inner × cols) array
    mm_rows: int
    mm_inner: int
    mm_cols: int
    # corpus_shards: documents, near-duplicate share per source
    cs_docs: int
    cs_sources: int
    cs_dup_rate: float


FULL = Sizes(
    km_points=150_000, km_k=1000, km_iters=2,
    md_n=400, md_missing=0.05,
    mm_rows=4000, mm_inner=500, mm_cols=128,
    cs_docs=400, cs_sources=10, cs_dup_rate=0.2,
)
SMOKE = Sizes(
    km_points=4000, km_k=20, km_iters=2,
    md_n=60, md_missing=0.05,
    mm_rows=200, mm_inner=40, mm_cols=8,
    cs_docs=120, cs_sources=4, cs_dup_rate=0.2,
)

# One independent random stream per workload, so adding a workload never
# shifts another workload's inputs for the same seed.
_STREAM = {"kmeans": 1, "damds": 2, "gemm": 3, "corpus_shards": 4}


def rng_for(workload: str, seed: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), _STREAM[workload]])


def kmeans_inputs(out_dir: str, seed: int, s: Sizes) -> dict:
    """points.parquet (features ARRAY<DOUBLE>) and init.npy (k × 2)."""
    rng = rng_for("kmeans", seed)
    centres = rng.uniform(0.0, 100.0, size=(s.km_k, 2))
    which = rng.integers(0, s.km_k, size=s.km_points)
    pts = centres[which] + rng.normal(0.0, 0.08 * 100.0, size=(s.km_points, 2))
    init = pts[rng.choice(s.km_points, size=s.km_k, replace=False)]
    flat = pa.array(pts.ravel(), type=pa.float64())
    feats = pa.FixedSizeListArray.from_arrays(flat, 2).cast(pa.list_(pa.float64()))
    path = os.path.join(out_dir, "points.parquet")
    pq.write_table(pa.table({"features": feats}), path, compression="none")
    init_path = os.path.join(out_dir, "init.npy")
    np.save(init_path, init)
    return {"points": path, "init": init_path}


def damds_inputs(out_dir: str, seed: int, s: Sizes) -> dict:
    """Headerless big-endian int16 distance and weight files (N × N).

    Distances come from random 3-d points, normalised to [0, 1] and
    quantised ×32767; a symmetric ``md_missing`` share of off-diagonal
    pairs is -1 (missing). Weights are random positive shorts, so the
    weighted CG multiply (``v_multiply``) runs."""
    rng = rng_for("damds", seed)
    n = s.md_n
    x = rng.uniform(-1.0, 1.0, size=(n, 3))
    d = np.sqrt(((x[:, None, :] - x[None, :, :]) ** 2).sum(-1))
    q = np.round(d / d.max() * 32767.0).astype(np.int16)
    miss = np.triu(rng.random((n, n)) < s.md_missing, 1)
    miss |= miss.T
    q[miss] = -1
    w = rng.integers(1000, 32768, size=(n, n)).astype(np.int16)
    w = np.triu(w) + np.triu(w, 1).T
    dist_path = os.path.join(out_dir, "dist.bin")
    weight_path = os.path.join(out_dir, "weight.bin")
    q.astype(">i2").tofile(dist_path)
    w.astype(">i2").tofile(weight_path)
    return {"dist": dist_path, "weight": weight_path, "n": n}


def gemm_inputs(out_dir: str, seed: int, s: Sizes) -> dict:
    """A as a headerless big-endian float64 file, B as an .npy array."""
    rng = rng_for("gemm", seed)
    a = rng.standard_normal((s.mm_rows, s.mm_inner))
    b = rng.standard_normal((s.mm_inner, s.mm_cols))
    a_path = os.path.join(out_dir, "a.bin")
    b_path = os.path.join(out_dir, "b.npy")
    a.astype(">f8").tofile(a_path)
    np.save(b_path, b)
    return {"a": a_path, "b": b_path, "rows": s.mm_rows, "inner": s.mm_inner}


# The testdata corpus's word list shape: short lower-case tokens. A wider
# vocabulary than the testdata's keeps accidental 3-shingle overlap between
# unrelated documents rare, so near-dup pairs come from the planted clusters.
_VOCAB = [
    f"{a}{b}" for a in ("scan", "join", "agg", "sort", "hash", "key", "row", "part",
                        "data", "batch", "spark", "table", "query", "value", "group")
    for b in ("", "s", "ed", "er", "ing", "al", "ly", "ion", "ive", "or", "ist", "ure")
]
_LANGS = ["en", "en", "en", "zh", "es", "de", "fr"]


def corpus_inputs(out_dir: str, seed: int, s: Sizes) -> dict:
    """``<dir>/documents.parquet`` in the testdata documents schema.

    A ``cs_dup_rate`` share of documents are near-copies of an earlier
    document of the same ``source``: one word replaced and one appended,
    which keeps their word-3-shingle Jaccard far above the MinHash
    threshold, so the band store finds and decides real pairs."""
    rng = rng_for("corpus_shards", seed)
    texts: list[str] = []
    sources: list[str] = []
    langs: list[str] = []
    by_source: dict[str, list[int]] = {}
    for i in range(s.cs_docs):
        src = f"src{int(rng.integers(0, s.cs_sources))}"
        prior = by_source.setdefault(src, [])
        if prior and rng.random() < s.cs_dup_rate:
            base = texts[prior[int(rng.integers(0, len(prior)))]].split()
            base[int(rng.integers(0, len(base)))] = _VOCAB[int(rng.integers(0, len(_VOCAB)))]
            base.append(_VOCAB[int(rng.integers(0, len(_VOCAB)))])
            words = base
        else:
            n_words = int(rng.integers(12, 90))
            words = [_VOCAB[j] for j in rng.integers(0, len(_VOCAB), size=n_words)]
        texts.append(" ".join(words))
        sources.append(src)
        langs.append(_LANGS[int(rng.integers(0, len(_LANGS)))])
        prior.append(i)
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(s.cs_docs, dtype=np.int64)),
            "text": pa.array(texts, type=pa.string()),
            "lang": pa.array(langs, type=pa.string()),
            "source": pa.array(sources, type=pa.string()),
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }
    )
    path = os.path.join(out_dir, "documents.parquet")
    pq.write_table(table, path, compression="none")
    return {"dir": out_dir, "documents": path, "n_docs": s.cs_docs}


GENERATORS = {
    "kmeans": kmeans_inputs,
    "damds": damds_inputs,
    "gemm": gemm_inputs,
    "corpus_shards": corpus_inputs,
}


def generate(workload: str, out_dir: str, seed: int, sizes: Sizes) -> dict:
    os.makedirs(out_dir, exist_ok=True)
    return GENERATORS[workload](out_dir, seed, sizes)


def digest(out_dir: str) -> str:
    """sha256 over every generated file (name + bytes), in name order."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(out_dir)):
        h.update(name.encode())
        with open(os.path.join(out_dir, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()
