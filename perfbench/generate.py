"""Seeded input generator for the benchmark.

Writes the two tables the package reads, with the testdata schemas:

* ``embeddings`` — ``(vec_id long, embedding array<float>, label int)``:
  ``dim``-d vectors in ``clusters`` Zipf-sized clusters (``label`` is the
  generating cluster), plus a stated share of exact copies and of
  near copies (one element nudged) of earlier rows;
* ``documents`` — ``(doc_id long, text string, lang string, source
  string, n_chars long)``: word sequences over a Zipf vocabulary, plus a
  stated share of exact and of near duplicates (one word replaced).

Every array comes from ``numpy.random.default_rng(seed)``, so the same
seed and sizes give byte-identical tables. The manifest records the
generated row counts, the duplicate shares, the cluster sizes and the
within-cluster ordered pair count Σ n·(n−1) — the work a cluster-scoped
dedup pays.
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EMBEDDING_SCHEMA = pa.schema(
    [
        ("vec_id", pa.int64()),
        ("embedding", pa.list_(pa.float32())),
        ("label", pa.int32()),
    ]
)
DOCUMENT_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)

_LANGS = np.array(["en", "en", "en", "de", "fr"])
_SOURCES = np.array(["web", "web", "web", "books", "code", "wiki"])


@dataclass(frozen=True)
class Sizes:
    """Input sizes of one workload. ``*_dup_frac`` rows are exact copies
    of earlier rows and ``*_near_frac`` rows are near copies; both count
    inside ``n_vectors`` / ``n_docs``."""

    n_vectors: int
    n_docs: int
    dim: int = 64
    clusters: int = 32
    zipf_s: float = 1.0
    vec_dup_frac: float = 0.05
    vec_near_frac: float = 0.05
    doc_dup_frac: float = 0.05
    doc_near_frac: float = 0.05
    vocab: int = 400
    min_words: int = 12
    max_words: int = 48


def cluster_sizes(n: int, k: int, s: float) -> np.ndarray:
    """Zipf(s) split of ``n`` rows over ``k`` clusters, every cluster
    non-empty, largest first."""
    w = 1.0 / np.arange(1, k + 1) ** s
    sizes = np.maximum(1, np.floor(n * w / w.sum()).astype(np.int64))
    sizes[0] += n - sizes.sum()
    return sizes


def _copies(rng: np.random.Generator, n: int, dup: float, near: float):
    """Row roles: for each row, the index of the earlier row it copies
    (−1 for an original) and whether the copy is near (else exact)."""
    src = np.full(n, -1, dtype=np.int64)
    is_near = np.zeros(n, dtype=bool)
    n_dup, n_near = int(round(n * dup)), int(round(n * near))
    # copies sit in the upper half so each has earlier originals
    rows = rng.choice(np.arange(n // 2, n), size=n_dup + n_near, replace=False)
    for j, r in enumerate(rows):
        src[r] = rng.integers(0, n // 2)
        is_near[r] = j >= n_dup
    return src, is_near


def embeddings(rng: np.random.Generator, sz: Sizes) -> tuple[pa.Table, np.ndarray]:
    """The embedding table and the per-cluster sizes."""
    sizes = cluster_sizes(sz.n_vectors, sz.clusters, sz.zipf_s)
    labels = rng.permutation(np.repeat(np.arange(sz.clusters), sizes))
    centers = rng.normal(size=(sz.clusters, sz.dim))
    x = centers[labels] + 0.6 * rng.normal(size=(sz.n_vectors, sz.dim))
    src, is_near = _copies(rng, sz.n_vectors, sz.vec_dup_frac, sz.vec_near_frac)
    for r in np.flatnonzero(src >= 0):
        x[r] = x[src[r]]
        labels[r] = labels[src[r]]
        if is_near[r]:
            x[r, rng.integers(0, sz.dim)] += 0.02
    x = x.astype(np.float32)
    return (
        pa.table(
            {
                "vec_id": pa.array(np.arange(sz.n_vectors, dtype=np.int64)),
                "embedding": pa.FixedSizeListArray.from_arrays(
                    pa.array(x.reshape(-1)), sz.dim
                ).cast(pa.list_(pa.float32())),
                "label": pa.array(labels.astype(np.int32)),
            },
            schema=EMBEDDING_SCHEMA,
        ),
        np.bincount(labels, minlength=sz.clusters),
    )


def _word(i: int) -> str:
    letters = "abcdefghijklmnopqrstuvwxyz"
    out = ""
    i += 26
    while i:
        i, r = divmod(i, 26)
        out = letters[r] + out
    return out


def documents(rng: np.random.Generator, sz: Sizes) -> pa.Table:
    words = np.array([_word(i) for i in range(sz.vocab)])
    p = 1.0 / np.arange(1, sz.vocab + 1) ** 1.1
    p /= p.sum()
    lengths = rng.integers(sz.min_words, sz.max_words + 1, size=sz.n_docs)
    toks = [list(words[rng.choice(sz.vocab, size=n, p=p)]) for n in lengths]
    src, is_near = _copies(rng, sz.n_docs, sz.doc_dup_frac, sz.doc_near_frac)
    for r in np.flatnonzero(src >= 0):
        toks[r] = list(toks[src[r]])
        if is_near[r]:
            toks[r][rng.integers(0, len(toks[r]))] = str(words[rng.integers(0, sz.vocab)])
    text = [" ".join(t) + "." for t in toks]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(sz.n_docs, dtype=np.int64)),
            "text": pa.array(text),
            "lang": pa.array(_LANGS[rng.integers(0, len(_LANGS), sz.n_docs)]),
            "source": pa.array(_SOURCES[rng.integers(0, len(_SOURCES), sz.n_docs)]),
            "n_chars": pa.array(np.array([len(t) for t in text], dtype=np.int64)),
        },
        schema=DOCUMENT_SCHEMA,
    )


def generate(seed: int, sz: Sizes) -> tuple[dict[str, pa.Table], dict]:
    """``({"embeddings": ..., "documents": ...}, manifest)`` for one seed."""
    rng = np.random.default_rng(seed)
    emb, csizes = embeddings(rng, sz)
    docs = documents(rng, sz)
    manifest = {
        "seed": seed,
        "sizes": asdict(sz),
        "rows": {"embeddings": emb.num_rows, "documents": docs.num_rows},
        "dup_shares": {
            "embeddings_exact": sz.vec_dup_frac,
            "embeddings_near": sz.vec_near_frac,
            "documents_exact": sz.doc_dup_frac,
            "documents_near": sz.doc_near_frac,
        },
        "cluster_sizes": [int(c) for c in csizes],
        "cluster_pairs": int((csizes * (csizes - 1)).sum()),
    }
    return {"embeddings": emb, "documents": docs}, manifest


def write(tables: dict[str, pa.Table], manifest: dict, out_dir: str) -> None:
    """Write ``<name>.parquet`` per table plus ``manifest.json`` (the
    manifest also carries a SHA-256 digest of each table's content)."""
    os.makedirs(out_dir, exist_ok=True)
    digests = {}
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
        digests[name] = table_digest(tbl)
    with open(os.path.join(out_dir, "manifest.json"), "w", encoding="utf-8") as fh:
        json.dump({**manifest, "digests": digests}, fh, indent=1)


def table_digest(tbl: pa.Table) -> str:
    h = hashlib.sha256()
    for col in tbl.columns:
        for chunk in col.chunks:
            for buf in chunk.buffers():
                if buf is not None:
                    h.update(buf)
    return h.hexdigest()
