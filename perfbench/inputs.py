"""Seeded input generators for the three workloads.

Every generator is a pure function of its seed arguments: the same seed
gives byte-identical parquet files (pyarrow writes no timestamps into the
file, and every value comes from ``numpy.random.default_rng``).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---- segment: smoothed-noise images --------------------------------------

IMAGE_SIDE = 1280
BLOB_SIGMA = 6.0  # generator smoothing; blobs are ~4 sigma across
FOREGROUND = 0.40  # share of pixels above the threshold before the job's blur


def _fft_blur(a: np.ndarray, sigma: float) -> np.ndarray:
    fy = np.fft.fftfreq(a.shape[0])[:, None]
    fx = np.fft.fftfreq(a.shape[1])[None, :]
    resp = np.exp(-2.0 * np.pi**2 * sigma**2 * (fy**2 + fx**2))
    return np.real(np.fft.ifft2(np.fft.fft2(a) * resp))


def make_image(seed: int, index: int, side: int = IMAGE_SIDE):
    """(image, threshold): smoothed unit-variance noise shifted to positive
    values, and the level above which ``FOREGROUND`` of its pixels lie."""
    rng = np.random.default_rng([seed, 1, index])
    img = _fft_blur(rng.standard_normal((side, side)), BLOB_SIGMA)
    img = 4.0 + img / img.std()
    thr = float(np.quantile(img, 1.0 - FOREGROUND))
    return img, thr


def write_image(path: str, img: np.ndarray) -> None:
    h, w = img.shape
    ys, xs = np.indices((h, w), dtype=np.int32)
    table = pa.table(
        {"y": ys.ravel(), "x": xs.ravel(), "value": img.ravel().astype(np.float64)}
    )
    pq.write_table(table, path)


# ---- dedup: Zipfian corpus with planted near-duplicate clusters ----------

CORPUS_DOCS = 10_000
VOCAB = 20_000
ZIPF_S = 1.1
DOC_TOKENS = (30, 90)
DUP_FRACTION = 0.2  # share of documents that are edited copies of another
CLUSTER_SIZE = (2, 4)  # copies per planted cluster, original included
EDITS = (1, 3)  # tokens replaced per copy


def _vocab_cdf() -> np.ndarray:
    p = 1.0 / np.arange(1, VOCAB + 1) ** ZIPF_S
    return np.cumsum(p / p.sum())


def make_corpus(seed: int, index: int, n_docs: int = CORPUS_DOCS):
    """(doc_ids, token lists, planted pairs).

    Planted pairs are every (a, b), a < b, within one cluster: an original
    document and its copies, each copy with a few tokens replaced."""
    rng = np.random.default_rng([seed, 2, index])
    cdf = _vocab_cdf()
    n_dup = int(n_docs * DUP_FRACTION)
    docs: list[list[int]] = []
    clusters: list[list[int]] = []
    while len(docs) < n_docs - n_dup:
        n_tok = int(rng.integers(DOC_TOKENS[0], DOC_TOKENS[1] + 1))
        draws = np.searchsorted(cdf, rng.random(n_tok), side="right")
        docs.append(np.minimum(draws, VOCAB - 1).tolist())
    originals = len(docs)
    while len(docs) < n_docs:
        src = int(rng.integers(0, originals))
        members = [src]
        for _ in range(int(rng.integers(CLUSTER_SIZE[0] - 1, CLUSTER_SIZE[1]))):
            if len(docs) >= n_docs:
                break
            copy = list(docs[src])
            for _ in range(int(rng.integers(EDITS[0], EDITS[1] + 1))):
                copy[int(rng.integers(0, len(copy)))] = int(rng.integers(0, VOCAB))
            members.append(len(docs))
            docs.append(copy)
        clusters.append(members)
    # shuffle ids so copies are not adjacent to their originals
    perm = rng.permutation(n_docs)
    ids = (perm.astype(np.int64) + index * 1_000_000).tolist()
    planted = set()
    for members in clusters:
        for i in members:
            for j in members:
                a, b = ids[i], ids[j]
                if a < b:
                    planted.add((a, b))
    texts = [[f"w{t}" for t in d] for d in docs]
    return ids, texts, planted


def write_corpus(path: str, ids: list[int], texts: list[list[str]]) -> None:
    table = pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array([" ".join(t) for t in texts], pa.string()),
        }
    )
    pq.write_table(table, path)


# ---- interactive: seeded query order ----------------------------------


def query_order(seed: int, names: list[str], n: int) -> list[str]:
    """``n`` query names: whole shuffled passes over ``names``, so every
    query appears equally often and the seed sets the order."""
    rng = np.random.default_rng([seed, 4])
    out: list[str] = []
    while len(out) < n:
        out.extend(names[i] for i in rng.permutation(len(names)))
    return out[:n]
