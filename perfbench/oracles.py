"""Independent reference implementations the benchmark checks outputs with.

None of these import the engine: the gaussian is a whole-image numpy
correlation, the labeling a run-length union-find in plain Python, and the
MinHash family a ``hashlib`` reimplementation of the engine's sliced-md5
hashes (8-hex-char slice ``s % 4`` of ``md5("{s // 4}:" + shingle)``).
"""

from __future__ import annotations

import hashlib
import math

import numpy as np

# ---- segment --------------------------------------------------------------


def gaussian_taps(sigma: float, truncate: float = 4.0) -> np.ndarray:
    radius = int(truncate * sigma + 0.5)
    x = np.arange(-radius, radius + 1, dtype=np.float64)
    phi = np.exp(-0.5 * x * x / (sigma * sigma))
    return phi / phi.sum()


def gaussian_reflect(img: np.ndarray, sigma: float) -> np.ndarray:
    """Separable gaussian with scipy's ``reflect`` boundary
    (``d c b a | a b c d``), which is numpy's ``symmetric`` pad."""
    taps = gaussian_taps(sigma)
    r = len(taps) // 2
    p = np.pad(img, r, mode="symmetric")
    h, w = img.shape
    rows = sum(t * p[k:k + h, :] for k, t in enumerate(taps))
    return sum(t * rows[:, k:k + w] for k, t in enumerate(taps))


def label_runs(mask: np.ndarray) -> np.ndarray:
    """4-connected component labels; each component is labeled by the
    minimum ravel index (y * W + x) of its pixels, background is -1."""
    h, w = mask.shape
    runs = []  # (y, x0, x1) half-open
    row_runs: list[list[int]] = []
    for y in range(h):
        row = mask[y]
        d = np.diff(np.concatenate(([0], row.astype(np.int8), [0])))
        starts = np.flatnonzero(d == 1)
        ends = np.flatnonzero(d == -1)
        ids = []
        for a, b in zip(starts.tolist(), ends.tolist()):
            ids.append(len(runs))
            runs.append((y, a, b))
        row_runs.append(ids)
    parent = list(range(len(runs)))

    def find(i: int) -> int:
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    for y in range(1, h):
        above, here = row_runs[y - 1], row_runs[y]
        i = j = 0
        while i < len(above) and j < len(here):
            _, a0, a1 = runs[above[i]]
            _, b0, b1 = runs[here[j]]
            if a0 < b1 and b0 < a1:  # column intervals overlap
                ra, rb = find(above[i]), find(here[j])
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
            if a1 <= b1:
                i += 1
            else:
                j += 1
    # runs are created in ravel order, so a root run's start is its
    # component's minimum ravel index
    out = np.full((h, w), -1, dtype=np.int64)
    for k, (y, a, b) in enumerate(runs):
        ry, ra, _ = runs[find(k)]
        out[y, a:b] = ry * w + ra
    return out


def label_table(smoothed: np.ndarray, labels: np.ndarray) -> dict[int, tuple]:
    """label -> (area, mean, com_y, com_x) over the labeled pixels."""
    fg = labels >= 0
    lab = labels[fg]
    uniq, inv = np.unique(lab, return_inverse=True)
    ys, xs = np.nonzero(fg)
    v = smoothed[fg]
    area = np.bincount(inv)
    sv = np.bincount(inv, weights=v)
    sy = np.bincount(inv, weights=ys * v)
    sx = np.bincount(inv, weights=xs * v)
    return {
        int(u): (int(a), s / a, y / s, x / s)
        for u, a, s, y, x in zip(uniq, area, sv, sy, sx)
    }


def tables_match(engine: dict, ref: dict, rel: float = 1e-9) -> bool:
    if engine.keys() != ref.keys():
        return False
    for k, (area, *floats) in ref.items():
        e_area, *e_floats = engine[k]
        if e_area != area:
            return False
        if not all(math.isclose(a, b, rel_tol=rel) for a, b in zip(e_floats, floats)):
            return False
    return True


# ---- dedup ----------------------------------------------------------------


def shingles(tokens: list[str], k: int = 3) -> set[str]:
    return {" ".join(tokens[i:i + k]) for i in range(len(tokens) - k + 1)}


def minhash(sh: set[str], n_hashes: int = 8) -> tuple[str, ...]:
    digests = [
        [hashlib.md5(f"{seed}:{s}".encode()).hexdigest() for s in sh]
        for seed in range(-(-n_hashes // 4))
    ]
    return tuple(
        min(h[8 * (i % 4):8 * (i % 4) + 8] for h in digests[i // 4])
        for i in range(n_hashes)
    )


def band_pairs(ids: list[int], sigs: list[tuple[str, ...]],
               rows_per_band: int = 2) -> set[tuple[int, int]]:
    """Pairs (a < b) agreeing on every row of at least one band."""
    buckets: dict[tuple, list[int]] = {}
    for doc, sig in zip(ids, sigs):
        for b in range(len(sig) // rows_per_band):
            key = (b, "".join(sig[b * rows_per_band:(b + 1) * rows_per_band]))
            buckets.setdefault(key, []).append(doc)
    out = set()
    for docs in buckets.values():
        docs.sort()
        for i, a in enumerate(docs):
            for b in docs[i + 1:]:
                if a != b:
                    out.add((a, b))
    return out


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b) if a or b else 1.0
