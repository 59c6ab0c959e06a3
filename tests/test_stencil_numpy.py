"""Differential tests of the stencil engine against direct numpy evaluation
— the reference's exact test pattern (random array, library op vs oracle op,
elementwise compare; upstream sweeps shapes x chunks x modes the same way),
with numpy padding playing scipy's role."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from dask_image_spark.functions.localrel import values_df
from dask_image_spark.operators import ndfilters, ndmorph

H, W = 12, 10
RNG = np.random.default_rng(7)
IMG = np.round(RNG.uniform(-5, 5, size=(H, W)), 3)

NP_PAD_MODE = {
    "reflect": "symmetric",  # scipy 'reflect' == numpy 'symmetric'
    "mirror": "reflect",  # scipy 'mirror'  == numpy 'reflect'
    "nearest": "edge",
    "wrap": "wrap",
}


def _px(spark):
    rows = [
        (int(y), int(x), float(IMG[y, x])) for y in range(H) for x in range(W)
    ]
    return values_df(spark, "y, x, value", rows)


def _collect_grid(df):
    out = np.full((H, W), np.nan)
    for r in df.collect():
        out[r["y"], r["x"]] = r["v"]
    return out


def _np_correlate(img, offsets, mode, cval=0.0):
    r = max(max(abs(dy), abs(dx)) for dy, dx, _ in offsets)
    if mode == "constant":
        pad = np.pad(img, r, mode="constant", constant_values=cval)
    else:
        pad = np.pad(img, r, mode=NP_PAD_MODE[mode])
    out = np.zeros_like(img, dtype=float)
    for dy, dx, w in offsets:
        out += w * pad[r + dy : r + dy + H, r + dx : r + dx + W]
    return out


KERNEL = [(-1, -1, 0.25), (-1, 1, -0.5), (0, 0, 1.0), (1, 0, 0.125), (1, 1, 2.0)]


@pytest.mark.parametrize("mode", ["reflect", "mirror", "nearest", "wrap", "constant"])
def test_correlate_matches_numpy(spark, mode):
    got = _collect_grid(
        ndfilters.correlate(_px(spark), KERNEL, (H, W), mode=mode, cval=1.5)
    )
    want = _np_correlate(IMG, KERNEL, mode, cval=1.5)
    np.testing.assert_allclose(got, want, rtol=1e-9, atol=1e-9)


@pytest.mark.parametrize("mode", ["reflect", "mirror", "nearest", "wrap", "constant"])
def test_correlate_per_axis_radius(spark, mode):
    """Radius is checked and padded per axis: a y-only kernel of radius 10
    is wider than the image (W=10) but fits its own axis (H=12)."""
    k = [(dy, 0, 0.5 + 0.1 * dy) for dy in range(-10, 11)]
    got = _collect_grid(
        ndfilters.correlate(_px(spark), k, (H, W), mode=mode, cval=1.5)
    )
    if mode == "constant":
        pad = np.pad(IMG, ((10, 10), (0, 0)), mode="constant", constant_values=1.5)
    else:
        pad = np.pad(IMG, ((10, 10), (0, 0)), mode=NP_PAD_MODE[mode])
    want = sum(w * pad[10 + dy : 10 + dy + H] for dy, _, w in k)
    np.testing.assert_allclose(got, want, rtol=1e-9, atol=1e-9)


@pytest.mark.parametrize("mode", ["reflect", "constant"])
def test_maximum_filter_matches_numpy(spark, mode):
    fp = [(dy, dx, 1.0) for dy in (-1, 0, 1) for dx in (-1, 0, 1)]
    got = _collect_grid(
        ndfilters.maximum_filter(_px(spark), 3, (H, W), mode=mode, cval=-99.0)
    )
    r = 1
    if mode == "constant":
        pad = np.pad(IMG, r, mode="constant", constant_values=-99.0)
    else:
        pad = np.pad(IMG, r, mode=NP_PAD_MODE[mode])
    want = np.max(
        np.stack([
            pad[r + dy : r + dy + H, r + dx : r + dx + W] for dy, dx, _ in fp
        ]),
        axis=0,
    )
    np.testing.assert_allclose(got, want)


def test_uniform_separable_equals_full_box(spark):
    """Two separable 1-D mean passes == the full 3x3 box (wrap mode makes
    the passes commute exactly through the boundary)."""
    sep = _collect_grid(
        ndfilters.uniform_filter(_px(spark), 3, (H, W), mode="wrap")
    )
    box = [(dy, dx, 1.0 / 9.0) for dy in (-1, 0, 1) for dx in (-1, 0, 1)]
    full = _np_correlate(IMG, box, "wrap")
    np.testing.assert_allclose(sep, full, rtol=1e-9, atol=1e-9)


def test_uniform_even_size_scipy_origin(spark):
    """Even size=4 follows scipy's origin convention: offsets -2..1 per axis
    and weights summing to exactly 1 (ADVICE r1: even sizes used to widen to
    size+1 silently)."""
    sep = _collect_grid(
        ndfilters.uniform_filter(_px(spark), 4, (H, W), mode="wrap")
    )
    box = [(dy, dx, 1.0 / 16.0) for dy in (-2, -1, 0, 1) for dx in (-2, -1, 0, 1)]
    full = _np_correlate(IMG, box, "wrap")
    np.testing.assert_allclose(sep, full, rtol=1e-9, atol=1e-9)


def test_minimum_filter_even_size_matches_numpy(spark):
    got = _collect_grid(
        ndfilters.minimum_filter(_px(spark), 2, (H, W), mode="wrap")
    )
    pad = np.pad(IMG, 2, mode="wrap")
    want = np.min(
        np.stack([
            pad[2 + dy : 2 + dy + H, 2 + dx : 2 + dx + W]
            for dy in (-1, 0) for dx in (-1, 0)
        ]),
        axis=0,
    )
    np.testing.assert_allclose(got, want)


def test_binary_erosion_dilation_duality(spark):
    """erosion(mask) == NOT dilation(NOT mask) for a symmetric structure with
    matching border values — the fundamental morphology identity."""
    mask = IMG > 0
    rows = [(int(y), int(x), bool(mask[y, x])) for y in range(H) for x in range(W)]
    mdf = values_df(spark, "y, x, m", rows)
    ero = _collect_grid(
        ndmorph.binary_erosion(mdf, shape=(H, W), border_value=True)
        .select("y", "x", F.col("m").alias("v"))
    )
    inv = values_df(
        spark, "y, x, m",
        [(int(y), int(x), bool(~mask[y, x])) for y in range(H) for x in range(W)],
    )
    dil = _collect_grid(
        ndmorph.binary_dilation(inv, shape=(H, W), border_value=False)
        .select("y", "x", F.col("m").alias("v"))
    )
    np.testing.assert_array_equal(ero.astype(bool), ~dil.astype(bool))


@pytest.mark.parametrize("mode", ["reflect", "mirror", "wrap", "nearest", "constant"])
def test_correlate_nd_3d_matches_numpy(spark, mode):
    """Rank-3 differential: correlate on a volume vs dense numpy padding
    (constant mode with nonzero cval covers the N-D pad strips)."""
    D = 6
    rng = np.random.default_rng(5)
    vol = np.round(rng.uniform(-2, 2, size=(D, D, D)), 3)
    rows = [
        (z, y, x, float(vol[z, y, x]))
        for z in range(D) for y in range(D) for x in range(D)
    ]
    px = values_df(spark, "z, y, x, value", rows)
    k = [(0, 0, 0, -6.0)] + [
        (dz, dy, dx, 1.0)
        for dz, dy, dx in [(-1, 0, 0), (1, 0, 0), (0, -1, 0), (0, 1, 0),
                           (0, 0, -1), (0, 0, 1)]
    ]
    got = np.full((D, D, D), np.nan)
    res = ndfilters.correlate(px, k, (D, D, D), mode=mode, cval=1.25)
    for r in res.collect():
        got[r["z"], r["y"], r["x"]] = r["v"]
    if mode == "constant":
        pad = np.pad(vol, 1, mode="constant", constant_values=1.25)
    else:
        pad = np.pad(vol, 1, mode=NP_PAD_MODE[mode])
    want = np.zeros_like(vol)
    for dz, dy, dx, w in k:
        want += w * pad[1 + dz : 1 + dz + D, 1 + dy : 1 + dy + D,
                        1 + dx : 1 + dx + D]
    np.testing.assert_allclose(got, want, rtol=1e-9, atol=1e-9)
