"""Kernel construction invariants (the reference delegates these to scipy;
scipy is absent here, so the published properties are asserted directly)."""

from __future__ import annotations

import math

import pytest

from dask_image_spark.functions import kernels as K


@pytest.mark.parametrize("sigma", [0.5, 1.0, 2.5])
def test_gaussian_order0_normalized_symmetric(sigma):
    taps = K.gaussian_taps_1d(sigma, order=0)
    ws = dict(taps)
    assert abs(sum(ws.values()) - 1.0) < 1e-12
    for off, w in ws.items():
        assert abs(w - ws[-off]) < 1e-12  # even symmetry
    assert len(taps) == 2 * int(4.0 * sigma + 0.5) + 1


@pytest.mark.parametrize("sigma", [1.0, 2.0])
def test_gaussian_order1_antisymmetric_zero_sum(sigma):
    ws = dict(K.gaussian_taps_1d(sigma, order=1))
    assert abs(sum(ws.values())) < 1e-12
    for off, w in ws.items():
        assert abs(w + ws[-off]) < 1e-12  # odd antisymmetry
    # response to a linear ramp x -> x is d/dx = 1 (sign fixed by correlate
    # orientation); exact only up to the truncate=4 tail (~1e-4 relative,
    # the same truncation scipy's kernels carry)
    resp = sum(w * (-off) for off, w in ws.items())
    assert abs(abs(resp) - 1.0) < 1e-3


def test_gaussian_order2_annihilates_linear():
    ws = dict(K.gaussian_taps_1d(1.5, order=2))
    assert abs(sum(ws.values())) < 1e-3  # kills constants (up to truncation)
    assert abs(sum(w * off for off, w in ws.items())) < 1e-12  # kills ramps


def test_even_size_scipy_origin_convention():
    # scipy places the origin at index size//2: size=4 -> offsets -2..1
    assert list(K.box_range(4)) == [-2, -1, 0, 1]
    assert list(K.box_range(3)) == [-1, 0, 1]
    assert list(K.box_range(1)) == [0]
    assert len(K.box_footprint(4)) == 16
    offs = {(dy, dx) for dy, dx, _ in K.box_footprint(4)}
    assert (-2, -2) in offs and (1, 1) in offs and (2, 2) not in offs
    with pytest.raises(ValueError):
        K.box_range(0)


def test_fixed_kernels_structure():
    assert sum(w for _, _, w in K.LAPLACE) == 0.0
    assert sum(w for _, _, w in K.SOBEL_X) == 0.0
    assert sum(w for _, _, w in K.PREWITT_Y) == 0.0
    assert len(K.box_footprint(3)) == 9
    assert len(K.box_footprint(5)) == 25
    # convolve == correlate with flipped kernel, flip is an involution
    k = K.SOBEL_X
    assert sorted(K.flip(K.flip(k))) == sorted(k)


def test_separable_outer_product_sums():
    ky = K.gaussian_taps_1d(1.0)
    kx = K.gaussian_taps_1d(2.0)
    full = K.outer_kernel(ky, kx)
    assert abs(sum(w for _, _, w in full) - 1.0) < 1e-12
    assert len(full) == len(ky) * len(kx)


def test_stencil_rejects_oversized_kernel():
    """Guard rail: single-bounce boundary remap requires radius < extent."""
    import pytest as _pytest

    from dask_image_spark.operators import ndfilters

    with _pytest.raises(ValueError, match="kernel radius"):
        ndfilters.stencil_gather(None, [(9, 0, 1.0)], (8, 8))


@pytest.mark.parametrize(
    "offsets, shape",
    [
        (K.SOBEL_X, (6, 8, 8)),  # 2-D kernel, 3-D image
        ([(0, 0, 1, 0, 1.0)], (8, 8)),  # 4-D kernel, 2-D image
    ],
)
def test_stencil_rejects_kernel_of_wrong_rank(offsets, shape):
    """A kernel whose offsets do not have one displacement per image axis
    (plus the weight) is an error, not a silent misread of the weight as a
    displacement or a dropped axis."""
    from dask_image_spark.operators import ndfilters

    with pytest.raises(ValueError, match="entries for shape"):
        ndfilters.stencil_gather(None, offsets, shape)


@pytest.mark.parametrize(
    "matrix, offset, shape",
    [
        ([[1.0, 0.0], [0.0, 1.0]], None, (4, 4, 4)),  # 2x2 matrix, 3-D image
        ([[1.0, 0.0, 0.0]] * 3, (0.0, 0.0), (4, 4, 4)),  # 2-D offset, 3-D image
    ],
)
def test_affine_rejects_matrix_of_wrong_rank(spark, matrix, offset, shape):
    """The any-rank order-1 affine needs an N x N matrix and a length-N
    offset for N = ``len(shape)``; a mismatch raises before any plan is
    built."""
    from dask_image_spark.operators import ndinterp

    px = spark.createDataFrame([(0, 0, 0, 1.0)], "z int, y int, x int, value double")
    with pytest.raises(ValueError, match="do not match rank"):
        ndinterp.affine_transform_order1(px, matrix, offset, shape)
