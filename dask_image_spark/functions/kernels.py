"""Kernel/offset tables for stencil operators.

The reference normalizes kernels in ``dask_image/ndfilters/_utils.py``
(``_get_size``, ``_get_footprint``, ``_get_origin``) and builds Gaussian taps
inside scipy (``scipy.ndimage._filters._gaussian_kernel1d``, used by
``dask_image/ndfilters/_gaussian.py::gaussian_filter``). Here a kernel of
rank N is a plain list of ``(d_0, ..., d_{N-1}, w)`` offsets, one integer
displacement per axis plus a weight — the broadcast side of every stencil
join — computed once on the driver (a few dozen floats; never data-sized).
The named kernels below are the 2-D ones the ``ndfilters`` surface exposes.

Separability: an N-D Gaussian/uniform filter is applied as per-axis 1-D
passes (exactly the reference's structure), so a sigma-3 truncate-4 kernel
costs two 25-tap joins instead of one 625-tap join — the difference between
a broadcastable stencil and a blowup at 100 TB.
"""

from __future__ import annotations

import math

# (d_0, ..., d_{N-1}, w): per-axis integer displacements, then the weight
Offset = tuple[float, ...]


def pixel_coords(shape, coords=None) -> list[str]:
    """Coordinate columns of a rank-``len(shape)`` pixel table, in axis
    order: the given ``coords``, else ``(y, x)`` / ``(z, y, x)`` by rank."""
    if coords is None:
        if len(shape) > 3:
            raise ValueError(f"rank {len(shape)} needs explicit coords")
        coords = ("z", "y", "x")[3 - len(shape):]
    if len(coords) != len(shape):
        raise ValueError(f"coords {tuple(coords)} do not match shape {tuple(shape)}")
    return list(coords)


def gaussian_taps_1d(
    sigma: float, order: int = 0, truncate: float = 4.0
) -> list[tuple[int, float]]:
    """1-D Gaussian (or Gaussian-derivative) taps, scipy-compatible.

    Mirrors the published algorithm of
    ``scipy.ndimage._filters._gaussian_kernel1d``: radius =
    ``int(truncate * sigma + 0.5)``; order>0 multiplies the normalized
    Gaussian by the Hermite-recursion polynomial q(x) with
    q'(x) - x/sigma^2 * q(x) per derivative order. Returned taps are in
    *correlate* orientation (scipy's ``gaussian_filter1d`` correlates with
    the reversed kernel; reversal is applied here so callers just correlate).
    """
    radius = int(truncate * sigma + 0.5)
    sigma2 = sigma * sigma
    xs = list(range(-radius, radius + 1))
    phi = [math.exp(-0.5 * x * x / sigma2) for x in xs]
    s = sum(phi)
    phi = [p / s for p in phi]
    if order > 0:
        # q(x) polynomial coefficients, ascending powers; q0 = [1].
        q = [0.0] * (order + 1)
        q[0] = 1.0
        for _ in range(order):
            # new_q = D(q) - x/sigma2 * q  where D is d/dx on coefficients
            nq = [0.0] * (order + 1)
            for k in range(1, order + 1):
                nq[k - 1] += k * q[k]  # derivative term
            for k in range(order):
                nq[k + 1] += -q[k] / sigma2  # multiply by -x/sigma2
            q = nq
        phi = [
            p * sum(c * (x**k) for k, c in enumerate(q))
            for x, p in zip(xs, phi)
        ]
    # scipy correlates with weights[::-1]; pre-reverse so correlate(taps) == scipy.
    taps = list(zip(xs, phi))
    return [(-off, w) for off, w in reversed(taps)]


def taps_to_offsets_1d(
    taps: list[tuple[int, float]], axis: int
) -> list[Offset]:
    """Lift 1-D taps into 2-D offsets along ``axis`` (0=y, 1=x)."""
    if axis == 0:
        return [(off, 0, w) for off, w in taps]
    return [(0, off, w) for off, w in taps]


def outer_kernel(
    ky: list[tuple[int, float]], kx: list[tuple[int, float]]
) -> list[Offset]:
    """Full 2-D kernel as the outer product of two 1-D taps."""
    return [(dy, dx, wy * wx) for dy, wy in ky for dx, wx in kx]


def box_range(size: int) -> range:
    """Offset range for a ``size``-wide window, scipy origin convention.

    Odd size: symmetric [-(size//2), size//2]. Even size: scipy places the
    origin at index size//2 of the footprint, so the correlate offsets span
    [-(size//2), size - 1 - size//2] (e.g. size=4 -> -2..1).
    """
    if size < 1:
        raise ValueError(f"size must be >= 1, got {size}")
    lo = -(size // 2)
    return range(lo, lo + size)


def box_footprint(size: int) -> list[Offset]:
    """size×size all-ones footprint, scipy origin convention (even sizes OK)."""
    rng = box_range(size)
    return [(dy, dx, 1.0) for dy in rng for dx in rng]


def flip(kernel: list[Offset]) -> list[Offset]:
    """Point-reflect a kernel: convolve(k) == correlate(flip(k))."""
    return [(*(-d for d in off[:-1]), off[-1]) for off in kernel]


# Fixed edge/derivative kernels, correlate orientation, scipy-compatible:
# sobel/prewitt along an axis = derivative [-1,0,1] on that axis (correlate)
# outer smoothing on the other; laplace = sum of per-axis [1,-2,1].
_DERIV = [(-1, -1.0), (0, 0.0), (1, 1.0)]
_SOBEL_SMOOTH = [(-1, 1.0), (0, 2.0), (1, 1.0)]
_PREWITT_SMOOTH = [(-1, 1.0), (0, 1.0), (1, 1.0)]

SOBEL_X: list[Offset] = outer_kernel(_SOBEL_SMOOTH, _DERIV)
SOBEL_Y: list[Offset] = outer_kernel(_DERIV, _SOBEL_SMOOTH)
PREWITT_X: list[Offset] = outer_kernel(_PREWITT_SMOOTH, _DERIV)
PREWITT_Y: list[Offset] = outer_kernel(_DERIV, _PREWITT_SMOOTH)
LAPLACE: list[Offset] = [
    (0, 0, -4.0),
    (-1, 0, 1.0),
    (1, 0, 1.0),
    (0, -1, 1.0),
    (0, 1, 1.0),
]
BOX3: list[Offset] = [
    (dy, dx, 1.0 / 9.0) for dy in (-1, 0, 1) for dx in (-1, 0, 1)
]
