"""Geometric transforms (the ``dask_image.ndinterp`` surface).

Reference: ``dask_image/ndinterp/__init__.py::affine_transform`` computes,
per output chunk, the inverse-mapped input region and runs scipy's
``affine_transform`` on it. Relationally the same thing is a **gather
join**: each output coordinate computes its source coordinate as an
expression and equi-joins the pixel table — the only "join-like" operator
the reference has. Order 0 (nearest) joins one source pixel; order 1
(bilinear) joins the four corners with interpolation weights computed in
SQL. Order >= 2 needs the spline prefilter (see ``operators/chunked.py``).

At scale the gather join shuffles on the computed source coordinate — the
same single-shuffle pattern as the stencils; partition pruning applies when
the transform maps an output partition to a bounded input region.
"""

from __future__ import annotations

import itertools
from functools import reduce
from operator import add, mul

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dask_image_spark.functions.boundary import remap_sql
from dask_image_spark.functions.kernels import pixel_coords
from dask_image_spark.functions.localrel import values_df


def _src_exprs(matrix, offset, coords=("y", "x")):
    """Source coordinate per axis: ``f_i = sum_j M[i][j] * c_j + o_i``.
    ``matrix`` must be N x N and ``offset`` (default zeros) of length N,
    for N = ``len(coords)``."""
    n = len(coords)
    if offset is None:
        offset = (0.0,) * n
    if len(matrix) != n or any(len(row) != n for row in matrix) or len(offset) != n:
        raise ValueError(
            f"affine matrix/offset do not match rank {n}: "
            f"{len(matrix)} rows, offset of length {len(offset)}"
        )
    return [
        reduce(add, [F.lit(float(m)) * F.col(c) for m, c in zip(row, coords)])
        + F.lit(float(o))
        for row, o in zip(matrix, offset)
    ]


def affine_transform_order0(
    px: DataFrame, matrix, offset=(0.0, 0.0), shape=None,
    mode: str = "nearest", cval: float = 0.0, keys=(),
) -> DataFrame:
    """Nearest-neighbor affine: source = round(M @ out + offset), one gather
    join. Rounding is floor(v + 0.5) — fixed, documented tie behavior that
    the oracle reproduces exactly.

    ``mode`` is the upstream ``affine_transform(mode=)`` out-of-range
    surface: reflect/mirror/nearest/wrap remap the source coordinate via
    the shared ``remap_sql`` expression (identical text on both engines);
    ``constant`` turns the gather into a left join with ``coalesce(v,
    cval)`` — out-of-range reads cost nothing extra at scale (absent keys
    simply don't match)."""
    keys = list(keys)
    h, w = shape
    fy, fx = _src_exprs(matrix, offset)
    out = px.select(*keys, "y", "x").withColumns(
        {
            "ry": F.floor(fy + 0.5).cast("int"),
            "rx": F.floor(fx + 0.5).cast("int"),
        }
    )
    remap = "constant" if mode == "constant" else mode
    out = out.withColumns(
        {
            "sy": F.expr(remap_sql("ry", h, remap)).cast("int"),
            "sx": F.expr(remap_sql("rx", w, remap)).cast("int"),
        }
    )
    src = px.select(
        *keys, F.col("y").alias("sy"), F.col("x").alias("sx"),
        F.col("value").alias("v"),
    )
    if mode == "constant":
        return (
            out.join(src, on=[*keys, "sy", "sx"], how="left")
            .select(
                *keys, "y", "x",
                F.coalesce(F.col("v"), F.lit(float(cval))).alias("v"),
            )
        )
    return out.join(src, on=[*keys, "sy", "sx"]).select(*keys, "y", "x", "v")


def affine_transform_order1(
    px: DataFrame, matrix, offset=None, shape=None, keys=(),
    mode: str = "nearest", cval: float = 0.0,
) -> DataFrame:
    """Multilinear affine, any rank: join the 2^N corner pixels with weights
    prod_i (1-t_i or t_i) computed in SQL (2-D: bilinear, 3-D: trilinear).
    ``matrix`` is N x N over the ``(y, x)`` / ``(z, y, x)`` columns, N =
    ``len(shape)``; ``offset`` defaults to zeros. ``mode`` handles the
    upstream out-of-range surface exactly as :func:`affine_transform_order0`
    — coordinate remap for the symmetric/periodic modes, left-join +
    ``coalesce(sv, cval)`` per corner for ``constant``."""
    keys = list(keys)
    coords = pixel_coords(shape)
    spark = px.sparkSession
    corners = values_df(
        spark, ", ".join(f"c{c}" for c in coords),
        list(itertools.product((0, 1), repeat=len(coords))),
    )
    base = px.select(*keys, *coords).withColumns(
        {f"f{c}": f for c, f in zip(coords, _src_exprs(matrix, offset, coords))}
    ).withColumns(
        {
            **{f"{c}0": F.floor(F.col(f"f{c}")).cast("int") for c in coords},
            **{f"t{c}": F.col(f"f{c}") - F.floor(F.col(f"f{c}")) for c in coords},
        }
    )
    remap = "constant" if mode == "constant" else mode
    j = base.crossJoin(F.broadcast(corners)).withColumns(
        {
            **{f"r{c}": F.col(f"{c}0") + F.col(f"c{c}") for c in coords},
            "wgt": reduce(mul, [
                F.when(F.col(f"c{c}") == 0, 1 - F.col(f"t{c}")).otherwise(F.col(f"t{c}"))
                for c in coords
            ]),
        }
    ).withColumns(
        {
            f"s{c}": F.expr(remap_sql(f"r{c}", n, remap)).cast("int")
            for c, n in zip(coords, shape)
        }
    )
    src = px.select(
        *keys, *[F.col(c).alias(f"s{c}") for c in coords],
        F.col("value").alias("sv"),
    )
    on = [*keys, *(f"s{c}" for c in coords)]
    if mode == "constant":
        return (
            j.join(src, on=on, how="left")
            .groupBy(*keys, *coords)
            .agg(
                F.sum(
                    F.col("wgt")
                    * F.coalesce(F.col("sv"), F.lit(float(cval)))
                ).alias("v")
            )
        )
    return (
        j.join(src, on=on)
        .groupBy(*keys, *coords)
        .agg(F.sum(F.col("wgt") * F.col("sv")).alias("v"))
    )


def _bspline3_weight(u):
    """Cubic B-spline basis b3(u), support |u| < 2 (Unser's normalization:
    b3(0)=2/3, b3(±1)=1/6 — the same kernel whose correlation inverts the
    IIR prefilter)."""
    a = F.abs(u)
    return (
        F.when(a <= 1, 2.0 / 3.0 - a * a + a * a * a / 2.0)
        .when(a < 2, F.pow(2.0 - a, F.lit(3.0)) / 6.0)
        .otherwise(F.lit(0.0))
    )


def _bspline_weight(u, order: int):
    """Centered cardinal B-spline basis b_n(u) of order 2..5 as a Spark
    expression — the published piecewise polynomials (Unser 1993; the same
    closed forms scipy's ndimage spline code evaluates). Support is
    |u| < (order+1)/2; the tap fan-out below over-covers and relies on the
    weight vanishing outside support."""
    a = F.abs(u)
    if order == 2:
        return (
            F.when(a < 0.5, 0.75 - a * a)
            .when(a < 1.5, F.pow(1.5 - a, F.lit(2.0)) / 2.0)
            .otherwise(F.lit(0.0))
        )
    if order == 3:
        return _bspline3_weight(u)
    if order == 4:
        return (
            F.when(a < 0.5, a * a * (a * a * 0.25 - 0.625) + 115.0 / 192.0)
            .when(
                a < 1.5,
                a * (a * (a * (a * (-1.0 / 6.0) + 5.0 / 6.0) - 1.25) + 5.0 / 24.0)
                + 55.0 / 96.0,
            )
            .when(a < 2.5, F.pow(2.5 - a, F.lit(4.0)) / 24.0)
            .otherwise(F.lit(0.0))
        )
    if order == 5:
        return (
            F.when(a < 1, a * a * (a * a * (0.25 - a / 12.0) - 0.5) + 0.55)
            .when(
                a < 2,
                a * (a * (a * (a * (a / 24.0 - 0.375) + 1.25) - 1.75) + 0.625)
                + 0.425,
            )
            .when(a < 3, F.pow(3.0 - a, F.lit(5.0)) / 120.0)
            .otherwise(F.lit(0.0))
        )
    raise ValueError(f"unsupported spline order {order}")


def bspline_weight_np(u, order: int):
    """Numpy twin of :func:`_bspline_weight` (differential-test reference)."""
    import numpy as np

    a = np.abs(np.asarray(u, dtype=np.float64))
    out = np.zeros_like(a)
    if order == 2:
        m = a < 0.5
        out[m] = 0.75 - a[m] ** 2
        m = (a >= 0.5) & (a < 1.5)
        out[m] = (1.5 - a[m]) ** 2 / 2.0
    elif order == 3:
        m = a <= 1
        out[m] = 2.0 / 3.0 - a[m] ** 2 + a[m] ** 3 / 2.0
        m = (a > 1) & (a < 2)
        out[m] = (2.0 - a[m]) ** 3 / 6.0
    elif order == 4:
        m = a < 0.5
        out[m] = a[m] ** 2 * (a[m] ** 2 * 0.25 - 0.625) + 115.0 / 192.0
        m = (a >= 0.5) & (a < 1.5)
        b = a[m]
        out[m] = (
            b * (b * (b * (b * (-1.0 / 6.0) + 5.0 / 6.0) - 1.25) + 5.0 / 24.0)
            + 55.0 / 96.0
        )
        m = (a >= 1.5) & (a < 2.5)
        out[m] = (2.5 - a[m]) ** 4 / 24.0
    elif order == 5:
        m = a < 1
        out[m] = a[m] ** 2 * (a[m] ** 2 * (0.25 - a[m] / 12.0) - 0.5) + 0.55
        m = (a >= 1) & (a < 2)
        b = a[m]
        out[m] = (
            b * (b * (b * (b * (b / 24.0 - 0.375) + 1.25) - 1.75) + 0.625)
            + 0.425
        )
        m = (a >= 2) & (a < 3)
        out[m] = (3.0 - a[m]) ** 5 / 120.0
    else:
        raise ValueError(f"unsupported spline order {order}")
    return out


def affine_transform_order3(
    px: DataFrame, matrix, offset=(0.0, 0.0), shape=None, keys=(),
) -> DataFrame:
    """Cubic-spline affine transform — see :func:`affine_transform_spline`."""
    return affine_transform_spline(px, matrix, offset, shape, order=3, keys=keys)


def affine_transform_spline(
    px: DataFrame, matrix, offset=(0.0, 0.0), shape=None, order: int = 3,
    keys=(),
) -> DataFrame:
    """Spline affine transform of order 2-5 (upstream
    ``ndinterp/__init__.py::affine_transform`` accepts ``order`` 0-5), mirror
    boundary (the extension the prefilter assumes).

    Two phases, both distributed:

    1. **Prefilter**: the per-line IIR prefilter cascade along each axis
       (``chunked.spline_filter1d`` with the order's pole family) turns
       pixel values into B-spline coefficients — grid lines parallelize
       across the cluster.
    2. **Gather join**: every output pixel inverse-maps to a fractional
       source point and joins the (order+1)^2-ish coefficient neighborhood
       (a broadcast corner fan-out, exactly the bilinear path's shape),
       weighted by the separable basis; one shuffle (the final groupBy).
       The tap window over-covers by design (weights vanish outside the
       basis support), so one window serves both even and odd orders.

    Sampling at integer points reduces to the B-spline reconstruction
    identity, which is what the strong-oracle ``affine_order{2,3,4,5}_
    identity`` queries check end-to-end; arbitrary transforms are
    differentially tested against a dense numpy implementation of the same
    spec (tests/test_affine_order3.py).
    """
    from dask_image_spark.operators import chunked

    keys = list(keys)
    h, w = shape
    spark = px.sparkSession
    c0 = chunked.spline_filter1d(px, axis=0, shape=shape, keys=keys, order=order)
    c = chunked.spline_filter1d(
        c0.withColumnRenamed("v", "value"), axis=1, shape=shape, keys=keys,
        order=order,
    )
    fy, fx = _src_exprs(matrix, offset)
    lo, hi = -(order // 2), order // 2 + 1
    corners = values_df(
        spark, "cy, cx",
        [(a, b) for a in range(lo, hi + 1) for b in range(lo, hi + 1)],
    )
    base = px.select(*keys, "y", "x").withColumns(
        {"fy": fy, "fx": fx}
    ).withColumns(
        {
            "y0": F.floor(F.col("fy")).cast("int"),
            "x0": F.floor(F.col("fx")).cast("int"),
        }
    )
    j = base.crossJoin(F.broadcast(corners)).withColumns(
        {
            "ry": F.col("y0") + F.col("cy"),
            "rx": F.col("x0") + F.col("cx"),
            "wgt": _bspline_weight(
                F.col("fy") - (F.col("y0") + F.col("cy")), order
            )
            * _bspline_weight(F.col("fx") - (F.col("x0") + F.col("cx")), order),
        }
    ).withColumns(
        {
            # whole-sample mirror, single-bounce (valid while the mapped
            # source point stays within one image extent of the border)
            "sy": F.expr(remap_sql("ry", h, "mirror")).cast("int"),
            "sx": F.expr(remap_sql("rx", w, "mirror")).cast("int"),
        }
    )
    src = c.select(
        *keys, F.col("y").alias("sy"), F.col("x").alias("sx"),
        F.col("v").alias("cv"),
    )
    return (
        j.join(src, on=[*keys, "sy", "sx"])
        .groupBy(*keys, "y", "x")
        .agg(F.sum(F.col("wgt") * F.col("cv")).alias("v"))
    )


def rotate(px: DataFrame, angle_deg: float, shape, keys=()) -> DataFrame:
    """Arbitrary-angle rotation about the image center, reshape=False
    (``ndinterp/__init__.py::rotate``): build the inverse-map matrix
    source = R @ (out - c) + c and delegate to the bilinear affine gather."""
    import math

    h, w = shape
    th = math.radians(angle_deg)
    cos_t, sin_t = math.cos(th), math.sin(th)
    cy, cx = (h - 1) / 2.0, (w - 1) / 2.0
    matrix = [[cos_t, sin_t], [-sin_t, cos_t]]
    offset = (
        cy - cos_t * cy - sin_t * cx,
        cx + sin_t * cy - cos_t * cx,
    )
    return affine_transform_order1(px, matrix, offset, shape, keys)


def rotate90(px: DataFrame, shape, keys=()) -> DataFrame:
    """90-degree rotation (``ndinterp.rotate`` square reshape=False case):
    scatter (y, x) -> (x, H-1-y), i.e. out[y, x] = in[H-1-x, y] — a pure
    coordinate permutation, no resampling, exact. This is the axes=(0,1)
    direction; the opposite rotation is its transpose."""
    h, _ = shape
    return px.select(
        *keys,
        F.col("x").alias("_oy"),
        (F.lit(h - 1) - F.col("y")).alias("_ox"),
        F.col("value").alias("v"),
    ).select(*keys, F.col("_oy").alias("y"), F.col("_ox").alias("x"), "v")


def shift_wrap(px: DataFrame, shift, shape, keys=()) -> DataFrame:
    """Integer circular shift — the spatial-domain equivalent of
    ``ndfourier.fourier_shift`` (exact for integer shifts): out[y, x] =
    in[(y - sy) mod H, (x - sx) mod W]."""
    sy, sx = shift
    h, w = shape
    return px.select(
        *keys,
        F.pmod(F.col("y") + F.lit(int(sy)), F.lit(h)).cast("int").alias("_oy"),
        F.pmod(F.col("x") + F.lit(int(sx)), F.lit(w)).cast("int").alias("_ox"),
        F.col("value").alias("v"),
    ).select(*keys, F.col("_oy").alias("y"), F.col("_ox").alias("x"), "v")
