"""Stencil filters over the R1 pixel table — the ``dask_image.ndfilters``
surface re-expressed as one join template.

Reference shape (upstream ``dask_image/ndfilters/``): every filter normalizes
its arguments then runs ``image.map_overlap(scipy_fn, depth, boundary)`` —
a halo exchange plus a per-chunk scipy call. The Spark-first equivalent for
long-form pixels is **pad-then-scatter**:

    padded  = pixels UNION (edge pixels x broadcast pad-map)  -- no shuffle;
              border replication is O(perimeter * radius), dask's halo
    scatter = padded CROSS JOIN broadcast(kernel offsets)     -- no shuffle
              target coord = padded coord - offset, filter in-bounds
    GROUP BY target coord                                     -- ONE shuffle

Physical plan: pad-maps and kernels are tens of rows, always broadcast; the
border branches carry a pushable edge predicate so their scans prune to edge
row-groups. The only exchange in the whole stencil is the final aggregate,
and map-side partial aggregation applies to SUM/MIN/MAX/AVG. (A gather
formulation — join the fanned-out neighbor coords back against the pixel
table — shuffles the kernel-times-fanned side AND the probe side; scatter
moves the same fan-out through exactly one shuffle, which is the difference
at 100 TB.) Separable filters (Gaussian, uniform, prewitt/sobel) are applied
as per-axis 1-D passes exactly like the reference.

The template is rank-generic, like the reference's: the pad, the scatter
and the aggregate take one radius per axis and a list of coordinate
columns, so 2-D images, volumes and 4-D stacks share one plan shape.

Boundary modes are shared-text SQL remaps (``functions.boundary``), so the
DuckDB oracle and this engine cannot disagree on edge semantics.
"""

from __future__ import annotations

import itertools
from collections.abc import Sequence
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dask_image_spark.functions import kernels as K
from dask_image_spark.functions.boundary import remap_py


def _radii(offsets: Sequence[K.Offset], shape: Sequence[int]) -> list[int]:
    """Per-axis kernel radius, checked against that axis's extent. Every
    offset must be ``(d_0, ..., d_{N-1}, w)`` for N = ``len(shape)``."""
    if any(len(off) != len(shape) + 1 for off in offsets):
        raise ValueError(
            f"kernel offsets must have {len(shape) + 1} entries for shape {tuple(shape)}"
        )
    radii = [max(abs(int(off[i])) for off in offsets) for i in range(len(shape))]
    for i, (r, n) in enumerate(zip(radii, shape)):
        if r >= n:
            raise ValueError(
                f"kernel radius {r} >= image extent {n} on axis {i}: "
                "single-bounce boundary remap would be invalid"
            )
    return radii


def _kernel_inline(offsets: Sequence[K.Offset], coords: Sequence[str]) -> Column:
    """Kernel fan-out as ``inline(array(struct...))`` — a literal-array
    explode that stays inside WholeStageCodegen, ~25% faster than a
    broadcast-nested-loop cross join against a kernel table. ``ko`` is the
    offset's ordinal, used by generic_filter to present window values in
    kernel (raster) order; ``d<coord>`` is the displacement along each axis."""
    structs = [
        F.struct(
            F.lit(i).alias("ko"),
            *[F.lit(int(d)).alias(f"d{c}") for d, c in zip(off, coords)],
            F.lit(float(off[-1])).alias("w"),
        )
        for i, off in enumerate(offsets)
    ]
    return F.inline(F.array(*structs))


def _pad_pairs(n: int, r: int, mode: str) -> list[tuple[int, int]]:
    """(src, pad) pairs: padded coordinate ``pad`` outside [0, n) reads the
    in-range source coordinate ``src`` under the boundary mode."""
    coords = list(range(-r, 0)) + list(range(n, n + r))
    return [(remap_py(c, n, mode), c) for c in coords]


def _pad_map(spark, pairs: list[tuple[int, int]]) -> DataFrame:
    rows = ", ".join(f"({s}, {p})" for s, p in pairs)
    return spark.sql(f"SELECT * FROM VALUES {rows} AS t(src, pad)")


def _edge_pred(pairs: list[tuple[int, int]], col: str):
    """Predicate selecting exactly the rows the pad map can source. NOT
    simply ``coord < r``: mirror's sources are coords 1..r (coordinate 0 is
    the symmetry axis and never replicated), wrap's are the opposite edge."""
    lows = [s for s, p in pairs if p < 0]
    highs = [s for s, p in pairs if p >= 0]
    pred = F.lit(False)
    if lows:
        pred = pred | ((F.col(col) >= min(lows)) & (F.col(col) <= max(lows)))
    if highs:
        pred = pred | ((F.col(col) >= min(highs)) & (F.col(col) <= max(highs)))
    return pred


def padded_pixels(
    px: DataFrame,
    radii: Sequence[int],
    shape: Sequence[int],
    mode: str,
    cval: float,
    keys: Sequence[str] = (),
    value_col: str = "value",
    coords: Sequence[str] | None = None,
) -> DataFrame:
    """Pixels extended to the halo box [-r_i, n_i + r_i) on every axis i
    with radius ``radii[i]``; axes of radius 0 are not padded.

    Non-constant modes: border rows are copies of edge pixels selected via
    broadcast pad-map joins (the Spark analog of dask's halo exchange), one
    branch per non-empty subset of padded axes (2-D: the y border, the x
    border and the corners). Each branch carries the edge predicates of its
    axes, so its scan prunes to the edges. Constant mode: the box minus the
    body as one ``cval`` strip per padded axis i — axis i out of range, the
    axes before it in range, the axes after it over their padded range —
    built from ``spark.range`` cross joins (no data scan).
    """
    coords = K.pixel_coords(shape, coords)
    keys = list(keys)
    spark = px.sparkSession
    body = px.select(*keys, *coords, F.col(value_col).alias("_pv"))
    axes = [i for i, r in enumerate(radii) if r > 0]
    if not axes:
        return body

    if mode == "constant":
        vtype = px.schema[value_col].dataType.simpleString()
        fill = F.lit(cval).cast(vtype).alias("_pv")

        def _rng(lo, hi, name):
            return spark.range(lo, hi).select(F.col("id").cast("int").alias(name))

        def _seg(j, i):
            r, n, c = radii[j], shape[j], coords[j]
            if j == i:
                return _rng(-r, 0, c).union(_rng(n, n + r, c))
            return _rng(0, n, c) if j < i else _rng(-r, n + r, c)

        strips = reduce(
            DataFrame.union,
            [
                reduce(DataFrame.crossJoin, [_seg(j, i) for j in range(len(coords))])
                for i in axes
            ],
        )
        if keys:
            strips = px.select(*keys).distinct().crossJoin(strips)
        return body.unionByName(strips.select(*keys, *coords, fill))

    pairs = {i: _pad_pairs(shape[i], radii[i], mode) for i in axes}
    maps = {
        i: F.broadcast(
            _pad_map(spark, pairs[i]).withColumnsRenamed(
                {"src": f"{coords[i]}src", "pad": f"{coords[i]}pad"}
            )
        )
        for i in axes
    }
    out = body
    for size in range(1, len(axes) + 1):
        for subset in itertools.combinations(axes, size):
            branch = body
            for i in subset:
                branch = branch.filter(_edge_pred(pairs[i], coords[i]))
            for i in subset:
                branch = branch.join(maps[i], F.col(coords[i]) == F.col(f"{coords[i]}src"))
            sel = [
                F.col(f"{c}pad").alias(c) if i in subset else F.col(c)
                for i, c in enumerate(coords)
            ]
            out = out.unionByName(branch.select(*keys, *sel, "_pv"))
    return out


def stencil_gather(
    px: DataFrame,
    offsets: Sequence[K.Offset],
    shape: Sequence[int],
    mode: str = "reflect",
    cval: float = 0.0,
    keys: Sequence[str] = (),
    value_col: str = "value",
    drop_zero_pad: bool = False,
    coords: Sequence[str] | None = None,
) -> DataFrame:
    """Neighborhood gather: one row per (output pixel, kernel offset).

    Returns columns ``*keys, *coords, ko, w, v`` where ``v`` is the
    boundary-resolved neighbor value. All filter aggregations are GROUP BYs
    over this. Physically it is a scatter — each padded pixel is fanned to
    the outputs that read it (target = coord - offset) — so no join against
    the pixel table is ever needed and the groupBy is the only shuffle.
    Any rank: ``offsets`` rows are ``(d_0, ..., d_{N-1}, w)`` in ``coords``
    order (default ``(y, x)`` / ``(z, y, x)`` by ``len(shape)``).

    ``drop_zero_pad``: valid ONLY for linear (SUM-like) aggregations with
    ``mode='constant', cval=0`` — out-of-image terms contribute zero, so
    the border rows are omitted instead of materialized. Order-statistic
    aggregations (min/median/rank) must keep them.
    """
    radii = _radii(offsets, shape)
    coords = K.pixel_coords(shape, coords)
    keys = list(keys)
    if drop_zero_pad and mode == "constant" and cval == 0.0:
        radii = [0] * len(radii)  # zero-valued border rows: not materialized
    pad = padded_pixels(px, radii, shape, mode, cval, keys, value_col, coords)
    targets = [(F.col(c) - F.col(f"d{c}")).alias(f"o{c}") for c in coords]
    in_bounds = [
        cond
        for c, n in zip(coords, shape)
        for cond in (F.col(f"o{c}") >= 0, F.col(f"o{c}") < n)
    ]
    return (
        pad.select(*keys, *coords, "_pv", _kernel_inline(offsets, coords))
        .select(*keys, *targets, "ko", "w", F.col("_pv").alias("v"))
        .filter(reduce(Column.__and__, in_bounds))
        .withColumnsRenamed({f"o{c}": c for c in coords})
    )


def _agg_stencil(
    px: DataFrame,
    offsets: Sequence[K.Offset],
    agg: Column,
    shape: Sequence[int],
    mode: str,
    cval: float,
    keys: Sequence[str],
    value_col: str = "value",
    out_col: str = "v",
    drop_zero_pad: bool = False,
    coords: Sequence[str] | None = None,
) -> DataFrame:
    coords = K.pixel_coords(shape, coords)
    g = stencil_gather(
        px, offsets, shape, mode, cval, keys, value_col, drop_zero_pad, coords
    )
    return g.groupBy(*keys, *coords).agg(agg.alias(out_col))


# --- the public ndfilters surface -------------------------------------------


def correlate(px, weights, shape, mode="reflect", cval=0.0, keys=(), coords=None):
    """Cross-correlation with an offset kernel (``ndfilters/_conv.py``), any
    rank: ``weights`` rows are ``(d_0, ..., d_{N-1}, w)`` in ``coords`` order.

    constant/cval=0 skips border materialization (zero terms drop out of the
    SUM); requires the kernel to contain the zero offset so every in-bounds
    output keeps at least its self-term row."""
    has_center = any(not any(off[:-1]) for off in weights)
    return _agg_stencil(
        px, weights, F.sum(F.col("v") * F.col("w")), shape, mode, cval, keys,
        drop_zero_pad=has_center, coords=coords,
    )


def convolve(px, weights, shape, mode="reflect", cval=0.0, keys=()):
    """N-D convolution = correlate with the point-reflected kernel."""
    return correlate(px, K.flip(list(weights)), shape, mode, cval, keys)


def shift_origin(offsets, origin):
    """Apply scipy's ``origin=`` window placement to an offset kernel:
    output o reads input ``o + k − (size//2 + origin)``, i.e. every offset
    shifts by −origin per axis (positive origin moves the window left/up —
    the documented scipy convention upstream passes straight through)."""
    oy, ox = origin
    return [(dy - oy, dx - ox, w) for dy, dx, w in offsets]


def uniform_filter(
    px, size=3, shape=None, mode="reflect", cval=0.0, keys=(), origin=(0, 0),
):
    """Moving mean over a box (``ndfilters/_smooth.py``); separable 1-D passes.

    Even ``size`` follows scipy's origin convention (offsets
    ``-(size//2) .. size-1-size//2``), so weights always sum to 1.
    ``origin`` shifts window placement per axis (scipy passthrough).
    """
    taps = [(o, 1.0 / size) for o in K.box_range(size)]
    oy, ox = origin
    ty = [(o - oy, w) for o, w in taps]
    tx = [(o - ox, w) for o, w in taps]
    out = correlate(px, K.taps_to_offsets_1d(ty, 0), shape, mode, cval, keys)
    out = out.withColumnRenamed("v", "value")
    out = correlate(out, K.taps_to_offsets_1d(tx, 1), shape, mode, cval, keys)
    return out


def minimum_filter(
    px, size=3, shape=None, mode="reflect", cval=0.0, keys=(),
    footprint=None, origin=(0, 0),
):
    fp = shift_origin(footprint or K.box_footprint(size), origin)
    return _agg_stencil(px, fp, F.min("v"), shape, mode, cval, keys)


def maximum_filter(
    px, size=3, shape=None, mode="reflect", cval=0.0, keys=(),
    footprint=None, origin=(0, 0),
):
    fp = shift_origin(footprint or K.box_footprint(size), origin)
    return _agg_stencil(px, fp, F.max("v"), shape, mode, cval, keys)


def grey_erosion(px, structure, shape=None, mode="reflect", cval=0.0, keys=()):
    """Non-flat grey erosion (scipy ``grey_erosion(structure=s)``):
    E(p) = min over k of (v(p + k) − s(k)). ``structure`` is an offset
    list [(dy, dx, weight)]; the flat all-zero-weight case degenerates to
    ``minimum_filter``. Same single-shuffle pad-then-scatter plan."""
    return _agg_stencil(
        px, structure, F.min(F.col("v") - F.col("w")), shape, mode, cval, keys
    )


def grey_dilation(px, structure, shape=None, mode="reflect", cval=0.0, keys=()):
    """Non-flat grey dilation (scipy ``grey_dilation(structure=s)``):
    D(p) = max over k of (v(p − k) + s(k)) — reads REFLECTED offsets
    (erosion reads p + k), realized by point-flipping the offset list
    with each weight kept attached, exactly convolve-vs-correlate."""
    return _agg_stencil(
        px, K.flip(structure), F.max(F.col("v") + F.col("w")),
        shape, mode, cval, keys,
    )


def median_filter(px, size=3, shape=None, mode="reflect", cval=0.0, keys=(), footprint=None):
    fp = footprint or K.box_footprint(size)
    return _agg_stencil(px, fp, F.median("v"), shape, mode, cval, keys)


def rank_filter(px, rank, size=3, shape=None, mode="reflect", cval=0.0, keys=(), footprint=None):
    """k-th order statistic in the window (``ndfilters/_order.py``).

    Negative rank counts from the top, as in scipy. Exact (sorted-array
    index), never approximate — the oracle hash-matches.
    """
    fp = footprint or K.box_footprint(size)
    n = len(fp)
    idx = rank if rank >= 0 else n + rank
    agg = F.sort_array(F.collect_list("v")).getItem(idx)
    return _agg_stencil(px, fp, agg, shape, mode, cval, keys)


def percentile_filter(px, percentile, size=3, shape=None, mode="reflect", cval=0.0, keys=(), footprint=None):
    fp = footprint or K.box_footprint(size)
    agg = F.percentile(F.col("v"), F.lit(percentile / 100.0))
    return _agg_stencil(px, fp, agg, shape, mode, cval, keys)


def gaussian_filter(
    px, sigma, order=0, shape=None, mode="reflect", cval=0.0,
    truncate=4.0, keys=(),
):
    """Separable Gaussian (``ndfilters/_gaussian.py``): one 1-D tap pass per
    axis, exactly the reference's structure. ``order`` may be an int or a
    per-axis (order_y, order_x) pair."""
    orders = order if isinstance(order, (tuple, list)) else (order, order)
    sigmas = sigma if isinstance(sigma, (tuple, list)) else (sigma, sigma)
    out = px
    for axis in (0, 1):
        taps = K.gaussian_taps_1d(sigmas[axis], orders[axis], truncate)
        # NOTE (chained-stencil recompute rule, SCALE.md imaging section):
        # pass 2's non-constant padding references pass 1 from the body
        # and the pass's one edge branch (a 1-D pass pads only its axis). An operator-internal cache() here was
        # measured a NET LOSS across the suite: it costs ~0.3 s of fixed
        # materialization on every single-reference consumer (edge_canny
        # 2.18 -> 2.50 s) and only pays when the CALLER re-references the
        # smoothed frame several times — which is the caller's knowledge,
        # so the materialization lives at the query level
        # (quickstart_pipeline persists its smoothed frame; see
        # persist_tracked there), exactly like the tfidf postings.
        out = correlate(
            out, K.taps_to_offsets_1d(taps, axis), shape, mode, cval, keys
        ).withColumnRenamed("v", "value")
    return out.withColumnRenamed("value", "v")


def gaussian_gradient_magnitude(px, sigma, shape=None, mode="reflect", cval=0.0, truncate=4.0, keys=()):
    """sqrt(sum_i d_i^2) with d_i the order-1 Gaussian along axis i."""
    gy = gaussian_filter(px, sigma, (1, 0), shape, mode, cval, truncate, keys)
    gx = gaussian_filter(px, sigma, (0, 1), shape, mode, cval, truncate, keys)
    j = gy.withColumnRenamed("v", "gy").join(
        gx.withColumnRenamed("v", "gx"), on=[*keys, "y", "x"]
    )
    return j.select(
        *keys, "y", "x",
        F.sqrt(F.col("gy") ** 2 + F.col("gx") ** 2).alias("v"),
    )


def gaussian_laplace(px, sigma, shape=None, mode="reflect", cval=0.0, truncate=4.0, keys=()):
    """Sum of per-axis order-2 Gaussian responses."""
    dyy = gaussian_filter(px, sigma, (2, 0), shape, mode, cval, truncate, keys)
    dxx = gaussian_filter(px, sigma, (0, 2), shape, mode, cval, truncate, keys)
    j = dyy.withColumnRenamed("v", "dyy").join(
        dxx.withColumnRenamed("v", "dxx"), on=[*keys, "y", "x"]
    )
    return j.select(*keys, "y", "x", (F.col("dyy") + F.col("dxx")).alias("v"))


def laplace(px, shape=None, mode="reflect", cval=0.0, keys=()):
    """Fixed 5-point discrete Laplacian (``ndfilters/_diff.py``)."""
    return correlate(px, K.LAPLACE, shape, mode, cval, keys)


def sobel(px, axis=-1, shape=None, mode="reflect", cval=0.0, keys=()):
    k = K.SOBEL_X if axis in (-1, 1) else K.SOBEL_Y
    return correlate(px, k, shape, mode, cval, keys)


def prewitt(px, axis=-1, shape=None, mode="reflect", cval=0.0, keys=()):
    k = K.PREWITT_X if axis in (-1, 1) else K.PREWITT_Y
    return correlate(px, k, shape, mode, cval, keys)


def threshold_local(
    px, block_size=3, method="mean", offset=0.0, shape=None,
    mode="reflect", cval=0.0, keys=(), sigma=None,
):
    """Adaptive threshold (``ndfilters/_threshold.py``): value > smoothed - offset."""
    if method == "mean":
        sm = uniform_filter(px, block_size, shape, mode, cval, keys)
    elif method == "median":
        sm = median_filter(px, block_size, shape, mode, cval, keys)
    elif method == "gaussian":
        s = sigma if sigma is not None else (block_size - 1) / 6.0
        sm = gaussian_filter(px, s, 0, shape, mode, cval, keys=keys)
    else:
        raise ValueError(f"unknown method {method!r}")
    j = px.join(sm.withColumnRenamed("v", "smoothed"), on=[*keys, "y", "x"])
    return j.select(
        *keys, "y", "x",
        (F.col("value") > F.col("smoothed") - F.lit(offset)).alias("v"),
    )


def generic_filter_collect(
    px, fn_udf, size=3, shape=None, mode="reflect", cval=0.0, keys=(), footprint=None,
):
    """Arbitrary function over each window (``ndfilters/_generic.py``).

    The window values are collected into an array ordered by (dy, dx) — the
    same raster order scipy presents — then ``fn_udf`` (a pandas UDF
    array<double> -> double) is applied. This is the windowed-UDF surface;
    inherently weak-oracle.
    """
    fp = footprint or K.box_footprint(size)
    g = stencil_gather(px, fp, shape, mode, cval, keys)
    # collect (kernel-ordinal, value) and sort by ordinal -> raster order
    arr = F.array_sort(
        F.collect_list(F.struct(F.col("ko"), F.col("v")))
    )
    out = g.groupBy(*keys, "y", "x").agg(
        F.transform(arr, lambda s: s["v"]).alias("window")
    )
    return out.select(*keys, "y", "x", fn_udf(F.col("window")).alias("v"))


def generic_filter_tiles(
    px, function, size=3, shape=None, mode="reflect", cval=0.0,
    block: int = 32, keys=(),
):
    """``generic_filter`` with a TRULY arbitrary user callable (upstream
    ``ndfilters/_generic.py::generic_filter``): ``function(window) ->
    float`` receives the raster-ordered (dy, dx) window values as a 1-D
    numpy array — the exact contract scipy gives its ``function``.

    Routed through the R2 chunked fast path (``chunked.map_overlap_tiles``
    = dask's ``map_overlap``): one shuffle assembles (block+2r)^2 tiles
    with halo, then the callable runs per window inside each tile. The
    per-window Python call is inherent to the operator (scipy's own
    ``generic_filter`` is a per-window callback too) — this is the escape
    hatch; every SQL-expressible window fn should use the R1 stencils
    instead.
    """
    import numpy as np

    from dask_image_spark.operators import chunked

    r = size // 2

    def tile_fn(tile):
        from numpy.lib.stride_tricks import sliding_window_view

        win = sliding_window_view(tile, (size, size))
        n0, n1 = win.shape[:2]
        flat = win.reshape(n0, n1, size * size)
        out = np.zeros_like(tile)
        for i in range(n0):
            for j in range(n1):
                out[r + i, r + j] = function(flat[i, j])
        return out

    return chunked.map_overlap_tiles(
        px, tile_fn, shape, depth=r, block=block, mode=mode, cval=cval,
        keys=keys,
    )
