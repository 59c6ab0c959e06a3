"""Binary morphology (the ``dask_image.ndmorph`` surface).

Reference: ``dask_image/ndmorph/__init__.py`` wraps
``scipy.ndimage.binary_{erosion,dilation,opening,closing}`` in
``map_overlap`` with args normalized by ``ndmorph/_utils.py``. Semantics:

* erosion  = AND of mask over the structuring element (out-of-image reads are
  ``border_value``, default 0 → scipy's ``mode='constant'``)
* dilation = OR over the *mirrored* structuring element (symmetric default
  structure makes the mirror a no-op)
* opening/closing = the two composed; ``iterations=n`` chains n passes.

Spark-first: each pass is the same broadcast-kernel gather as ndfilters with
``bool_and`` / ``bool_or`` aggregation — map-side partial agg applies, one
shuffle per pass.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dask_image_spark.functions.kernels import Offset
from dask_image_spark.operators.ndfilters import stencil_gather

# scipy default structure: generate_binary_structure(2, 1) — the 4-connected cross.
CROSS: list[Offset] = [(0, 0, 1.0), (-1, 0, 1.0), (1, 0, 1.0), (0, -1, 1.0), (0, 1, 1.0)]
SQUARE: list[Offset] = [
    (dy, dx, 1.0) for dy in (-1, 0, 1) for dx in (-1, 0, 1)
]


def _binary_pass(
    mask: DataFrame,
    structure: Sequence[Offset],
    shape: tuple[int, int],
    border_value: bool,
    agg,
    keys: Sequence[str] = (),
) -> DataFrame:
    m = mask.withColumn("value", F.col("m").cast("double"))
    g = stencil_gather(
        m, structure, shape, mode="constant",
        cval=1.0 if border_value else 0.0, keys=keys,
    )
    return (
        g.groupBy(*keys, "y", "x")
        .agg(agg(F.col("v") > F.lit(0.5)).alias("m"))
    )


_UNIT_CROSS = frozenset((dy, dx) for dy, dx, _ in CROSS)
_UNIT_SQUARE = frozenset((dy, dx) for dy, dx, _ in SQUARE)


def _iterate_structure(structure: Sequence[Offset], iterations: int):
    """k-fold Minkowski self-dilation of the structuring element: the
    offset sum-set {s1 + ... + sk}. Iterated erosion by S equals ONE
    erosion by iterate(S, k) (Minkowski: E_S ∘ E_S = E_{S⊕S}), so k
    chained single-shuffle passes collapse into one pass over a larger
    window — k fewer shuffle rounds for O(k^2) window cells (guide §2.4:
    remove shuffles outright; the extra gathered rows are map-side).

    Exactness with this engine's per-pass constant-0 border:
    * erosion, border_value=False: out-of-image reads are 0 both ways —
      a window touching the border ANDs a 0 in the chained AND the
      composed form (the composed window contains every intermediate's
      own window because (0,0) ∈ S), so the two are equal for ANY
      center-containing S.
    * dilation, border_value=False: per-pass padding zeroes out-of-image
      stepping stones, so equality needs every composed offset to have a
      decomposition whose partial sums stay inside the source/target
      bounding box (in-image on a rectangular grid). That holds for the
      CROSS and SQUARE elements (all decompositions reorder into
      coordinate-monotone paths) but NOT for arbitrary mixed-sign
      structures — hence the whitelist below.
    * border_value=True: the chained form re-pads 1s every pass; not
      composable — callers keep the loop.
    """
    base = [(dy, dx) for dy, dx, _ in structure]
    acc = {(0, 0)}
    for _ in range(iterations):
        acc = {(a + dy, b + dx) for a, b in acc for dy, dx in base}
    return [(dy, dx, 1.0) for dy, dx in sorted(acc)]


def _composable(structure: Sequence[Offset], border_value: bool) -> bool:
    cells = frozenset((dy, dx) for dy, dx, _ in structure)
    return not border_value and cells in (_UNIT_CROSS, _UNIT_SQUARE)


def binary_erosion(mask, structure=None, shape=None, iterations=1, border_value=False, keys=()):
    st = list(structure or CROSS)
    if iterations > 1 and _composable(st, border_value):
        st = _iterate_structure(st, iterations)
        iterations = 1
    out = mask
    for _ in range(iterations):
        out = _binary_pass(out, st, shape, border_value, F.bool_and, keys)
    return out


def binary_dilation(mask, structure=None, shape=None, iterations=1, border_value=False, keys=()):
    st = [(-dy, -dx, w) for dy, dx, w in (structure or CROSS)]  # mirrored
    if iterations > 1 and _composable(st, border_value):
        st = _iterate_structure(st, iterations)
        iterations = 1
    out = mask
    for _ in range(iterations):
        out = _binary_pass(out, st, shape, border_value, F.bool_or, keys)
    return out


def binary_opening(mask, structure=None, shape=None, iterations=1, keys=()):
    out = binary_erosion(mask, structure, shape, iterations, keys=keys)
    return binary_dilation(out, structure, shape, iterations, keys=keys)


def binary_closing(mask, structure=None, shape=None, iterations=1, keys=()):
    out = binary_dilation(mask, structure, shape, iterations, keys=keys)
    return binary_erosion(out, structure, shape, iterations, keys=keys)


def binary_hit_or_miss(
    mask, structure1=None, structure2=None, shape=None, keys=()
):
    """Hit-or-miss transform (``scipy.ndimage.binary_hit_or_miss``): the
    exact-pattern detector — HMT(X; S1, S2) = erosion(X, S1) AND
    erosion(X^c, S2). S1 must hit foreground, S2 must hit background;
    scipy's defaults are S1 = the 4-connected cross and S2 = its logical
    complement within the 3x3 box (the corners), and the complement
    erosion pads with TRUE (scipy's inverted pass flips border_value, so
    out-of-image counts as background). Two independent single-shuffle
    erosion passes joined on the shared grouping keys."""
    s1 = list(structure1 or CROSS)
    if structure2 is None:
        cells1 = {(dy, dx) for dy, dx, _ in s1}
        structure2 = [
            (dy, dx, 1.0)
            for dy in (-1, 0, 1)
            for dx in (-1, 0, 1)
            if (dy, dx) not in cells1
        ]
    e1 = binary_erosion(mask, s1, shape, keys=keys)
    comp = mask.withColumn("m", ~F.col("m").cast("boolean"))
    e2 = binary_erosion(
        comp, structure2, shape, border_value=True, keys=keys
    ).select(*keys, "y", "x", F.col("m").alias("m2"))
    return e1.join(e2, [*keys, "y", "x"]).select(
        *keys, "y", "x", (F.col("m") & F.col("m2")).alias("m")
    )
