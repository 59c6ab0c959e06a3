"""dask_image_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of the ``ebo/dask-image`` reference, re-expressed
Spark-first.

The reference (upstream ``dask/dask-image``) is an n-dimensional
image-processing library over chunked dask arrays: stencil filters
(``dask_image.ndfilters``), binary morphology (``ndmorph``), per-label
measurements (``ndmeasure``), geometric/interp transforms (``ndinterp``),
Fourier-domain ops (``ndfourier``) and lazy image ingest (``imread``).

This engine maps that surface onto Spark's relational model (see SURVEY.md §1):

* **R1 "pixel table"** — ``(image_id, y, x, value)`` long-form rows; stencils
  become broadcast-kernel joins + aggregates, measurements become
  ``GROUP BY label``, geometric transforms become gather joins. Everything in
  this form is ANSI-SQL-expressible and DuckDB-oracle-checkable.
* **R2 "chunk table"** — one row per tile with an array payload; halo exchange
  + ``applyInPandas`` reproduces dask's ``map_overlap`` for ops that are not
  economical as joins (spline/FFT/generic_filter).
* Plain relational tables for the extended surface: joins, window functions,
  rollup/cube, set ops, dedup (exact/MinHash/SimHash), similarity search,
  text analysis, sessionization, as-of joins, streaming variants.

Layout::

    session.py   SparkSession builder (all engine-required confs)
    sources/     table loaders (parquet + the events timestamp[ns] fix)
    functions/   expression helpers: kernels, boundary modes, pixel grids
    operators/   the operator library (pure DataFrame -> DataFrame functions)
    queries/     driver-graded registry (queries() + oracle_sql() pairs)
    streaming/   Structured Streaming variants
"""

__version__ = "0.1.0"

from dask_image_spark.session import get_spark  # noqa: F401
