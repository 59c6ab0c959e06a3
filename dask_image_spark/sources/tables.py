"""Loaders for the driver's parquet tables (plus generic scan helpers).

The reference's ingest surface is ``dask_image.imread.imread`` — a lazy,
per-slab file scan (upstream ``dask_image/imread/__init__.py``). Spark's
equivalent is the built-in lazy file scan: ``spark.read.parquet/csv/json``
splits files into tasks, pushes filters/prunes columns at the source, and
needs no custom code. Image-file ingest (binaryFile + decode) lives in
``operators/multimodal.py``.

Scale note: these are plain parquet scans — at 100 TB the same code holds
because Spark parallelizes by file/row-group split
(``spark.sql.files.maxPartitionBytes``); nothing here collects to the driver.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dask_image_spark.session import ENGINE_CONFS, RUNTIME_CONFS

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def ensure_engine_confs(spark: SparkSession) -> None:
    """Pin the runtime-settable engine confs every read depends on
    (``session.RUNTIME_CONFS``, values from ``session.ENGINE_CONFS``).

    A caller may hand us a session built without the engine confs.
    """
    for k in RUNTIME_CONFS:
        try:
            spark.conf.set(k, ENGINE_CONFS[k])
        except Exception:
            pass


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Canonicalize the ``events.ts`` column to TIMESTAMP (LTZ, pinned UTC).

    The driver's generator has shipped ``ts`` under three physical parquet
    encodings across rounds — the engine must treat the dtype as data-driven
    (the reference infers dtypes from the source, never hard-codes them):

    - ``timestamp[ns]`` → with ``nanosAsLong=true`` it arrives as a LONG of
      nanoseconds. ``ts div 1000`` (integer division — float division would
      round at ~2^53 and corrupt microseconds) then ``timestamp_micros``
      truncates to µs, matching DuckDB's ns→µs cast.
    - ``timestamp[us]`` without timezone → Spark's TIMESTAMP_NTZ. Cast to
      TIMESTAMP: under the pinned UTC session zone this is value-preserving
      (naive wall-clock == UTC instant), and it restores the LTZ type the
      rest of the engine (``unix_micros``, windows, watermarks) consumes.
    - ``timestamp[us/ms]`` with UTC adjustment → already TIMESTAMP; no-op.

    Used by BOTH the batch loader and the streaming reader so their schemas
    can never drift (the round-4 µs regression class).
    """
    dt = dict(df.dtypes).get("ts")
    if dt == "bigint":
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    elif dt == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver table; canonicalizes ``events.ts`` (see
    ``normalize_events_ts``) so downstream code sees exactly one ts type
    regardless of the file's physical encoding."""
    ensure_engine_confs(spark)
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        df = normalize_events_ts(df)
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register all driver tables as temp views (``spark.sql`` access)."""
    for name in TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
