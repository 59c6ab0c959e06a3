"""SparkSession builder with every conf this engine requires.

Scale notes (the real target is a 1000-executor cluster on ~100 TB; local[32]
is only the test harness):

* ``spark.sql.adaptive.enabled`` — AQE re-plans at runtime: coalesces small
  shuffle partitions, converts sort-merge joins to broadcast when the built
  side turns out small, and splits skewed partitions. All three matter at
  100 TB, and they are free.
* ``spark.sql.shuffle.partitions`` — sized for the harness (32 cores); on a
  real cluster this should be ~2-3x total cores. AQE coalescing makes the
  exact number forgiving.
* ``spark.sql.session.timeZone=UTC`` — determinism: the DuckDB oracle reads
  naive timestamps; Spark TIMESTAMP_LTZ must be pinned to UTC so both engines
  agree on every extracted field.
* ``spark.sql.legacy.parquet.nanosAsLong`` — the driver's ``events.ts`` is
  parquet ``timestamp[ns]`` which Spark 4 rejects by default; with this flag
  it reads as a long (ns since epoch) and ``sources.tables.load_table``
  converts it to a microsecond timestamp with integer division (float
  division would lose microsecond precision at 2024-era epoch-ns magnitudes).
* Arrow enabled — every pandas-UDF operator (R2 chunk path, multimodal
  decode) moves data via Arrow batches, never row-at-a-time pickling.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

ENGINE_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Scale-dependent: ~core count locally (AQE coalescing makes the exact
    # value forgiving); on a real cluster set SPARK_GRAFT_SHUFFLE_PARTITIONS
    # to 2-3x total cores (SCALE.md). Parameterised, never hard-coded, so
    # the local default and the cluster value share one code path.
    "spark.sql.shuffle.partitions": os.environ.get(
        "SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"
    ),
    "spark.ui.enabled": "false",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
}

# The runtime-settable subset of ENGINE_CONFS that reads and plans depend on.
# ``get_spark`` re-applies it on a reused session and
# ``sources.tables.ensure_engine_confs`` on a session built elsewhere (a
# default-built one would shuffle into 200 partitions and read parquet
# timestamp[ns] as an error).
RUNTIME_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.session.timeZone",
    "spark.sql.shuffle.partitions",
    "spark.sql.adaptive.enabled",
)


def default_master() -> str:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    return f"local[{cpus}]"


def get_spark(
    app_name: str = "dask-image-spark",
    master: str | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    Confs are applied through the builder so they also take effect when a
    session already exists with compatible settings (Spark reuses the active
    session; runtime-settable confs are re-applied).
    """
    builder = SparkSession.builder.appName(app_name).master(
        master or default_master()
    )
    for k, v in ENGINE_CONFS.items():
        builder = builder.config(k, v)
    for k, v in (extra_confs or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    for k in RUNTIME_CONFS:
        spark.conf.set(k, ENGINE_CONFS[k])
    return spark
