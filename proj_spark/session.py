"""SparkSession factory tuned for the engine.

Local-mode defaults mirror what we'd set per-executor on a real cluster:
Arrow batches for the UDF kernels (the engine's SoA execution path,
SURVEY.md §1.2-1.3), AQE + skew-join handling on (north rule: explicit skew
handling), UTC session timezone for DuckDB oracle parity.

``local_df`` is the one way the engine turns small driver-built rows into
a DataFrame, and ``cached_view`` the one place it caches a relation.
"""

from __future__ import annotations

import os

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import _parse_datatype_string


def get_spark(app_name: str = "proj_spark", cpus: int | None = None,
              shuffle_partitions: int | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = max(int(cpus), 8)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        # progress bars flood stdout and truncated the one-line bench JSON
        # in the round-3 driver capture (VERDICT r3 "what's wrong" #2)
        .config("spark.ui.showConsoleProgress", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def local_df(spark: SparkSession, rows, ddl: str) -> DataFrame:
    """Small driver-built rows (tuples in ``ddl`` column order) as a
    JVM-local relation, planned as ``LocalTableScan``. Unlike
    ``createDataFrame(list, ddl)``, which parallelizes the rows as a Python
    RDD and so scans them in Python workers, no task touches Python; this
    holds with Arrow on or off."""
    schema = to_arrow_schema(_parse_datatype_string(ddl))
    cols = list(zip(*rows)) or [()] * len(schema)
    return spark.createDataFrame(pa.Table.from_arrays(
        [pa.array(c, f.type) for c, f in zip(cols, schema)], schema=schema))


# view name -> (application id, key, cached DataFrame)
_cached_views: dict = {}


def cached_view(spark: SparkSession, name: str, key, build) -> None:
    """Register ``build()`` as temp view ``name`` behind a cache barrier,
    built once per (application, ``key``). A hit only re-registers the
    view and runs no Spark job. A new ``key`` unpersists the relation
    cached under ``name`` before, so one relation per view stays cached;
    so does a relation Spark uncached itself (replacing a view it reads,
    e.g. ``documents`` at another scale, uncaches it). Session fixtures
    use it; operators cache nothing (their intermediates live as long as
    their plan)."""
    app = spark.sparkContext.applicationId
    entry = _cached_views.get(name)
    if entry is not None and entry[0] == app:
        if entry[1] == key and entry[2].storageLevel.useMemory:
            entry[2].createOrReplaceTempView(name)
            return
        entry[2].unpersist()
    df = build().cache()
    _cached_views[name] = (app, key, df)
    df.createOrReplaceTempView(name)
