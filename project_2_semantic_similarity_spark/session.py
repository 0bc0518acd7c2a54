"""SparkSession factory.

Local-mode defaults tuned for the test harness (local[32], 128 GiB);
on a real cluster every setting here except the master is still the
right default: AQE on (runtime coalesce + skew-join split), UTC session
timezone (oracle parity with DuckDB), Arrow enabled for the Pandas-UDF
operators.

``local_frame`` is how driver-held rows (codebooks, id tables, small
driver-computed results) become relations: as LocalRelations, never
through ``sc.parallelize``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def get_spark(app_name: str = "project2_semantic_similarity",
              cpus: int | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or reuse) the SparkSession.

    ``spark.sql.shuffle.partitions`` is set to the core count — at
    cluster scale this would instead be sized so post-shuffle
    partitions land near 128-256 MB; AQE's coalescePartitions then
    right-sizes small stages automatically. Rule of thumb: partitions
    ~= shuffle_bytes / 200 MB, and per-task execution memory (heap x
    spark.memory.fraction / cores) should exceed one partition, else
    hash aggs/joins spill. The token-sized window-ids family
    (corpus_context_window_ids & co.) additionally needs
    ``SPARK_DRIVER_MEM=48g`` at the 2M-doc probe scale — the 404M-row
    result materializes through the driver-side local runner; see
    SCALE.md.

    ``extra_conf`` overrides/extends the defaults (first builder call
    in the process wins — used by tools/probe_scale.py to enable the
    UI REST API for shuffle-volume accounting)."""
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = (
        SparkSession.builder
        .master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """DataFrame over driver-held ``rows`` (a sequence of tuples, or a
    ``pyarrow.Table`` of columns, in ``schema``'s column order;
    ``schema`` is a DDL string or a StructType). The one way
    driver-built rows enter a plan.

    The rows go in as a ``pyarrow.Table`` — Spark's Arrow-table path,
    independent of ``spark.sql.execution.arrow.pyspark.enabled``.
    Below ``spark.sql.execution.arrow.localRelationThreshold`` it plans
    as a LocalRelation: reading it back (a collect, the build side of
    a broadcast) runs no Spark job, and the planner sees its real
    size. A Python list handed to ``createDataFrame`` goes through
    ``sc.parallelize`` instead: every read of it is a Spark job, and
    its statistics are unknown, so a join may broadcast the other,
    larger side."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    struct = (schema if isinstance(schema, StructType)
              else StructType.fromDDL(schema))
    arrow = to_arrow_schema(struct)
    if isinstance(rows, pa.Table):
        table = rows.rename_columns(arrow.names).cast(arrow)
    else:
        cols = list(zip(*rows)) if len(rows) else [()] * len(arrow)
        table = pa.Table.from_arrays(
            [pa.array(list(c), type=f.type) for c, f in zip(cols, arrow)],
            schema=arrow)
    return spark.createDataFrame(table, struct)
