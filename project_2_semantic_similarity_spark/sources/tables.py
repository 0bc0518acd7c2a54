"""Parquet table access for the driver-generated testdata layout
(TESTDATA.md): one parquet file per table under an sf directory.

At 100 TB these would be partitioned/parquet datasets (partitioned by
date or lang); ``spark.read.parquet`` handles both shapes identically
and Catalyst gets predicate pushdown + column pruning + partition
pruning for free.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLE_NAMES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table. Lazy — the scan participates in
    whatever plan the caller builds (pushdown/pruning applies).

    ``events.ts`` has shipped in two physical layouts across testdata
    generations: TIMESTAMP(NANOS) — which Spark 4 rejects outright
    (PARQUET_TYPE_ILLEGAL) unless read as raw nano longs via the
    legacy conf — and plain TIMESTAMP(MICROS) without a UTC
    annotation, which Spark reads as TIMESTAMP_NTZ. Normalize both to
    a session-TZ TimestampType: nanos convert with integer ``div``
    arithmetic (a double division would lose precision on ~1.7e18
    nano epochs); NTZ casts 1:1 because the session timezone is UTC
    (session.py). DuckDB sees naive µs timestamps either way, so
    oracle parity holds.

    The layout is probed from the parquet footer (pyarrow, driver-
    local) so the session-wide legacy nanosAsLong conf is only set
    when the file actually is nanos — on the micros layout no
    unrelated parquet read in the session can be affected. When set
    it stays set: Spark consults it at scan execution, not just at
    schema inference, so save/restore around the lazy read would
    corrupt the deferred action."""
    if name == "events":
        from pyspark.sql import types as T

        path = f"{sf_dir}/{name}.parquet"
        if events_ts_is_nanos(path):
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            df = spark.read.parquet(path)
            # Spark versions that support TIMESTAMP(NANOS) natively
            # ignore the legacy conf and surface ts as a (µs-truncated)
            # TimestampType directly; older ones surface the raw nano
            # long. Branch on what the scan actually produced.
            if isinstance(df.schema["ts"].dataType, T.LongType):
                return df.withColumn(
                    "ts", F.timestamp_micros(F.expr("ts div 1000")))
            return df.withColumn("ts", F.col("ts").cast("timestamp"))
        return spark.read.parquet(path).withColumn(
            "ts", F.col("ts").cast("timestamp"))
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def events_ts_is_nanos(parquet_path_or_dir: str) -> bool:
    """Footer probe: True iff the events file(s) carry ts as
    TIMESTAMP(NANOS). Reads one footer only (pyarrow, driver-local,
    no Spark job) — all files in a staged streaming dir are
    hardlinks/derivatives of the same source layout."""
    import pyarrow.parquet as pq

    p = parquet_path_or_dir
    if os.path.isdir(p):
        files = sorted(f for f in os.listdir(p) if f.endswith(".parquet"))
        if not files:
            raise FileNotFoundError(f"no parquet files under {p}")
        p = os.path.join(p, files[0])
    return str(pq.read_schema(p).field("ts").type) == "timestamp[ns]"


def source_fingerprint(sf_dir: str, *names: str) -> str:
    """Short content fingerprint (size + mtime of every file) of one
    or more testdata tables. /tmp caches derived from these tables
    (bucketed copies, staged streaming dirs) key their paths on this
    so regenerating the testdata in place invalidates the cache
    instead of silently serving stale derived data."""
    h = hashlib.sha1()
    for name in names:
        p = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.isfile(p):
            files = [p]
        else:
            # recurse: a partitioned dataset rewrites part-files INSIDE
            # subdirectories without changing the subdir's own
            # size/mtime, so only leaf files carry the change signal
            files = sorted(
                os.path.join(root, f)
                for root, _dirs, fnames in os.walk(p)
                for f in fnames)
        for f in files:
            st = os.stat(f)
            h.update(f"{f}:{st.st_size}:{st.st_mtime_ns};".encode())
    return h.hexdigest()[:10]


def table_key(sf_dir: str, name: str) -> tuple[str, str, str]:
    """Cache identity (path + content fingerprint) of one testdata
    table, for persisted-slot reuse and probe-decision caching."""
    return (sf_dir, name, source_fingerprint(sf_dir, name))


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view so SQL-API entry
    points (SURVEY §3.4) see the same catalog DuckDB's oracle does."""
    for name in TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
