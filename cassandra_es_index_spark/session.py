"""SparkSession factory with engine defaults.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]``; the same settings are
what we would ship as cluster defaults (AQE on, skew-join handling on,
shuffle partitions sized to the cluster, UTC session timezone so results
are reproducible and comparable across engines).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_driver_memory() -> str:
    """The driver heap: 16g, or half of physical memory on a smaller
    host, so one session's heap cannot grow to fill the host and starve
    a second session or the tests beside it (``SPARK_GRAFT_DRIVER_MEM``
    overrides it)."""
    try:
        phys_mb = (os.sysconf("SC_PAGE_SIZE")
                   * os.sysconf("SC_PHYS_PAGES")) // 2**20
    except (ValueError, OSError, AttributeError):
        return "16g"
    return f"{max(min(16 * 1024, phys_mb // 2), 512)}m"


def get_spark(app_name: str = "cassandra-es-index-spark",
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    Defaults chosen for scale:
    - AQE enabled: runtime coalescing of shuffle partitions, skew-join
      splitting, dynamic broadcast decisions.
    - UTC session timezone: deterministic timestamp semantics (and parity
      with the reference's GMT ISO-8601 serialization,
      ref JsonUtils.java:49).
    - Arrow enabled: vectorized pandas-UDF transfer for the few operators
      that need Python.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # parquet TIMESTAMP(NANOS) columns surface as LongType (epoch ns)
        # instead of erroring; sources.read_parquet converts them to
        # microsecond timestamps (same truncation DuckDB applies).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # timestamp[us/ms] isAdjustedToUTC=false parquet columns read as
        # TIMESTAMP (session-UTC), never TIMESTAMP_NTZ — one timestamp
        # semantics engine-wide (ref JsonUtils.java:49 GMT ISO-8601).
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # segment partition values are opaque strings ('2024-01-01', '19723'),
        # never dates/ints — keep round-trips exact.
        .config("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # keep bucketed scans for bucketed tables: the engine's only
        # bucketed tables are postings (bucketBy token), where bucket
        # pruning turns a term lookup into a 1/buckets-of-files read;
        # auto-bucketed-scan would silently fall back to full scans for
        # filter-only plans.
        .config("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
        # let AQE coalesce shuffle partitions INSIDE cached plans: the
        # in-memory indexes (postings/positional/presence/range) are small
        # relative to the corpus, and pinning them at
        # spark.sql.shuffle.partitions makes every index lookup schedule
        # that many tasks — pure fixed overhead at low SF, and at scale a
        # cached dimension should still be sized by bytes, not by the
        # session's shuffle width (the r04 search_* latency regressions
        # were exactly this: 32 tasks scanning a 4 MB cached index).
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
                "true")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", default_driver_memory()))
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()
