"""SparkSession factory.

All entry points (tests, bench, driver harness) build sessions here so the
scale-relevant configs are applied uniformly:

- AQE on (coalesce + skew-join splitting) — required by BASELINE.json:6
  ("AQE skew-join splitting").
- shuffle.partitions proportional to cores so the local[8]-vs-local[32]
  scaling comparison (SURVEY.md §6.1) is fair.
- Arrow enabled, batch size measured not guessed: 50k-row batches (~15 MB
  at transcript text widths) amortize per-batch overhead 1.3-1.8x over the
  old conservative 4096 without worker memory pressure (BENCH/
  profile_8v32.md).
- Shuffle and parquet codecs are Spark's own defaults (lz4 / snappy,
  BENCH/BASELINE.md §1); a deployment that wants zstd passes the standard
  `--conf spark.io.compression.codec=zstd` (DEPLOY.md §5).
- Under spark-submit the master is the one spark-submit was given; the
  local[cores] default applies only to a plain `python` process.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "kgpipe",
    master: str | None = None,
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 4)
    if master is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        # spark-submit sets the gateway port; its --master must hold
        master = f"local[{cores}]"
    if shuffle_partitions is None:
        # 2x cores: enough fan-out for map-side combine without tiny-task
        # overhead at sandbox scale; on a real cluster this is set per-job.
        shuffle_partitions = 2 * cores

    builder = SparkSession.builder.appName(app_name)
    if master is not None:
        builder = builder.master(master)
    builder = (
        builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # parallelismFirst stays at Spark's default (true). The tempting
        # alternative — size-based coalescing (parallelismFirst=false) —
        # was measured BOTH ways: it cuts tiny-stage scheduling overhead
        # in the canon DAG (fused 4M pipeline 13.4s -> 9.5s on local[32])
        # but halves 16M-turn throughput (103s vs 50s) because byte size
        # is a bad proxy for CPU-bound extraction work and AQE under-
        # parallelizes the big stages. Parallelism wins at scale.
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "50000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("KGPIPE_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # list up to 1024 paths on the driver: reading back the 128-bucket
        # triple sink otherwise starts a 128-task listing job per read
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
