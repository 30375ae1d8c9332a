"""SparkSession factory with engine defaults.

Mirrors the reference's connection bootstrap (jdbc/Driver.scala:37-64:
connect string → Calcite model → fun=spatial enabled) as a Python
session builder: UTC timezone pinned (the reference's local-timezone
shift hack at AttributeConverter.scala:66-84 is deliberately NOT
replicated — see SURVEY.md §1.2), Arrow on, AQE on.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_driver_memory(phys_bytes: int | None = None) -> str:
    """The ``spark.driver.memory`` default: half the host's physical
    memory (``phys_bytes``, read from ``sysconf`` when None), between 1g
    and 24g. A heap near the host's memory lets G1 keep garbage until
    the kernel's OOM killer ends the driver; a fixed 24g did that on a
    16 GB host."""
    if phys_bytes is None:
        try:
            phys_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
        except (AttributeError, ValueError, OSError):  # no sysconf names here
            return "24g"
    return f"{min(max(phys_bytes // 2 >> 20, 1 << 10), 24 << 10)}m"


def get_spark(
    app_name: str = "geomesa_sql_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    Defaults are sized for local mode but every knob is the one that
    matters on a real cluster too: AQE (runtime re-plan + skew-join
    splitting for equi joins), Arrow for pandas-UDF transfer, UTC
    session timezone, shuffle partitions matched to parallelism.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # match parallelism, not the 200 default — at cluster scale this
        # would come from cluster size / AQE target sizes instead
        n = master[len("local[") : -1] if master.startswith("local[") else cpus
        shuffle_partitions = 2 * int(32 if n == "*" else n)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # allow shuffled-hash joins when the planner's/AQE's size
        # conditions fit (guide §3.1/§9): SHJ skips both sort passes of
        # a sort-merge join. Both knobs are size-threshold-based, not
        # cluster-size-based, so they transfer to real clusters; the
        # AQE rewrite fires only when every post-shuffle partition is
        # under 64 MB (per-partition build side fits in task memory).
        # Interleaved A/B on the 2M dwithin self-join: 1.2-1.5 s SHJ
        # vs 1.5-2.2 s SMJ at local[32].
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            "67108864",
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 8k-row Arrow batches: a Python stage streams many small
        # batches, overlapping JVM scan/serialize with Python compute —
        # measured 1.8× on the image-decode stage vs 64k-row batches
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "8192")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
