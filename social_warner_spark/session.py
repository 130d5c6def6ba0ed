"""SparkSession factory with a 100-TB-minded default configuration.

The reference runs a single pandas process (see SURVEY.md §0); here every
knob is chosen so the same logical pipeline scales out:

- AQE on (runtime partition coalescing, skew-join splitting, dynamic join
  strategy switch) — at 100 TB static shuffle-partition counts are always
  wrong for at least one stage.
- Arrow on — every Python-boundary crossing (pandas UDFs, toPandas) is
  vectorized columnar batches, not pickled rows.
- UTC session timezone — deterministic timestamp semantics regardless of
  host timezone (matches the DuckDB/naive-timestamp oracle).
- Sane local shuffle parallelism for tests; on a real cluster AQE coalesces
  from `spark.sql.shuffle.partitions` down, so we leave it modest locally
  and document 2-3× core count for cluster deploys.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "social-warner-spark",
    master: str | None = None,
    shuffle_partitions: int = 32,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the configured SparkSession.

    Honors ``SPARK_GRAFT_CPUS`` for local core count (driver contract).
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # r11 bounded experiment (r10 verdict task 5, the local[32]>local[8]
        # inversion): parallelismFirst=false — the Spark-docs-recommended
        # size-derived coalescing — was measured on a steal-quiet host and
        # REJECTED as the default: byte-based targets cannot see
        # interpreted-CPU density, so the pair-scoring/vote stages
        # under-parallelize (l2 3.5 vs 2.4 s, x7 4.9 vs 3.8, x239 5.0 vs
        # 4.1 at sf0.1; only stage-count-bound x220 improved ~0.4 s, and
        # advisory=4m recovered l2 but not x7/x239).  The default (true)
        # already derives the target from max(bytes/parallelism,
        # minPartitionSize=1m), i.e. KB-scale stages coalesce to one task
        # either way — the r10 "inversion" was mostly the polluted 32-core
        # sweep.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SWS_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        # Small dims (region/nation/customer at test SF) should always broadcast.
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
