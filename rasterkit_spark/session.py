"""SparkSession factory with scale-oriented defaults.

Local runs use ``local[N]``; on a real cluster the same builder is used by
``spark-submit --py-files`` (master comes from the environment).  Iceberg:
this sandbox has no Iceberg runtime jar, so tables fall back to Spark-managed
parquet (``TABLE_FORMAT``).  On a production cluster set
``RASTERKIT_TABLE_FORMAT=iceberg`` and add the usual
``spark.sql.catalog.<name>=org.apache.iceberg.spark.SparkCatalog`` configs —
every writer in this package goes through :func:`table_writer` so the switch
is one env var.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

#: storage format for engine-managed tables; 'iceberg' on a real cluster.
TABLE_FORMAT = os.environ.get("RASTERKIT_TABLE_FORMAT", "parquet")


def get_spark(app_name: str = "rasterkit-spark",
              cores: int | str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession.

    Scale-relevant defaults:
      - AQE on (runtime coalesce + skew-join splitting — SURVEY.md §4);
      - Arrow execution for pandas UDFs (the only Python hot path);
      - shuffle partitions sized to parallelism locally; at cluster scale the
        caller passes an explicit value (~2-3x total cores).
    """
    cores = cores or os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 1024 (not the old 10000): blob-heavy plans (64 KB tile rows) turn
        # a 10k-row Arrow batch into 640 MB per python worker — at 8+
        # workers that is GBs of concurrent batch churn and extract
        # anti-scales; 1024 keeps batches ≤64 MB with negligible overhead
        # for narrow numeric UDFs
        .config("spark.sql.execution.arrow.maxRecordsPerBatch",
                os.environ.get("RASTERKIT_ARROW_BATCH", "1024"))
        # NB: parenthesize the default — the old one-liner parsed as
        # (explicit or derived) if isdigit else 64, silently discarding an
        # explicit shuffle_partitions whenever cores wasn't a digit string
        .config("spark.sql.shuffle.partitions",
                str(shuffle_partitions if shuffle_partitions is not None
                    else (int(str(cores)) * 2 if str(cores).isdigit()
                          else 64)))
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory",
                os.environ.get("RASTERKIT_DRIVER_MEM", "24g"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
    )
    # master resolution: an explicit env master always wins; when the
    # launcher already configured spark.master (spark-submit --master, or
    # spark-defaults.conf — SparkConf(loadDefaults=True) sees both; the old
    # PYSPARK_SUBMIT_ARGS probe only covered the interactive pyspark shell,
    # so `spark-submit --master yarn run_job.py` got silently stamped to
    # local[]), stamping local[] would force single-node; only with neither
    # does the local[] fallback apply.
    env_master = os.environ.get("SPARK_MASTER") or os.environ.get("MASTER")
    if env_master:
        builder = builder.master(env_master)
    else:
        from pyspark import SparkConf

        if not SparkConf(loadDefaults=True).contains("spark.master"):
            builder = builder.master(f"local[{cores}]")
    return builder.getOrCreate()


def ensure_parallelism(df: DataFrame, factor: int = 2) -> DataFrame:
    """Guarantee enough partitions to use the cluster.

    Small-file inputs (one parquet file → one partition) otherwise serialize
    every downstream pandas/numpy stage onto a single core — invisible at
    toy scale, fatal for scaling efficiency.  At 100 TB inputs are already
    wide and this is a no-op.

    Trigger threshold is the core count, NOT the repartition target: an
    input already at least as wide as the cluster keeps every core busy,
    and repartitioning it anyway pays a full shuffle of the payload
    (wide vectors, documents, blobs) for nothing — measured round 6 as an
    extra corpus exchange in front of every dedup/similarity query.  When
    the input IS narrow, we still repartition to ``factor``× the core
    count so uneven partitions don't leave a straggler tail."""
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < parallelism:
        return df.repartition(parallelism * factor)
    return df


def table_writer(df: DataFrame, mode: str = "overwrite"):
    """Engine sink: Iceberg on a configured cluster, parquet here."""
    return df.write.format(TABLE_FORMAT).mode(mode)
