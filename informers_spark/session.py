"""SparkSession factory tuned for the engine.

Local-mode defaults mirror what we would set on a real cluster: AQE with
skew-join handling on, shuffle partitions sized to the parallelism level,
Arrow enabled for the pandas-UDF inference path.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_mem() -> str:
    """min(8g, host memory / 4), at least 1g; host memory is physical
    memory capped by a cgroup v2 limit."""
    mem = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    try:
        with open("/sys/fs/cgroup/memory.max") as fh:
            mem = min(mem, int(fh.read()))
    except (OSError, ValueError):  # no cgroup v2, or no limit ("max")
        pass
    return f"{max(1, min(8, mem // 4 // 2**30))}g"


def get_spark(
    app_name: str = "informers_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    cores: parallelism level (local[N]); default $SPARK_GRAFT_CPUS or 32.
    shuffle_partitions: defaults to max(cores, 32) — on a real cluster this
    would be ~2-3x total executor cores; AQE coalesces the excess.
    Driver heap: $SPARK_DRIVER_MEM, else min(8g, host memory / 4).
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 32)

    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM") or _default_driver_mem())
        # per-task output commit (v2): avoids the driver-side sequential
        # rename storm at job commit — with many writer tasks the v1
        # committer serializes on metadata ops (measured 3x write slowdown
        # at local[32] vs local[8])
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
        # shuffled-hash over sort-merge when the per-partition build side
        # fits (the optimization guide's §9 baseline): skips the sort on
        # BOTH join inputs. Size-gated by the planner (build side must
        # hash within autoBroadcastJoinThreshold x shuffle partitions),
        # so petabyte joins still sort-merge — not a local-only tune.
        # Measured sf1.0: q_triangles_coparts 16.6->6.2s, q3 4.6->1.9s,
        # q5 5.4->1.6s, q_window_top_orders 2.8->1.3s.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        # let AQE rewrite a planned sort-merge to shuffled-hash when the
        # RUNTIME per-partition size allows (off by default; 64m matches
        # the advisory partition size above)
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m")
        # 48m broadcast threshold: the 10m default predates
        # dozens-of-GB executors; estimates for genuinely large tables
        # exceed any threshold, so this only upgrades mid-size dimension
        # joins (sf1.0: orders->q3/q5, graph node/edge tables) to
        # broadcast. Measured q_pagerank_entities 5.5->4.3s,
        # q_cc_components 2.5->1.5s on top of the SHJ settings.
        .config(
            "spark.sql.autoBroadcastJoinThreshold",
            os.environ.get("SPARK_GRAFT_BROADCAST_THRESHOLD", "48m"),
        )
        # 16m parquet row groups: scan splits can't cut inside a row
        # group, so big row groups silently cap downstream parallelism
        # (measured: UDF stages ran 4-6 of 16 workers with 128m groups)
        .config("spark.hadoop.parquet.block.size", str(16 * 1024 * 1024))
        # zstd parquet: ~1.7x fewer stored bytes than snappy on the text
        # corpus, and the byte volume through the (shared) storage path is
        # what caps scaling on this box — measured n=2M/8-core KG build
        # 183s (snappy) -> 112s (zstd): files stage 54->17s, triples_raw
        # 35->10.5s. Decode cost rises slightly but is per-core and
        # scales; shuffle stays lz4 (zstd shuffle measured neutral: 117s)
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Djava.net.preferIPv4Stack=true")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
