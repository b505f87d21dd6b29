"""SparkSession construction for the bench, the tests and the tools.

The one setting read from the environment is the driver heap
(SPARK_GRAFT_DRIVER_MEM, default 64g: in local mode the driver is the only
JVM).  Shuffle partitions derive from core count and input size rather than
a constant tuned for one deployment; AQE (on by default) coalesces the rest
at runtime.  Every other setting left out is Spark's default.
"""

from __future__ import annotations

import glob
import os


def input_bytes(sf_dir: str) -> int:
    return sum(os.path.getsize(p) for p in glob.glob(f"{sf_dir.rstrip('/')}/*.parquet"))


def shuffle_partitions(cpus: int, sf_dir: str | None) -> int:
    """Derive shuffle parallelism from cores and input scale.

    Local rule: at least the core count (keep every core busy), scaled up so
    post-shuffle partitions stay in the 100MB-1GB band on big inputs
    (guide section 2.2).  AQE coalescing trims the excess at runtime.
    """
    n = max(2, cpus)
    if sf_dir and os.path.isdir(sf_dir):
        target = 256 * 1024 * 1024  # advisory post-shuffle partition size
        n = max(n, min(4 * n, input_bytes(sf_dir) // target))
    return int(n)


def build_session(cpus: int, sf_dir: str | None = None, app_name: str = "engine"):
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "64g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions(cpus, sf_dir)))
        .config("spark.sql.join.preferSortMergeJoin", "false")
        # Let AQE rewrite a planned sort-merge join to a shuffled hash join
        # when every post-shuffle partition's build side fits locally (guide
        # 3.1: removes both sorts).  Spark's default 0 = off; 64m is the
        # default advisory partition size, and partitions are coalesced
        # toward that size, so a qualifying build side is ~one partition.
        # Inert at local SFs where these joins are broadcast anyway.
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    return spark
