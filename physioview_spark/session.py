"""SparkSession factory tuned for the engine's workload.

Defaults target a large cluster; in local mode (tests/bench) the same knobs
apply with ``local[N]``. AQE is on so skewed subject partitions and small
shuffle sides get re-planned at runtime; Arrow is on because every signal
kernel crosses the Python boundary as Arrow batches.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULTS: dict[str, str] = {
    # Runtime re-planning: coalesce small shuffle partitions, split skewed
    # ones, and demote sort-merge to broadcast when a side turns out small.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for every pandas UDF / applyInPandas hop (10-100x vs pickling).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
    # Signal frames are tall and narrow; 128 MB input splits keep scan tasks
    # coarse enough to amortize Python worker startup.
    "spark.sql.files.maxPartitionBytes": "134217728",
    # Broadcast dimension/metric frames aggressively (they are tiny).
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    # Ensure timestamps round-trip through Arrow without tz surprises.
    "spark.sql.session.timeZone": "UTC",
}


def get_spark(
    app_name: str = "physioview-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` when unset so tests
    and bench share one entry point; on a real cluster pass ``None`` with
    ``spark.master`` preconfigured, or an explicit URL. Without
    ``SPARK_GRAFT_CPUS`` the local thread count and the default
    ``shuffle_partitions`` are the CPUs this process may run on, so a
    small machine is not oversubscribed.
    """
    builder = SparkSession.builder.appName(app_name)
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    if master is None and not os.environ.get("SPARK_MASTER"):
        master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)
    conf = dict(_DEFAULTS)
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def load_tables(spark: SparkSession, sf_dir: str, *names: str):
    """Read driver-generated parquet tables; returns dict name->DataFrame."""
    if not names:
        names = (
            "region", "nation", "customer", "supplier", "part", "orders",
            "lineitem", "events", "documents", "embeddings",
        )
    return {n: spark.read.parquet(f"{sf_dir}/{n}.parquet") for n in names}
