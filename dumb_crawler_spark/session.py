"""SparkSession factory tuned for the sandbox (local[N]) and documented for
the 1000-executor design point.

Scale notes (100 TB / 10^10-URL frontier):
- AQE on: runtime shuffle-partition coalescing + skew-join splitting.
- shuffle.partitions tracks parallelism locally; on a real cluster this is
  2-3× total cores and the frontier's explicit `part` bucketing (frontier.py)
  keeps the hot-path window/merge shuffles partition-aligned regardless.
- Arrow enabled: every pandas UDF crosses the JVM↔Python boundary in Arrow
  batches (BASELINE.json input_hint: vectorized, no per-row Python).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_driver_mem() -> str:
    """Half the host's RAM (from /proc/meminfo), in MB: in local mode the
    driver heap runs every task too. 4g where /proc/meminfo is missing."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError):
        return "4g"
    return f"{max(kb // 2048, 1024)}m"


def get_spark(
    app: str = "dumb_crawler_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """A ``local[cores]`` session (``SPARK_GRAFT_CPUS``, else every CPU).

    ``SPARK_GRAFT_EXTRA_CONF`` (a JSON dict of Spark confs) and then
    ``extra_conf`` are applied after the master, so they override it too:
    ``{"spark.master": "local-cluster[2,1,5120]", "spark.executor.memory":
    "4g"}`` runs separate executor JVMs."""
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", 0)) or os.cpu_count() or 1
    shuffle_partitions = shuffle_partitions or cores
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM") or default_driver_mem())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Smaller file splits: the crawl's scan stages run compute-heavy
        # per-row kernels (URL canonicalize/tag/hash over exploded links),
        # so a 128 MB default split yields ~10 tasks for a round's fetch
        # artifact — 2 ragged waves on 8+ cores (measured on a 32-core
        # host: 6 idle cores for a full wave). 32 MB keeps scan stages at
        # ≥2-3 tasks/core; AQE coalescing re-merges where they're too small.
        .config("spark.sql.files.maxPartitionBytes", str(32 * 1024 * 1024))
        # HotSpot refuses to JIT methods over 8 KB of bytecode
        # (-XX:DontCompileHugeMethods): a whole-stage-codegen method past
        # that limit runs INTERPRETED — measured 10-15x slowdowns on wide
        # frontier plans. Capping hugeMethodLimit makes Spark fall back to
        # non-codegen execution for exactly those stages, which is merely
        # ~2x slower and, critically, predictable.
        .config("spark.sql.codegen.hugeMethodLimit", "8000")
        # executor caches (a stream micro-batch, the similarity and
        # multimodal ops' inputs) are read back several times: RLE re-decode
        # on every pass once showed up as a top CPU frame — trade memory for
        # decode-free columnar reads
        .config("spark.sql.inMemoryColumnarStorage.compressed", "false")
    )
    java_opts = os.environ.get("SPARK_GRAFT_DRIVER_JAVA_OPTS")
    if java_opts:
        # e.g. "-XX:-DontCompileHugeMethods -XX:ReservedCodeCacheSize=512m"
        # (in local[N] the driver JVM IS the executor, so these govern task
        # execution too)
        b = b.config("spark.driver.extraJavaOptions", java_opts)
    ev_dir = os.environ.get("SPARK_GRAFT_EVENTLOG")
    if ev_dir:  # per-stage metrics (perfbench's traced runs read them)
        os.makedirs(ev_dir, exist_ok=True)
        b = b.config("spark.eventLog.enabled", "true").config("spark.eventLog.dir", ev_dir)
    env_conf = os.environ.get("SPARK_GRAFT_EXTRA_CONF")
    if env_conf:
        # JSON dict of arbitrary spark confs — lets a subprocess-driven run
        # (perfbench) set confs without code edits
        import json

        for k, v in json.loads(env_conf).items():
            b = b.config(k, str(v))
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
