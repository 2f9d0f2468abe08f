"""SparkSession factory with the engine's default tuning.

Scale posture (BASELINE.json north_rule): AQE on (runtime re-plan, skew-join
splitting, partition coalescing), Arrow on (every kernel UDF is
Arrow-batched), shuffle partitions sized for the local harness but overridable
via env for cluster runs. The Spark UI stays off: run metrics (jobs, stages,
task/CPU time, shuffle, spill) are read in-process from the status store
(``perfbench/spans.py``).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def local_master() -> str:
    """``local[N]`` over the cores this process may use (``SPARK_GRAFT_CPUS``
    overrides the affinity count)."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    return f"local[{cpus}]"


def get_spark(app: str = "geospark", master: str | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    """``extra_conf``: additional spark conf pairs applied before the engine
    defaults (perfbench turns the console progress bar off this way)."""
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or local_master()
    shuffle = int(os.environ.get("GEOSPARK_SHUFFLE_PARTITIONS", "32"))
    b = SparkSession.builder
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return (
        b.master(master)
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # runtime SMJ -> shuffled-hash conversion: the geocode path's big
        # equi-joins (cand x street-dim on road, cand_hn x houses on
        # (street_id, hn)) carry trigram-array columns, so their sort-merge
        # Sorts were the dominant memory traffic at scale (profiled sf4.0:
        # twin Sorts spilling ~13.8 GiB each, ~32-36 GB spill/run — the
        # 4->16 executor scaling bottleneck after CPU inflation was fixed).
        # AQE converts a join only when every measured build-side partition
        # fits under this threshold, so at 10^12-row scale an oversized
        # build side safely stays sort-merge; per-task hash maps of 256 MB
        # fit 1-core/2 GB executors and any production
        # executor sized to Spark's 4-8 GB/core guidance.
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "256m")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # conservative default; larger runs raise it via env
        .config("spark.driver.memory", os.environ.get("GEOSPARK_DRIVER_MEM", "8g"))
        .config("spark.driver.extraJavaOptions", os.environ.get("GEOSPARK_JAVA_OPTS", ""))
        # UI off (driver overhead); per-stage metrics come from the
        # in-process status store instead
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
