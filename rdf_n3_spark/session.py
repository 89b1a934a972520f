"""SparkSession factory with scale-oriented defaults.

Defaults chosen for the sandbox (single JVM, ``local[N]``) but written
the way a 1000-executor cluster job would be configured: AQE on
(runtime re-plan + skew-join splitting), shuffle partitions sized to
parallelism, Arrow enabled for every pandas-UDF boundary, UTC pinned so
timestamp semantics are stable across engines.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_mem() -> str:
    """Half of physical RAM, capped at 24g: a local-mode driver heap
    larger than the host lets the kernel kill the JVM mid-run."""
    ram = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{min(ram // 2, 24 << 30) >> 20}m"


def get_spark(
    app: str = "rdf_n3_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    cores=None → ``local[*]``. shuffle_partitions defaults to 2× cores
    (never the stock 200: over-parallelized for local, and at cluster
    scale you'd size it to executors × cores × 2 anyway).
    """
    n = cores or os.cpu_count() or 8
    master = f"local[{cores}]" if cores else "local[*]"
    sp = shuffle_partitions or max(8, 2 * n)
    b = (
        SparkSession.builder.master(master)
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEM", _default_driver_mem()))
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


TABLES = (
    "lineitem events documents embeddings"
).split()
