"""SparkSession factory with scale-aware defaults.

Local testing runs on local[N]; the same settings translate to a real
cluster: AQE for runtime re-planning (skew joins, partition coalescing),
UTC session timezone (required for DuckDB-oracle comparison), Arrow for
any pandas-UDF path, and an auto-broadcast threshold sized so dimension
tables (region/nation/customer/supplier/part at reasonable SF) broadcast
instead of shuffling.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def driver_memory(phys_bytes: int | None = None) -> str:
    """``spark.driver.memory``: $SPARK_GRAFT_DRIVER_MEM when set, else
    24g capped at half of physical memory (``phys_bytes``, read with
    os.sysconf when None).

    NOT the whole machine: paired 8-batch CDC profiles at sf0.1 showed
    a 90g heap spiking individual batches 3-5x (7.3-34.6s, G1 pause
    outliers) while 24g stays flat at 5.4-6.9s — a heap sized to the
    working set beats a heap sized to the host, and the balance stays
    available to the OS page cache the parquet scans live off. The cap
    matters on small hosts: a 24g default on a 15 GB host let one
    driver grow until the kernel's OOM killer ended it. On a real
    cluster this is executor memory sizing, same rule."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    if phys_bytes is None:
        phys_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(24 * 1024, phys_bytes // 2**21)}m"


def get_spark(
    app_name: str = "pgsync_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or get) the engine's SparkSession — see module
    docstring for the scale-aware defaults.

    Note for EMBEDDING applications: this factory silences
    WindowExec's "No Partition Defined" warning SESSION-WIDE (the
    engine's own unpartitioned windows are all bounded and audited —
    see below), so application code sharing this session loses that
    warning for its OWN windows too. Run your window-heavy code under
    a plain SparkSession.builder session if you rely on it, or
    re-raise the logger level after calling this."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # driver testdata stores some timestamps as TIMESTAMP(NANOS) which
        # Spark's vectorized reader rejects; read as long, Catalog converts
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try:
        # WindowExec's "No Partition Defined" warning is noise here:
        # every global-ORDER window in the package ranks a frame
        # already bounded to <= k rows and must come through the
        # audited operators/windows.bounded_rank_window chokepoint
        # (statically test-enforced), so the real-scale-bug signal
        # this warning carries is guarded at review time instead —
        # a literal partition key would NOT silence it (the optimizer
        # strips foldable partition expressions; r11 verdict item 4)
        jvm = spark.sparkContext._jvm
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.sql.execution.window.WindowExec",
            jvm.org.apache.logging.log4j.Level.ERROR,
        )
    except Exception:
        # log tuning must never block a session (e.g. a future log4j
        # repackaging); the warning just becomes visible again
        pass
    return spark
