"""SparkSession factory with the configuration this engine assumes.

Local mode is the test harness; the same config block is what we would
ship on a real cluster (AQE on, Arrow on, UTC, sane shuffle parallelism).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "lab_1806_vec_db_spark", cpus: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession.

    - ``spark.sql.shuffle.partitions`` is sized to cores, not the 200
      default: at local scale 200 over-parallelizes; on a cluster the
      deploy config overrides it (AQE coalescing corrects at runtime
      either way).
    - AQE enabled: runtime re-planning (skew-join splitting, partition
      coalescing) is the scale-up safety net for every shuffle we emit.
    - Arrow enabled: all pandas_udf / mapInPandas operators in this
      package move batches, never rows.
    - Session timezone pinned to UTC so timestamp semantics agree with
      the DuckDB correctness oracle.
    - ``spark.python.daemon.module`` is this package's ``worker_daemon``:
      pyspark's daemon, except that on CPython < 3.12 a task's
      ``importlib.invalidate_caches()`` no longer re-reads an unchanged
      ``pyspark.zip`` once per zip importer, which was about half of the
      fixed start cost of every Python task.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    # make this package importable on executor Python workers no matter
    # what cwd the driver runs from (cluster deploys ship the package as
    # a wheel/zip instead; for local[N] the parent dir on PYTHONPATH is
    # the equivalent)
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_parent not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_parent + (os.pathsep + existing if existing else "")
        )
    builder = SparkSession.builder
    # honor an externally-chosen master (spark-submit --master / cluster
    # deploy sets MASTER or SPARK_GRAFT_MASTER); default to local[N] only
    # when nothing else chose one
    master = os.environ.get("SPARK_GRAFT_MASTER") or os.environ.get("MASTER")
    if master:
        builder = builder.master(master)
    else:
        builder = builder.master(f"local[{cpus}]")
    builder = (
        builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # testdata's events.ts is parquet TIMESTAMP(NANOS), which the
        # Spark reader rejects natively; read as epoch-nanos long and
        # convert at the query layer (streaming/windows.py)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.python.daemon.module", "lab_1806_vec_db_spark.worker_daemon")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # Arrow collects of whole vector tables (index builds) exceed the
        # 1g default; single-box harness default is generous, cluster
        # deploys override (0 = unlimited)
        .config("spark.driver.maxResultSize",
                os.environ.get("SPARK_GRAFT_MAX_RESULT", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def read_table(spark: SparkSession, sf_dir: str, name: str):
    """Read one of the driver-provided parquet tables for scale factor dir.

    Defensively pins the two session confs every entry depends on —
    the harness may hand us a session built WITHOUT our defaults
    (the round-4 events_sessionize regression was exactly this class
    of drift): ``nanosAsLong`` so TIMESTAMP(NANOS) columns read
    instead of erroring, and UTC so formatted window/date strings are
    timezone-stable against the DuckDB oracle. Both are runtime-
    settable SQL confs; setting them per read is idempotent and free.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
