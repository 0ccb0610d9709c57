"""SparkSession factory.

Reference parity: ``get_spark_session`` ≙ `Dcache_kafka_to_hive.py:41-53`
(appName + Hive support + log level). Differences, deliberate:

- Log level via the public ``sparkContext.setLogLevel`` instead of py4j
  log4j surgery (`Dcache_kafka_to_hive.py:46-50`).
- AQE + UTC session timezone + Arrow on by default — the 100 TB posture
  (runtime re-planning, skew-join handling) and oracle comparability
  (DuckDB timestamps are UTC-naive).
- Hive support optional: local test/bench runs use the in-memory catalog;
  a real deployment passes ``hive=True``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _export_package_pythonpath() -> None:
    """Put this package's parent directory on ``PYTHONPATH`` so Python
    WORKERS resolve the package no matter the driver's cwd (r14: a
    sweep launched from outside the repo failed every Python-worker op
    with ModuleNotFoundError — the driver found the package via
    sys.path, but forked workers inherit only PYTHONPATH, and 'import
    from cwd' had been doing the real work). Must run BEFORE the JVM
    launches (local-mode workers take the JVM's env); a cluster
    deployment ships the wheel instead. Idempotent; prepends so a
    stale same-named package elsewhere on the path cannot shadow this
    one."""
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    parts = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    if pkg_parent not in parts:
        os.environ["PYTHONPATH"] = os.pathsep.join([pkg_parent] + parts)


def get_spark_session(
    app_name: str = "dcache_billing_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    hive: bool = False,
    loglevel: str = "WARN",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build a session tuned for the current mode.

    In local mode shuffle partitions default to the core count (the Spark
    default of 200 over-parallelizes small local runs); on a cluster the
    deployment sets an explicit value sized to the data (target ~128 MB
    per shuffle partition at 100 TB, i.e. O(100k) partitions + AQE
    coalescing, not this local default).
    """
    active = SparkSession.getActiveSession()
    if active is not None:
        # Embedded call — a CLI entry point (run_export/run_compact/…)
        # invoked inside a host application or test session. getOrCreate
        # would silently RE-APPLY this factory's defaults onto the live
        # session (runtime confs like spark.sql.shuffle.partitions are
        # settable post-creation), mutating a session this call did not
        # create: measured, a CLI invoked inside a 4-partition session
        # flipped shuffle partitions to 32, after which the planner
        # stopped using 4-bucket bucketed scans (bucket count ≪ expected
        # parallelism) and the dedup stores' exchange-free screen plans
        # regressed. Only EXPLICIT overrides touch the host session.
        if shuffle_partitions is not None:
            active.conf.set(
                "spark.sql.shuffle.partitions", str(shuffle_partitions)
            )
        for k, v in (extra_conf or {}).items():
            active.conf.set(k, v)
        active.sparkContext.setLogLevel(loglevel)
        return active

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if master.startswith("local") else 200

    _export_package_pythonpath()

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # hinted broadcasts whose build side is a computed subtree (the
        # PQ rerank shortlist — operators/similarity.py) are bounded by
        # this timeout in non-AQE sessions; the 300 s default turns a
        # slow build into an ERROR at scale, so raise it (r12 advice)
        .config("spark.sql.broadcastTimeout", "3600")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "48g"))
    )
    if hive:
        builder = builder.enableHiveSupport()
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel(loglevel)
    return spark
