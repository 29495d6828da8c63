"""Spark session factory.

Capability parity: ``common/evidence.py:83-100`` in the reference initializes a
``local[*]`` session with 90% of RAM and unbounded ``maxResultSize``.  This
factory keeps sane, cluster-safe defaults instead: AQE on (runtime re-plan +
skew-join splitting), bounded result size, Arrow enabled for the pandas
boundary, and an explicit shuffle-partition count sized for the local test
harness (on a real cluster AQE coalesces these).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "evidence-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults.

    Defaults are chosen for correctness at 100 TB, not just local tests:
      * AQE enabled → runtime shuffle coalescing, skew-join splitting.
      * ``autoBroadcastJoinThreshold`` left at default (10 MB) so dimension
        tables (region/nation/customer-sized LUTs) broadcast automatically.
      * Arrow on for every pandas/Pandas-UDF boundary.
      * ANSI off: the engine follows the reference's permissive cast semantics
        (invalid cast → null), which the parsers rely on (SURVEY §2.3 P5).
    """
    # Make this package importable in executor Python workers regardless of
    # the launch cwd: workers read PYTHONPATH from the JVM's env, captured at
    # JVM start — sys.path on the driver does not propagate.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if pkg_root not in os.environ.get("PYTHONPATH", ""):
        os.environ["PYTHONPATH"] = (
            pkg_root + os.pathsep + os.environ.get("PYTHONPATH", "")
        )
    cpus, driver_mem = _session_sizing()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.driver.memory", driver_mem)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or int(cpus)),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "100000")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.driver.maxResultSize", "4g")
        .config("spark.sql.session.timeZone", "UTC")
        # Test parquet stores TIMESTAMP(NANOS); Spark lacks a nanos timestamp
        # type, so read as long and convert at scan (plans/catalog.py:load).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # The SQL-string twin builders (functions/sqlstr.py) backslash-escape
    # string literals, which parses correctly only under the DEFAULT parser
    # mode; refuse a session where a deployment-level legacy override would
    # silently diverge the twins from their F.lit Column forms.  (Checked,
    # not set: setting the conf trips a Spark 4 deprecation warning.)
    _check_parser_mode(
        spark.conf.get("spark.sql.parser.escapedStringLiterals", "false")
    )
    return spark


def _check_parser_mode(escaped_string_literals: str) -> None:
    """Refuse the legacy ``escapedStringLiterals`` parser mode.  Spark
    reads boolean confs case-insensitively, so ``"TRUE"`` enables the
    mode as surely as ``"true"`` does."""
    if escaped_string_literals.strip().lower() == "true":
        raise RuntimeError(
            "spark.sql.parser.escapedStringLiterals=true is unsupported: "
            "the engine's SQL-string builders rely on default-mode "
            "backslash escaping"
        )


def _host_cpus() -> int:
    """Cores this process may run on (the affinity mask where the OS
    exposes one, else ``os.cpu_count()``)."""
    if hasattr(os, "sched_getaffinity"):
        return max(1, len(os.sched_getaffinity(0)))
    return max(1, os.cpu_count() or 1)


def _host_memory_bytes() -> int | None:
    """Physical RAM, capped by a cgroup v2 memory limit when one is set;
    None when the platform reports neither."""
    total = None
    try:
        total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, ValueError, OSError):
        pass
    try:
        with open("/sys/fs/cgroup/memory.max") as fh:
            limit = fh.read().strip()
        if limit.isdigit():
            total = min(total or int(limit), int(limit))
    except OSError:
        pass
    return total


def _default_driver_memory(total_bytes: int | None) -> str:
    """Driver heap for a local-mode session on a host with
    ``total_bytes`` of RAM: half of it, and never more than RAM less
    4 GiB.  The rest is left to the Python workers (Arrow batches,
    pandas kernels), the JVM's off-heap and metaspace, and the OS page
    cache the parquet scans ride on.  At least 1 GiB; 4 GiB when the RAM
    is unknown."""
    if not total_bytes:
        return "4g"
    total_mb = total_bytes // 2**20
    return f"{max(1024, min(total_mb // 2, total_mb - 4096))}m"


def _session_sizing(environ=None) -> tuple[str, str]:
    """``(cpus, driver_memory)`` for :func:`get_spark`: the
    ``SPARK_GRAFT_CPUS`` / ``SPARK_GRAFT_DRIVER_MEM`` overrides when set,
    else sized from this host.

    Local mode runs the driver, every executor thread and every
    broadcast in one JVM whose built-in default heap is 1 GiB — too
    small for the scaled runs (flaky BroadcastExchange failures at 10×
    sf0.1) — while a heap larger than the host's RAM gets the JVM
    OOM-killed once the heap grows.  Only effective when this process
    launches the JVM; on a cluster, memory comes from the submit conf."""
    env = os.environ if environ is None else environ
    cpus = env.get("SPARK_GRAFT_CPUS") or str(_host_cpus())
    mem = env.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_memory(
        _host_memory_bytes()
    )
    return cpus, mem
