"""SparkSession construction with engine defaults."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


# Runtime confs the engine relies on, listed once: build_session passes them
# to the builder and tune_runtime sets them, once, on a session handed in
# from outside (200 shuffle partitions, no AQE tuning).  Every key is
# settable on a live session.
RUNTIME_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.shuffle.partitions": "32",
    # the sidepath cell join is skew-prone (dense urban cells)
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # UDF-heavy stages cost ~ms/row, not ~ns/byte: the 64 MB default
    # advisory size coalesces into few fat partitions whose Python
    # kernels become stragglers.  8 MB keeps post-shuffle parallelism
    # at small-batch row counts without exploding task counts.
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8m",
    # without it, a persisted relation whose plan has exchanges loses AQE
    # coalescing and AQE skew-join handling: every stage over it runs
    # spark.sql.shuffle.partitions tasks (knn_ways' probe, Python refine
    # included: 32 where AQE runs 1)
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def build_session(app_name: str = "cqi-engine", master: str | None = None,
                  shuffle_partitions: int | None = None) -> SparkSession:
    """local[...] session tuned for the engine.

    Scale posture: Arrow-batched UDF transfer, AQE with skew-join handling
    and partition-count defaults sized for the local harness (RUNTIME_CONF).
    On a real cluster the same builder is used via spark-submit with
    cluster-master settings.
    """
    master = master or os.environ.get("SPARK_GRAFT_MASTER",
                                      f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]")
    conf = dict(RUNTIME_CONF)
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config(map=conf)
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # zstd halves the flagship's shuffle volume vs the lz4 default
        # (58.4 -> 32.5 MB at R=40, alternating A/B, min-of-2 wall equal
        # at 12.4 s, executor CPU +5%) — on a real cluster shuffle bytes
        # cross the network, so the byte diet is the scale win.  Startup-
        # static conf: only effective on sessions this builder creates.
        .config("spark.io.compression.codec", "zstd")
        # UI off by default (test noise); the traced benchmark run enables
        # it to read per-stage metrics from /api/v1
        .config("spark.ui.enabled",
                os.environ.get("SPARK_GRAFT_UI", "false"))
        .config("spark.ui.port", "0")
    )
    spark = builder.getOrCreate()
    _TUNED_SESSIONS.add(spark.sparkContext.applicationId)
    return spark


# applicationIds of the sessions already shipped / already tuned: keyed by
# applicationId, not id(spark), because CPython recycles object addresses,
# so a stopped session's id can be reused by a fresh one whose new
# SparkContext still needs both
_SHIPPED_SESSIONS: set[str] = set()
_TUNED_SESSIONS: set[str] = set()


def ship_package(spark: SparkSession) -> None:
    """Make ``cqi_engine`` importable on executor Python workers.

    mapInPandas closures reference this package by module, so workers must
    be able to import it regardless of the driver process's CWD (the
    harness may import ``__spark_entry__`` from anywhere).  Zip the package
    and register it via ``addPyFile`` — idempotent per session.
    """
    key = spark.sparkContext.applicationId
    if key in _SHIPPED_SESSIONS:
        return
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zip_path = os.path.join(tempfile.gettempdir(),
                            f"cqi_engine_pyfiles_{os.getpid()}.zip")
    with zipfile.ZipFile(zip_path, "w") as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            for fname in sorted(files):
                if not fname.endswith(".py"):
                    continue
                full = os.path.join(root, fname)
                arc = os.path.join("cqi_engine",
                                   os.path.relpath(full, pkg_dir))
                zf.write(full, arc)
    spark.sparkContext.addPyFile(zip_path)
    _SHIPPED_SESSIONS.add(key)


def tune_runtime(spark: SparkSession) -> None:
    """Apply RUNTIME_CONF once to a session handed in from outside, so
    plans match on both session paths.  A session from build_session has
    it already, and a conf its owner sets afterwards (say, the shuffle
    partition count) is left alone by every later engine call."""
    key = spark.sparkContext.applicationId
    if key in _TUNED_SESSIONS:
        return
    for k, v in RUNTIME_CONF.items():
        spark.conf.set(k, v)
    _TUNED_SESSIONS.add(key)
