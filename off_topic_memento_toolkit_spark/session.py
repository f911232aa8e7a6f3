"""SparkSession builder with scale-oriented defaults.

Test/bench runs use ``local[N]``; the configuration is written for a real
multi-executor cluster (AQE + skew-join splitting + Arrow batching).  Nothing
here assumes single-node execution.
"""

import os
import re
from contextlib import contextmanager

from pyspark.sql import SparkSession


def release_persisted(pins: list) -> int:
    """Drain a list of persisted DataFrames, unpersisting each (non-blocking)
    and swallowing failures from an already-stopped session; returns the
    number released."""
    released = 0
    while pins:
        try:
            pins.pop().unpersist(False)
            released += 1
        except Exception:  # noqa: BLE001 — session already stopped
            pass
    return released


# The one registry of frames the package caches.  Operators pin where a
# plan fans out into several branches: the enriched frame in
# score_timemap_measures, the token projection in
# score_collection_measures, the storeless dedup and incremental stages,
# and with_global_position's range layout.  Without the pin the UDF lineage
# (or the range sample) would re-run once per branch; without the registry
# a long-lived session would accumulate the cached frames with no release
# handle.  Release is owner-scoped: session_pins_scope frees what its block
# pinned, release_pins frees a given set, release_session_pins drains all.
_SESSION_PINS: list = []


def pin_for_session(df):
    """Persist ``df`` and register it for :func:`release_session_pins`.
    A plan some other caller already cached is left to that caller: its
    cache serves ``df`` as it is, and releasing our pins must not drop
    it."""
    if df.storageLevel.useMemory or df.storageLevel.useDisk:
        return df
    _SESSION_PINS.append(df.persist())
    return _SESSION_PINS[-1]


def release_pins(pins) -> int:
    """Unpersist those of ``pins`` that are still registered (frames
    :func:`pin_for_session` returned), leaving every other pin and any
    caller's own cache alone; returns the number released."""
    ids = {id(df) for df in pins}
    owned = [df for df in _SESSION_PINS if id(df) in ids]
    _SESSION_PINS[:] = [df for df in _SESSION_PINS if id(df) not in ids]
    return release_persisted(owned)


@contextmanager
def session_pins_scope():
    """Owner-scoped release: every frame pinned by :func:`pin_for_session`
    inside the ``with`` block is unpersisted on exit, and pins made before
    the block (other callers') are left alone, so nested scopes release
    only their own pins.  Consume the pinned frames inside the block."""
    # hold the earlier pins, not just their ids: a frame released inside
    # the block could otherwise free its id for a new pin
    before = {id(df): df for df in _SESSION_PINS}
    try:
        yield
    finally:
        release_pins([df for df in _SESSION_PINS if id(df) not in before])


def release_session_pins() -> int:
    """Unpersist every operator-pinned frame; call between batches in a
    long-lived session (or use ``spark.catalog.clearCache()``).  Safe once
    the frames built so far have been consumed."""
    return release_persisted(_SESSION_PINS)


# Generated classes a session keeps compiled.  Spark's default cap (100, a
# static conf) is below one detect + story operation's 127 classes, so each
# warm operation recompiled ~119 of them with Janino and the JIT compiled
# them again.  scripts/codegen_census.py counts 734 distinct classes over
# every CLI command in one session.  Guava splits the cap over 4 LRU
# segments; at 1000 the fullest segment's share of the census (~220) stays
# under its 250.
CODEGEN_CACHE_ENTRIES = 1000

# The worker daemon for masters get_spark picks itself: it imports pyspark
# from site-packages instead of Spark's zips (see worker_daemon.py).  Other
# masters keep Spark's daemon, since their workers' PYTHONPATH may not hold
# this package.
WORKER_DAEMON = "off_topic_memento_toolkit_spark.worker_daemon"
_LOCAL_MASTER = re.compile(r"local(\[[^\]]*\])?")


def session_conf(
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> tuple[str | None, dict]:
    """The master :func:`get_spark` sets (None: left to ``SPARK_MASTER`` or
    spark-submit) and its conf, the caller's ``extra_conf`` winning."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if not master and not os.environ.get("SPARK_MASTER"):
        master = f"local[{cpus}]"
    conf = {
        # AQE: runtime coalescing, skew-join splitting, dynamic join strategy
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # InferFiltersFromGenerate synthesizes size(arr)>0 filters above
        # every Generate; when the array is a Python-UDF column the filter
        # is then pushed below the enrichment exchange and re-evaluates the
        # whole UDF chain on the narrow pre-shuffle side (guide §4.4
        # duplication — measured: a full single-threaded extract+tokenize+
        # minhash pass per band-table build).  Every explode in this engine
        # runs over derived/UDF arrays where the inferred filter can never
        # reach a file scan, so the rule only costs here.
        "spark.sql.optimizer.excludedRules":
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        # Arrow transfer for every pandas UDF / applyInPandas kernel
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "4096",
        "spark.sql.shuffle.partitions":
            str(shuffle_partitions or max(int(cpus) * 2, 8)),
        # keep partition sizes bounded when scanning wide binary (html) columns
        "spark.sql.files.maxPartitionBytes": "134217728",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.codegen.cache.maxEntries": str(CODEGEN_CACHE_ENTRIES),
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEM", "8g"),
        "spark.ui.enabled": "false",
    }
    if master and _LOCAL_MASTER.fullmatch(master):
        conf["spark.python.daemon.module"] = WORKER_DAEMON
    # shuffle/spill scratch on tmpfs when available: the sandbox's virtio
    # disk has bursty throughput that shows up as bimodal shuffle times;
    # a real cluster provisions local NVMe for exactly this reason
    shm = os.environ.get("SPARK_LOCAL_DIRS_OVERRIDE", "/dev/shm/spark-local")
    try:
        os.makedirs(shm, exist_ok=True)
        conf["spark.local.dir"] = shm
    except OSError:
        pass
    # Python workers unpickle the package's UDFs by module path, but only
    # the driver has the package on sys.path when it was put there at run
    # time (a script outside the checkout): ship the package's parent
    # directory to the workers, ahead of any PYTHONPATH they inherit
    package_parent = os.path.dirname(
        os.path.dirname(os.path.abspath(__file__)))
    conf["spark.executorEnv.PYTHONPATH"] = os.pathsep.join(
        p for p in (package_parent, os.environ.get("PYTHONPATH")) if p)
    # pre-session settings (executor memory/env for local-cluster or a real
    # cluster manager) must land before getOrCreate; the caller's values win
    conf.update(extra_conf or {})
    return master, conf


def get_spark(
    app_name: str = "otmt-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    master, conf = session_conf(master, shuffle_partitions, extra_conf)
    builder = SparkSession.builder.appName(app_name)
    for key, value in conf.items():
        builder = builder.config(key, value)
    if master:
        builder = builder.master(master)
    return builder.getOrCreate()
