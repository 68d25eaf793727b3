"""SparkSession factory tuned for this engine.

Local-mode testing uses ``local[N]``; the same configs are cluster-safe
(AQE, shuffle partitions, Arrow). On a real cluster the only overrides
needed are master/memory; everything else is data-layout driven.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import SparkSession

# Parquet bloom filters for point-lookup columns, mirroring the reference's
# table properties (src/common/src/schema/mod.rs:69-105: trace_id/span_id
# fpp 0.01). In Spark these are writer options, set at write time by the
# sinks in signaldb_spark.sources; listed here as the canonical set.
BLOOM_FILTER_COLUMNS = ("trace_id", "span_id", "attr_tokens")


# --- py4j round-trip elision for expression construction ---------------
#
# Every `F.<fn>(...)` in classic PySpark resolves the JVM static method
# from scratch: a JVMView reflection lookup for
# `org.apache.spark.sql.functions` plus a member lookup — two extra
# gateway round trips (measured ~2-6ms each on this box) before the one
# call that actually builds the expression. A query built from a few
# hundred `F.` calls pays a visible fraction of its wall time in these
# lookups alone (measured ~40-55% of per-query time at sf0.1 is
# DataFrame *construction*). The JVM functions object is a stateless
# class of static methods, so the resolved handle is safe to memoize for
# the lifetime of its gateway. The memo is keyed weakly on the JVMView:
# a restarted SparkContext gets a fresh view object and therefore a
# fresh (empty) cache — no stale-gateway handles can be served.
_JVM_FN_MEMO: "weakref.WeakKeyDictionary[object, dict]" = (
    weakref.WeakKeyDictionary()
)
_memoized_get_jvm_function = None


def _install_jvm_function_memo() -> None:
    global _memoized_get_jvm_function
    try:
        import pyspark.sql.functions.builtin as _fb
    except ImportError:  # pragma: no cover - future layout change
        return
    if _memoized_get_jvm_function is not None:
        return
    original = _fb._get_jvm_function

    def memoized(name, sc):
        jvm = sc._jvm
        try:
            per_view = _JVM_FN_MEMO.setdefault(jvm, {})
        except TypeError:  # non-weakrefable stand-in (mocks)
            return original(name, sc)
        fn = per_view.get(name)
        if fn is None:
            fn = per_view[name] = original(name, sc)
        return fn

    _fb._get_jvm_function = memoized
    _memoized_get_jvm_function = memoized


def graft_cpus() -> int:
    """The local core count ``SPARK_GRAFT_CPUS`` resolves to (32 unset)."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(app_name: str = "signaldb-spark", shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or get) the session.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (driver contract);
    shuffle partitions default to the same so local runs don't schedule
    hundreds of empty tasks, while a cluster deployment would raise it to
    ~2-3x total cores.
    """
    cpus = graft_cpus()
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    # Python workers deserialize our pandas UDFs by module reference —
    # make the package importable on workers regardless of driver cwd.
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if repo_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{repo_root}{os.pathsep}{existing}" if existing else repo_root
        )
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # Keep stdout clean: the bench driver parses the final JSON line
        # from a bounded tail capture; progress bars would displace it.
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        # DataFrame debugging wraps EVERY Python DataFrame/Column API call
        # with call-site capture for enriched error messages: a
        # getActiveSession py4j round trip, a conf read, a Python stack
        # walk, and a PySparkCurrentOrigin.set/clear pair — ~4 extra
        # gateway round trips per call (pyspark/errors/utils.py
        # _with_origin). This engine constructs plans from thousands of
        # API calls per query, so the wrapper costs ~25-35% of plan-build
        # time (measured; guide §1.2 per-task work, driver-side). Errors
        # still carry the full Python traceback — only the JVM-side
        # origin annotation is lost. Driver-side cost, identical on a
        # real cluster.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # FAIR scheduling so per-tenant scheduler pools share the
        # cluster instead of FIFO head-of-line blocking — one tenant's
        # heavy query must not starve every other tenant (the
        # resource-fairness contract in execution.py; reference:
        # openspec/changes/querier-execution-model).
        .config("spark.scheduler.mode", "FAIR")
        # INT64 µs timestamps on write (NOT the INT96 legacy type):
        # INT96 carries no parquet min/max statistics, which would blind
        # both the manifest's file-level stats pruning and the scan's
        # row-group skipping on the primary time predicate.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # naive timestamp[us] parquet (DuckDB-written benchmark tables)
        # must load as session-local TimestampType, not TIMESTAMP_NTZ:
        # ANSI mode forbids NTZ→numeric casts and every epoch-bucket
        # computation assumes an instant type. UTC session makes the two
        # readings identical on the wire.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/signaldb_spark_warehouse"),
        )
        # autoBroadcastJoinThreshold default 10MB is right for the dim
        # tables (region/nation/customer); AQE converts to broadcast at
        # runtime when estimates are off.
    )
    spark = builder.getOrCreate()
    _install_jvm_function_memo()
    spark.sparkContext.setLogLevel("WARN")
    return spark
