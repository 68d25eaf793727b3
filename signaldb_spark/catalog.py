"""Table resolution.

Two families:

- **Benchmark tables** (driver-provided TPC-H-ish star schema + ``events``
  stream + ``documents``/``embeddings``): one parquet file per table under
  an ``sf`` directory. ``load_tables`` returns them as a dict and
  registers temp views so the SQL surface works immediately.

- **Signal tables** (traces/logs/metrics_*/profiles): hour-partitioned
  parquet trees laid out ``{base}/{tenant}/{dataset}/{table}/``, mirroring
  the reference's Iceberg namespace bridging
  (docs/architecture/storage-layout.md:197-265). A missing table resolves
  to ``None`` — queries over it produce empty results, not errors
  (src/querier/src/query/table_lookup.rs:1-149).
"""

from __future__ import annotations

import os
import weakref

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

BENCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

SIGNAL_TABLES = (
    "traces",
    "logs",
    "metrics_gauge",
    "metrics_sum",
    "metrics_histogram",
    "metrics_exponential_histogram",
    "metrics_summary",
    "profiles",
)


def pin_time_confs(spark: SparkSession) -> None:
    """Pin the engine's time semantics on the session it is handed.

    The reference engine always constructs its own query context
    (src/querier/src/flight.rs:1196-1240), so its time semantics cannot
    depend on the embedder. Spark embedders hand us THEIR session, so
    the two correctness-bearing read confs are enforced here at every
    engine read entry point rather than trusting session.py's factory:

    - session timeZone=UTC: naive ``timestamp[us]`` parquet (DuckDB and
      most writers) reads as session-local instants; every epoch-bucket
      computation in the engine assumes UTC wall time, and a non-UTC
      embedder session would silently shift all time arithmetic.
    - inferTimestampNTZ=false: Spark 4 would otherwise infer NTZ, which
      ANSI mode refuses to cast to numeric for epoch math.

    Both are runtime SQL confs; setting them is idempotent. They stay
    set (the engine owns time semantics for the session once used, like
    the reference owning its DataFusion context)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")


# Lazy-plan memo for benchmark tables: building the SAME parquet relation
# (file listing + footer schema inference, ~100ms of driver time per
# spark.read.parquet) hundreds of times per session is pure planning
# overhead — the engine surface re-resolves every table on every query
# call. The memo holds the *unresolved lazy DataFrame* only: every action
# still scans the parquet files, so no data or results are cached. Keys
# are (sf_dir, table, on-disk signature); the signature (mtime/size of
# the file, or entry stats of a part-file directory) drops the entry the
# moment a writer replaces the table, and the whole map is keyed weakly
# on the session so a stopped session's plans are never reused.
_TABLE_MEMO: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)


def _table_sig(path: str) -> tuple:
    st = os.stat(path)
    if not os.path.isdir(path):
        return (st.st_mtime_ns, st.st_size)
    entries = []
    with os.scandir(path) as it:
        for e in it:
            s = e.stat()
            entries.append((e.name, s.st_mtime_ns, s.st_size))
    entries.sort()
    return (st.st_mtime_ns, tuple(entries))


# Same memo idea for SIGNAL relations (manifest snapshot reads, hot-batch
# unions, plain signal dirs): the façade re-resolves its table on every
# route, and a hive-partitioned signal table costs a full JVM directory
# listing + footer schema inference per spark.read (~100-400ms for the
# 720-dir logs fixture). Keys embed what makes the relation immutable —
# an explicit committed file list (manifest versions never mutate a
# file), a hot-sequence tuple (published batches are immutable), or a
# whole-tree stat signature for bare parquet dirs — so a writer
# replacing data can never be served a stale plan. Values are lazy
# DataFrames only; every action still scans parquet.
_RELATION_MEMO: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)


def relation_memo(spark: SparkSession, key: tuple, build) -> DataFrame:
    memo = _RELATION_MEMO.setdefault(spark, {})
    hit = memo.get(key)
    if hit is None:
        hit = memo[key] = build()
    return hit


def _tree_sig(path: str) -> tuple:
    entries = []
    for root, dirs, files in os.walk(path):
        dirs.sort()
        for f in files:
            try:
                st = os.stat(os.path.join(root, f))
            except FileNotFoundError:
                # removed by a concurrent writer since the walk listed
                # it: the signature changes without it, which already
                # retires any plan built over the old tree
                continue
            rel = os.path.relpath(os.path.join(root, f), path)
            entries.append((rel, st.st_mtime_ns, st.st_size))
    entries.sort()
    return tuple(entries)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one benchmark table, normalizing timestamp physical types.

    Some driver tables carry parquet ``timestamp[ns]`` columns, which
    Spark's vectorized reader rejects. We read them as long nanos
    (``nanosAsLong``, runtime-settable) and convert to TimestampType at
    microsecond precision — the same µs-at-rest / ns-in-flight coercion
    the reference performs (src/querier/src/query/logs.rs:282-289).

    Naive ``timestamp[us]`` columns (isAdjustedToUTC=false, as DuckDB
    writes) would be inferred as TIMESTAMP_NTZ by Spark 4, which ANSI
    mode refuses to cast to numeric types; reading them as session-local
    TimestampType (UTC sessions everywhere here) keeps epoch arithmetic
    and parquet filter pushdown intact.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    memo = _TABLE_MEMO.setdefault(spark, {})
    sig = _table_sig(path)
    hit = memo.get((sf_dir, name))
    if hit is not None and hit[0] == sig:
        # time confs are re-pinned even on a hit: the engine owns time
        # semantics at every read entry point (see pin_time_confs)
        pin_time_confs(spark)
        return hit[1]
    # schema sniff must hit a parquet FILE: tables written by Spark (our
    # sinks, tools/scale_probe.py) are directories of part files
    sniff = path
    if os.path.isdir(path):
        parts = sorted(
            p for p in os.listdir(path) if p.endswith(".parquet")
        )
        if parts:
            sniff = os.path.join(path, parts[0])
    ns_cols = [
        f.name for f in pq.read_schema(sniff) if str(f.type) == "timestamp[ns]"
    ]
    if ns_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    pin_time_confs(spark)
    df = spark.read.parquet(path)
    for c in ns_cols:
        # integer div, not float: double division rounds at the 1e15-µs
        # scale and drifts ±1µs against exact truncation
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    memo[(sf_dir, name)] = (sig, df)
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = BENCH_TABLES, register: bool = False
) -> dict[str, DataFrame]:
    out = {}
    for name in names:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if not os.path.exists(path):
            continue
        out[name] = load_table(spark, sf_dir, name)
        if register:
            out[name].createOrReplaceTempView(name)
    return out


def signal_table_path(base: str, tenant: str, dataset: str, table: str) -> str:
    return os.path.join(base, tenant, dataset, table)


def optional_table(
    spark: SparkSession, base: str, tenant: str, dataset: str, table: str
) -> DataFrame | None:
    """Resolve a signal table; None if absent (queries return empty).

    Mirrors ``optional_table`` in the reference
    (src/querier/src/query/table_lookup.rs) — a tenant/dataset that has
    never received a given signal type simply has no table directory.
    """
    pin_time_confs(spark)
    path = signal_table_path(base, tenant, dataset, table)
    # Manifest-committed tables (the default sink) resolve through their
    # current snapshot UNIONED with the hot (acked-but-unflushed) store —
    # data is queryable at ack, commit cadence is a storage knob only
    # (reference: openspec/changes/unflushed-data-visibility; the
    # hot-before-cold ordering lives in storage/hot.py). Readers see
    # exactly the committed file set plus published hot batches above
    # the committed watermark, never a half-finished writer's files.
    from .storage.hot import HOT_DIR, hybrid_read
    from .storage.manifest import MANIFEST_DIR

    if os.path.isdir(os.path.join(path, MANIFEST_DIR)) or os.path.isdir(
        os.path.join(path, HOT_DIR)
    ):
        df = hybrid_read(spark, path)
        if df is None:
            # A PROVISIONED table with no committed files yet (the
            # /tenants/{id}/tables/create path) must answer queries with
            # an EMPTY result in the declared schema, not "no table" —
            # the reference materializes real empty tables
            # (src/router/src/endpoints/tenant.rs:109-146).
            from .schemas.signal_schemas import SCHEMAS

            if table in SCHEMAS:
                return spark.createDataFrame([], SCHEMAS[table])
        return df
    if not _parquet_dir_exists(path):
        return None
    return relation_memo(
        spark,
        ("signal_dir", path, _tree_sig(path)),
        lambda: spark.read.parquet(path),
    )


def _parquet_dir_exists(path: str) -> bool:
    if not os.path.isdir(path):
        return False
    for _root, _dirs, files in os.walk(path):
        if any(f.endswith(".parquet") for f in files):
            return True
    return False
