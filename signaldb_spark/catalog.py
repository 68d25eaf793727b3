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


# Lazy-plan memos: building the SAME parquet relation (file listing +
# footer schema inference, ~100-400ms of driver time per spark.read) on
# every query call or façade route is pure planning overhead. A memo
# holds the *unresolved lazy DataFrame* only: every action still scans
# parquet, so no data or results are cached. Entries are keyed by
# relation IDENTITY and carry the on-disk signature that built them:
#
# - benchmark tables (``_TABLE_MEMO``): ``(sf_dir, table)``, signed by
#   the file or part-file tree stat;
# - signal relations (``_RELATION_MEMO``): ``("manifest", data_dir)``
#   signed by the committed file list and recorded schema (a manifest
#   version never mutates a file), ``("hot", table_path)`` signed by the
#   published sequence tuple (a published batch is immutable), and
#   ``("dir", path)`` signed by the tree stat of a bare parquet dir.
#
# A changed signature REPLACES the entry, so a writer replacing data can
# never be served a stale plan and a superseded plan is never leaked:
# each memo holds at most one entry per identity. Both maps are keyed
# weakly on the session, so a stopped session's plans are never reused.
_TABLE_MEMO: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)
_RELATION_MEMO: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)


def relation_memo(
    spark: SparkSession, ident: tuple, sig, build, store=_RELATION_MEMO
) -> DataFrame:
    """The memoized relation for ``ident`` if it was built at ``sig``,
    else ``build()``, which then replaces the entry."""
    memo = store.setdefault(spark, {})
    hit = memo.get(ident)
    if hit is None or hit[0] != sig:
        hit = memo[ident] = (sig, build())
    return hit[1]


def _tree_sig(path: str) -> tuple:
    """``(relative name, mtime_ns, size)`` of every file under ``path``,
    sorted; a plain file signs as its own one entry and a missing path
    as ``()``."""
    if os.path.isfile(path):
        top = os.path.dirname(path)
        listing = [(top, [os.path.basename(path)])]
    else:
        top = path
        listing = [(root, files) for root, _dirs, files in os.walk(path)]
    entries = []
    for root, files in listing:
        for f in files:
            full = os.path.join(root, f)
            try:
                st = os.stat(full)
            except FileNotFoundError:
                # removed by a concurrent writer since the walk listed
                # it: the signature changes without it, which already
                # retires any plan built over the old tree
                continue
            entries.append((os.path.relpath(full, top), st.st_mtime_ns, st.st_size))
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
    # time confs are pinned even on a memo hit: the engine owns time
    # semantics at every read entry point (see pin_time_confs)
    pin_time_confs(spark)

    def build() -> DataFrame:
        # schema sniff must hit a parquet FILE: tables written by Spark
        # (our sinks, tools/scale_probe.py) are directories of part files
        sniff = path
        if os.path.isdir(path):
            parts = sorted(
                p for p in os.listdir(path) if p.endswith(".parquet")
            )
            if parts:
                sniff = os.path.join(path, parts[0])
        ns_cols = [
            f.name for f in pq.read_schema(sniff)
            if str(f.type) == "timestamp[ns]"
        ]
        if ns_cols:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        for c in ns_cols:
            # integer div, not float: double division rounds at the
            # 1e15-µs scale and drifts ±1µs against exact truncation
            df = df.withColumn(
                c, F.timestamp_micros(F.expr(f"`{c}` div 1000"))
            )
        return df

    return relation_memo(
        spark, (sf_dir, name), _tree_sig(path), build, store=_TABLE_MEMO
    )


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
    # Every query resolves here (TenantSession.table) and reads the
    # snapshot current at that call; the memo reuses its DataFrame.
    from .storage.hot import HOT_DIR, hybrid_read
    from .storage.manifest import bare_parquet_table, manifest_table

    if manifest_table(path) is not None or os.path.isdir(
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
    if not bare_parquet_table(path):
        return None
    return relation_memo(
        spark, ("dir", path), _tree_sig(path), lambda: spark.read.parquet(path)
    )
