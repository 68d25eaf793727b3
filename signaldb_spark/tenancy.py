"""Multi-tenant session defaults: the TenantCatalog analog.

The reference pins a per-(tenant, dataset) DataFusion SessionContext
with default catalog/schema so unqualified table names resolve inside
the tenant (src/querier/src/flight.rs:1196-1240; storage-layout.md:
197-265) and resolves tables per query (table_lookup.rs). Here a session
is the path layout ``{base}/{tenant}/{dataset}/{table}`` holding no
frames: each call resolves the current snapshot (``optional_table``),
and raw SQL sees the tenant's tables as views that live for one call.
"""

from __future__ import annotations

import re
import threading

from pyspark.sql import DataFrame, SparkSession

from .catalog import SIGNAL_TABLES, optional_table

MAX_SQL_ROWS = 1_000_000  # max_sql_rows cap (flight.rs:1263)

# Loki's max_entries_limit_per_query default: log queries clamp their
# entry limit server-side. Load-bearing beyond API parity — Spark
# lowers a global ORDER BY + LIMIT k to takeOrdered, whose per-task
# buffer is O(k) REGARDLESS of data size, so an embedder passing an
# unbounded limit would allocate gigabytes before reading a row.
MAX_LOG_ENTRIES = 5_000

# Temp views are session-wide and FairQueryRunner threads share one
# session: one sql() call registers, analyzes and drops at a time.
_VIEWS_LOCK = threading.Lock()


class TenantSession:
    """Scoped query entry for one (tenant, dataset): resolves the
    tenant's signal tables per call and row-caps raw SQL."""

    def __init__(self, spark: SparkSession, base: str, tenant: str, dataset: str):
        self.spark = spark
        self.base = base
        self.tenant = tenant
        self.dataset = dataset

    def refresh(self) -> None:
        """No-op kept for callers: every call already reads the current
        committed snapshot."""

    def table(self, name: str) -> DataFrame | None:
        return optional_table(self.spark, self.base, self.tenant, self.dataset, name)

    def sql(self, query: str, max_rows: int = MAX_SQL_ROWS) -> DataFrame:
        """Raw SQL with the reference's row cap appended to every query
        (execute_query, flight.rs:1243-1263).

        Each signal table the query names, bare or as ``{tenant}_
        {dataset}_{table}``, resolves for this call and is registered
        under that name; ``spark.sql`` analyzes eagerly, so the views
        are dropped before the frame returns and no other tenant's call
        can see them."""
        views: list[str] = []
        with _VIEWS_LOCK:
            try:
                for t in SIGNAL_TABLES:
                    names = [n for n in (t, f"{self.tenant}_{self.dataset}_{t}")
                             if re.search(rf"\b{re.escape(n)}\b", query, re.I)]
                    df = self.table(t) if names else None
                    if df is None:
                        continue
                    for n in names:
                        df.createOrReplaceTempView(n)
                        views.append(n)
                return self.spark.sql(query).limit(max_rows)
            finally:
                for n in views:
                    self.spark.catalog.dropTempView(n)
