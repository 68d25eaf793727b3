"""Multi-tenant session defaults: the TenantCatalog analog.

The reference pins a per-(tenant, dataset) DataFusion SessionContext
with default catalog/schema so unqualified table names resolve inside
the tenant (src/querier/src/flight.rs:1196-1240; storage-layout.md:
197-265). In Spark the equivalent is a thin view registry over the
path layout ``{base}/{tenant}/{dataset}/{table}`` — one SparkSession,
per-tenant name prefixes, no per-session cost.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .catalog import SIGNAL_TABLES, optional_table

MAX_SQL_ROWS = 1_000_000  # max_sql_rows cap (flight.rs:1263)

# Loki's max_entries_limit_per_query default: log queries clamp their
# entry limit server-side. Load-bearing beyond API parity — Spark
# lowers a global ORDER BY + LIMIT k to takeOrdered, whose per-task
# buffer is O(k) REGARDLESS of data size, so an embedder passing an
# unbounded limit would allocate gigabytes before reading a row.
MAX_LOG_ENTRIES = 5_000


class TenantSession:
    """Scoped query entry for one (tenant, dataset): registers the
    tenant's signal tables as session views named ``{tenant}_{dataset}_
    {table}`` plus unqualified aliases, and row-caps raw SQL."""

    def __init__(self, spark: SparkSession, base: str, tenant: str, dataset: str):
        self.spark = spark
        self.base = base
        self.tenant = tenant
        self.dataset = dataset
        self._tables: dict[str, DataFrame] = {}
        self.refresh()

    def refresh(self) -> None:
        """Re-discover the tenant's tables — required after maintenance
        that rewrites a table: the session's frames pin the file list of
        the snapshot they resolved, and once a compaction or retention
        commit replaces those files, ``expire_snapshots`` later deletes
        them."""
        self._tables = {}
        for t in SIGNAL_TABLES:
            df = optional_table(self.spark, self.base, self.tenant, self.dataset, t)
            if df is not None:
                self._tables[t] = df
                df.createOrReplaceTempView(f"{self.tenant}_{self.dataset}_{t}")

    def table(self, name: str) -> DataFrame | None:
        return self._tables.get(name)

    def sql(self, query: str, max_rows: int = MAX_SQL_ROWS) -> DataFrame:
        """Raw SQL with the reference's row cap appended to every query
        (execute_query, flight.rs:1243-1263).

        Unqualified table names resolve to THIS tenant at call time —
        the views are (re)pinned per call, so sessions for different
        tenants can coexist without one construction silently repointing
        the other's unqualified names (the cross-tenant leak that a
        register-once design has)."""
        for t, df in self._tables.items():
            df.createOrReplaceTempView(t)
        return self.spark.sql(query).limit(max_rows)
