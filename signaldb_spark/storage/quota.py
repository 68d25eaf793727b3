"""Per-tenant storage usage accounting + quota gate.

The reference tracks how many bytes of live data files each tenant holds
and enforces an optional ``max_storage_bytes`` quota on the ingest paths
(src/common/src/storage_usage.rs, issue #610). Semantics replicated here:

- Usage is computed from TABLE SNAPSHOTS (the manifest's current file
  list), so replaced/deleted files never double-count — compaction and
  retention shrink usage as soon as the next refresh runs.
- Enforcement is deliberately eventually consistent: a refresh
  (:func:`compute_usage`) recomputes usage OFF the hot path; ingest
  checks only compare the cached value against the quota. A tenant whose
  usage has never been computed always passes — accounting lag must not
  block ingest (storage_usage.rs:94-112).
- Per-table failures are logged and skipped: a partial (under-counted)
  refresh is more useful than none (storage_usage.rs:148-151).

At 100 TB the refresh reads MANIFESTS (file lists + stat calls), never
data — cost scales with file count, not byte count.
"""

from __future__ import annotations

import os

from .manifest import manifest_table


class StorageQuotaExceeded(Exception):
    """A tenant is at or over its storage quota (429 quota_exceeded)."""

    def __init__(self, tenant_id: str, usage_bytes: int, limit_bytes: int):
        self.tenant_id = tenant_id
        self.usage_bytes = usage_bytes
        self.limit_bytes = limit_bytes
        super().__init__(
            f"quota_exceeded: tenant '{tenant_id}' uses {usage_bytes} bytes "
            f"of storage, at or over its {limit_bytes} byte quota; delete "
            f"data, lower retention, or raise the tenant's max_storage_bytes"
        )


class StorageUsageTracker:
    """Cached per-tenant usage with quota checks for the ingest paths.

    Cheap to check on the hot path (one dict read); usage values are
    written by :meth:`refresh`/:meth:`replace_all`, never by ingest."""

    def __init__(self, default_max_storage_bytes: int | None = None,
                 overrides: dict[str, int | None] | None = None):
        self.default_limit = default_max_storage_bytes
        self.overrides = dict(overrides or {})
        self._usage: dict[str, int] = {}

    def quotas_configured(self) -> bool:
        return self.default_limit is not None or any(
            v is not None for v in self.overrides.values()
        )

    def limit_for(self, tenant_id: str) -> int | None:
        if tenant_id in self.overrides:
            return self.overrides[tenant_id]
        return self.default_limit

    def check_ingest(self, tenant_id: str) -> None:
        """Raise for a tenant whose KNOWN usage is at or over its quota.
        No quota, or usage not yet computed → pass (lag must not block)."""
        limit = self.limit_for(tenant_id)
        if limit is None:
            return
        usage = self._usage.get(tenant_id)
        if usage is None:
            return
        if usage >= limit:
            raise StorageQuotaExceeded(tenant_id, usage, limit)

    def replace_all(self, usage: dict[str, int]) -> None:
        """Swap in a fresh computation; tenants absent from it are
        dropped (their tables are gone)."""
        self._usage = dict(usage)

    def usage_bytes(self, tenant_id: str) -> int | None:
        return self._usage.get(tenant_id)

    def snapshot(self) -> dict[str, int]:
        return dict(self._usage)

    def refresh(self, base: str) -> dict[str, int]:
        usage = compute_usage(base)
        self.replace_all(usage)
        return usage


def _table_live_bytes(table_path: str) -> int:
    """Live bytes of one table: the CURRENT manifest snapshot's files
    (orphans from failed attempts excluded), or every parquet file for
    legacy directory layouts."""
    mt = manifest_table(table_path)
    if mt is not None:
        # recorded sizes; a file committed before size recording is
        # stat()ed, and one a racing compaction removed counts 0 until
        # the next refresh
        return sum(mt.file_sizes().values())
    total = 0
    for root, _dirs, files in os.walk(table_path):
        for f in files:
            if f.endswith(".parquet"):
                try:
                    total += os.path.getsize(os.path.join(root, f))
                except OSError:
                    continue
    return total


def compute_usage(base: str) -> dict[str, int]:
    """Per-tenant live bytes across every dataset/table under ``base``.

    A tenant with directories but no readable files still gets a 0
    entry, so stale cached usage is replaced by the fresh count
    (storage_usage.rs:168-171). Per-table failures are skipped."""
    usage: dict[str, int] = {}
    if not os.path.isdir(base):
        return usage
    for tenant in sorted(os.listdir(base)):
        troot = os.path.join(base, tenant)
        if tenant.startswith("_") or not os.path.isdir(troot):
            continue
        usage[tenant] = 0
        for dataset in sorted(os.listdir(troot)):
            droot = os.path.join(troot, dataset)
            if not os.path.isdir(droot):
                continue
            for table in sorted(os.listdir(droot)):
                path = os.path.join(droot, table)
                if not os.path.isdir(path):
                    continue
                try:
                    usage[tenant] += _table_live_bytes(path)
                except Exception:
                    continue  # partial refresh beats none
    return usage
