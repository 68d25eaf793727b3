"""Per-file bloom sidecars + hash-bucket layout: point-lookup file pruning.

The manifest already prunes files by per-column [min, max] stats
(manifest.py collect_file_stats), which works for time predicates but
never for point lookups on high-cardinality random identifiers — every
file's [min, max] over hex trace ids spans essentially the whole key
space, so a trace-by-id query plans every file in the time window.
Parquet-level row-group filtering (the dictionary filter, or the
trace_id bloom of storage/manifest.BLOOM_WRITE_OPTIONS, which
parquet-mr writes only for a chunk that is not dictionary-encoded) only
helps AFTER a file is opened: the scan still issues one footer read per
file, O(files) object-store round trips at 100 TB.

This module adds the two standard DRIVER-SIDE file-pruning layers for
`WHERE key = 'x'` (the reference's hottest lookup — trace by id,
trace.rs:111-170 — where its Iceberg layout leans on partition + stats
pruning only):

- **Bloom sidecars** (the Iceberg puffin-blob analog): at commit time
  the producer builds one small bloom per (file, column) — for the
  columns storage/manifest.POINT_LOOKUP_COLS declares for the table
  kind, recorded in the ``bloom.cols`` table property — from the
  column's distinct values and stores it as an immutable sidecar blob
  under ``table/_blooms/``; the manifest entry records (m, k, ndv,
  sidecar path). A point lookup probes candidates' sidecars and plans
  only the files that MIGHT contain the key — expected files touched =
  true hits + fpp x candidates, instead of all of them. Sidecars are
  bounded range-reads on an object store and never block correctness:
  a file with no recorded bloom is simply kept.
- **Hash-bucket partition layout** (the Iceberg ``bucket(N, col)``
  transform analog): writers optionally add a ``<col>_bucket`` hive
  partition column, so a point lookup statically keeps ~1/N of files
  with ZERO per-file metadata reads, composing with date/hour pruning.
  The bucket function is an md5-prefix mod — portable (driver-side
  Python and Spark compute it identically, no JVM-only hash), stable
  across processes, and documented in the manifest's table properties
  so readers never guess N.

Both layers are evidence-based pruning: files lacking evidence (no
bloom recorded, no bucket key in their partition struct — e.g. written
before the layout changed, or rewritten by a bucket-unaware compactor)
are always kept, so layout evolution can never lose rows.
"""

from __future__ import annotations

import contextlib
import hashlib
import math
import os

from pyspark.sql import Column
from pyspark.sql import functions as F

BLOOMS_DIR = "_blooms"

# ~9.585 bits/element and 7 probes give fpp ~= 1% (the standard
# -ln(p)/ln(2)^2 sizing at p=0.01); at 50k distinct trace ids per file
# that's a ~60 KiB sidecar — two orders of magnitude under the file it
# prunes, and read only for candidates that survived partition pruning.
_BITS_PER_ELEMENT = 9.585
_K = 7


def _positions(value: str, m: int) -> list[int]:
    """The k bit positions for ``value`` in an m-bit bloom: one md5
    split into two 64-bit halves, combined by double hashing
    (g_i = h1 + i*h2 mod m) — the Kirsch-Mitzenmacher construction, so
    one digest serves all k probes. md5 keeps build and probe portable
    (any driver, any worker, no native hash library)."""
    d = hashlib.md5(value.encode("utf-8")).digest()
    h1 = int.from_bytes(d[:8], "little")
    h2 = int.from_bytes(d[8:16], "little") | 1
    return [(h1 + i * h2) % m for i in range(_K)]


def _sidecar_rel(rel_file: str, col: str) -> str:
    return f"{rel_file}.{col}.bloom"


def build_bloom(values, ndv: int) -> bytes:
    """Bloom bits for an iterable of string values, sized for ``ndv``
    distinct elements at ~1% fpp. Returns the raw bit array (m = 8*len
    bits); m and k ride the manifest entry, not the blob."""
    m = max(64, 8 * math.ceil(max(ndv, 1) * _BITS_PER_ELEMENT / 8))
    bits = bytearray(m // 8)
    for v in values:
        if v is None:
            continue
        for p in _positions(str(v), m):
            bits[p >> 3] |= 1 << (p & 7)
    return bytes(bits)


def bloom_might_contain(bits: bytes, value: str) -> bool:
    m = 8 * len(bits)
    if m == 0:
        return False
    return all(
        bits[p >> 3] & (1 << (p & 7)) for p in _positions(str(value), m)
    )


def collect_file_blooms(
    table_path: str, rel_files: list[str], cols: tuple[str, ...]
) -> dict[str, dict]:
    """Build bloom sidecars for just-written files; returns the manifest
    ``blooms`` entries {rel_file: {col: {m, k, ndv, sidecar}}}.

    Reads ONLY the requested columns via pyarrow (the files are the
    producer's own just-written output — local/page-cache hot at commit
    time, exactly when Iceberg writers compute their puffin blobs).
    Non-string columns and columns absent from a file are skipped: no
    entry means no pruning for that file, never a wrong prune. Sidecars
    are written before the manifest commit references them, so a
    crashed attempt leaves unreferenced blobs for the orphan sweep, not
    dangling manifest pointers."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    data_dir = os.path.join(table_path, "data")
    blooms_dir = os.path.join(table_path, BLOOMS_DIR)

    def one(rel: str) -> dict:
        pf = pq.ParquetFile(os.path.join(data_dir, rel))
        names = set(pf.schema_arrow.names)
        entry: dict[str, dict] = {}
        for col in cols:
            if col not in names:
                continue
            if not pa.types.is_string(pf.schema_arrow.field(col).type) and \
               not pa.types.is_large_string(pf.schema_arrow.field(col).type):
                continue
            uniq = pc.unique(pf.read(columns=[col]).column(col).combine_chunks())
            vals = [v for v in uniq.to_pylist() if v is not None]
            bits = build_bloom(vals, len(vals))
            side = _sidecar_rel(rel, col)
            dest = os.path.join(blooms_dir, side)
            os.makedirs(os.path.dirname(dest), exist_ok=True)
            tmp = dest + ".tmp"
            with open(tmp, "wb") as fh:
                fh.write(bits)
            os.replace(tmp, dest)
            entry[col] = {
                "m": 8 * len(bits), "k": _K, "ndv": len(vals), "sidecar": side,
            }
        return entry

    # independent per-file column reads + blob writes — overlap them the
    # same way collect_file_stats overlaps footer reads (a hive layout's
    # one-file-per-dir commits produce hundreds of small files)
    from .manifest import _parallel_files

    entries = _parallel_files(one, rel_files)
    return {rel: e for rel, e in zip(rel_files, entries) if e}


def load_sidecar(table_path: str, sidecar_rel: str) -> bytes | None:
    try:
        with open(os.path.join(table_path, BLOOMS_DIR, sidecar_rel), "rb") as fh:
            return fh.read()
    except OSError:
        return None


def drop_sidecars(table_path: str, rel_file: str) -> None:
    """Reclaim the sidecars of a data file being deleted (snapshot
    expiration) — sidecars share their file's lifetime, like Iceberg
    puffin blobs referenced from the same snapshot."""
    blooms_dir = os.path.join(table_path, BLOOMS_DIR)
    d = os.path.join(blooms_dir, os.path.dirname(rel_file))
    base = os.path.basename(rel_file) + "."
    if not os.path.isdir(d):
        return
    for n in os.listdir(d):
        if n.startswith(base) and n.endswith(".bloom"):
            with contextlib.suppress(OSError):
                os.unlink(os.path.join(d, n))
    while d != blooms_dir and os.path.isdir(d) and not os.listdir(d):
        os.rmdir(d)
        d = os.path.dirname(d)


# ------------------------------------------------------------- bucketing


def bucket_of(value: str, n: int) -> int:
    """Driver-side bucket of a key — MUST match :func:`bucket_expr`.
    md5-prefix (60 bits) mod n: portable between Python and Spark SQL
    with no shared native hash (Iceberg uses murmur3 for the same job;
    what matters is that writer and prober agree, which this pair pins
    with a parity test)."""
    return int(hashlib.md5(str(value).encode("utf-8")).hexdigest()[:15], 16) % n


def bucket_expr(col: str, n: int) -> Column:
    """The Spark expression writers use to derive the bucket partition
    column: md5 hex prefix (15 nibbles = 60 bits, always < 2^63 so the
    ANSI cast can't overflow) converted to decimal, mod n."""
    return F.pmod(
        F.conv(F.substring(F.md5(F.col(col).cast("string")), 1, 15), 16, 10)
        .cast("long"),
        F.lit(n),
    )


def bucket_part_name(col: str) -> str:
    return f"{col}_bucket"
