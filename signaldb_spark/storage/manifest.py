"""Manifest-committed tables: the object-store-safe commit protocol.

Directory-rename protocols (``os.replace`` of staged files, ``rmtree`` +
``rename`` partition swaps) assume POSIX atomicity that object stores
don't offer — on S3/GCS a rename is a copy+delete with a visible window.
Here a commit is ONE new immutable manifest object:

    table/
      data/date_day=…/hour=…/<unique-name>.parquet   (never overwritten)
      _manifests/v00000042.json                      (complete file list)

Writers write data files under names unique per attempt, then commit
manifest v(N+1) listing the complete resulting file set. The manifest
write is the transaction point: locally an ``os.link`` put-if-absent
(fails if the version exists — the loser of a race retries on the next
version); on S3 the same protocol is a conditional PUT
(``If-None-Match: *``) of the new version key. Readers resolve the
highest committed version and read exactly its files, so

- a half-finished writer is invisible (its files are unreferenced),
- a reader holding version N keeps a consistent snapshot while v(N+1)
  compacts those files away, because replaced files are deleted by
  snapshot expiration, not at commit time,
- a replayed streaming batch is a no-op: batch lineage is recorded in
  the manifest, and a batch id that already committed is skipped —
  regardless of how many files the crashed first attempt wrote.

This is the semantics the reference gets from Iceberg snapshots
(docs/architecture/storage-layout.md; compactor retention/ + orphan/
jobs); expressed directly because the sandbox has no Iceberg/Delta jars.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import threading
import uuid
import weakref
from collections import Counter

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

MANIFEST_DIR = "_manifests"
DATA_DIR = "data"
HOT_DIR = "hot"

# A query relation whose files' recorded bytes sum to at most this runs
# as ONE partition (ManifestTable.query_scan): below it, Spark's
# per-exchange job and stage overhead costs more than a parallel scan
# saves, even for a query that reads every column. Recorded bytes are
# the files' on-disk sizes: column data and footer, plus the trace_id
# bloom where one is written (BLOOM_WRITE_OPTIONS); no 1 MiB span_id
# bloom rides a file. Measured on 4 cores over tables whose files had
# no span_id column, so no such bloom either (docs/bench_adjudications.md,
# "Small inputs").
SMALL_SCAN_BYTES = 8 << 20

# parquet write options. The reference also blooms span_id
# (src/common/src/schema/mod.rs:69-105, fpp 0.01) for its log<->trace
# correlation lookup (logs by span id); this engine has no such lookup
# and no route filters logs or traces by span_id, and a bloom with no
# expected.ndv is written at parquet-mr's 1 MiB maximum into every file,
# so span_id gets none. The trace_id bloom stays: parquet-mr writes none
# for a chunk that stays dictionary-encoded (the spans of a trace share
# its id, so do the logs of one request), and prunes row groups inside
# large files; a chunk of distinct per-record ids falls back to plain
# encoding and gets it at its expected.ndv size, 64 KiB. Which FILES a
# trace-by-id lookup opens is decided before any file is opened, by the
# sidecars of POINT_LOOKUP_COLS.
BLOOM_WRITE_OPTIONS = {
    "parquet.bloom.filter.enabled#trace_id": "true",
    "parquet.bloom.filter.expected.ndv#trace_id": "50000",
    "parquet.compression": "zstd",
}

SORT_ORDERS = {
    # compaction/write clustering (rewriter.rs:591-616)
    "traces": ["timestamp", "trace_id"],
    "logs": ["timestamp", "service_name", "severity_text"],
    "metrics_gauge": ["timestamp", "metric_name", "service_name"],
    "metrics_sum": ["timestamp", "metric_name", "service_name"],
    "metrics_histogram": ["timestamp", "metric_name", "service_name"],
}

# Per-file bloom sidecar columns (storage/blooms.py) of each table kind:
# the columns its point-lookup routes filter by equality (trace by id,
# profiles by trace id; SignalDBAPI._manifest_point_scan). Every
# producer that writes a table of one of these kinds builds the
# sidecars and records the columns in the ``bloom.cols`` table property.
POINT_LOOKUP_COLS = {
    "traces": ("trace_id",),
    "profiles": ("trace_id",),
}

# Write-side SQL confs every manifest-feeding parquet write must carry,
# REGARDLESS of who built the SparkSession. Spark's default timestamp
# encoding is legacy INT96, which records NO parquet min/max statistics:
# under an embedder's vanilla session that silently blinds
# collect_file_stats → the manifest records no ts bounds → read(between=)
# stats-pruning and the stats-ordered backward-TopK tail scan degrade to
# full scans (correct, but at 100 TB the difference between reading 3
# files and 3,000). Iceberg writers always record manifest bounds
# (reference: docs/architecture/storage-layout.md:294-306,
# src/common/src/iceberg/schemas.rs:459-486), so the write paths here
# must be self-sufficient rather than trusting session.py's pin.
#
# Planned writes are off for the same reason: a sort claim must be true.
# A planned partitioned write drops the producer's sort and re-sorts by
# the partition columns alone whenever the optimizer folds a literal
# partition column out of the sort (a literal date_day and hour before a
# computed bucket column). Unplanned, the write runs the producer's sort
# and, when a folded literal leaves that sort not starting with the
# partition columns, sorts its output by them with Spark's stable
# in-memory sort, which keeps the producer's order within each file.
_WRITE_CONFS = {
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    "spark.sql.optimizer.plannedWrite.enabled": "false",
}


_WRITE_PIN_LOCK = threading.Lock()
_WRITE_PIN_STATE: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)


@contextlib.contextmanager
def stats_visible_writes(spark: SparkSession):
    """Pin the write-side confs around a parquet write, restoring the
    caller's values after. Runtime SQL confs only — safe on a live
    session.

    Reentrant and thread-safe via a per-session depth counter: every
    user of this guard pins the SAME conf values, so overlapping writes
    (concurrent sinks, a compaction pass and a route's rewrite on one
    session) simply share one pin — the first entry records the
    caller's values, the last exit restores them. A concurrent conf change made *outside* this guard
    during the pinned window is still the embedder's race to lose, as
    before."""
    with _WRITE_PIN_LOCK:
        state = _WRITE_PIN_STATE.get(spark)
        if state is None:
            prev: dict[str, str | None] = {}
            for k, v in _WRITE_CONFS.items():
                try:
                    prev[k] = spark.conf.get(k)
                except Exception:
                    prev[k] = None
                spark.conf.set(k, v)
            state = _WRITE_PIN_STATE[spark] = {"depth": 0, "prev": prev}
        state["depth"] += 1
    try:
        yield
    finally:
        with _WRITE_PIN_LOCK:
            state["depth"] -= 1
            if state["depth"] == 0:
                _WRITE_PIN_STATE.pop(spark, None)
                for k, old in state["prev"].items():
                    if old is None:
                        spark.conf.unset(k)
                    else:
                        spark.conf.set(k, old)


class CommitConflict(Exception):
    """Another writer committed this version first — reread and retry."""


class UnclassifiableFile(Exception):
    """A live data file has no recorded partition identity and no
    parseable hive path — lifecycle jobs must fail loudly rather than
    silently skip it (a skipped file is immortal: retention never drops
    it, compaction never rewrites it, yet every read includes it). The
    reference's compactor rework makes the same call (#930:
    'unclassifiable files are a loud error, not silently kept')."""


def manifest_table(table_path: str) -> "ManifestTable | None":
    """The one layout test: a :class:`ManifestTable` handle when the
    table commits through snapshot manifests (the default sink), None
    for a bare parquet directory or no table at all."""
    if os.path.isdir(os.path.join(table_path, MANIFEST_DIR)):
        return ManifestTable(table_path)
    return None


def bare_parquet_table(table_path: str) -> bool:
    """The one bare-table test: a directory with neither snapshot
    manifests nor a hot store whose tree holds a ``.parquet`` file.
    Such a table is read-only input — a manifest committed over it
    would shadow its files. An empty directory is not one: it holds
    nothing to shadow."""
    if manifest_table(table_path) is not None or os.path.isdir(
        os.path.join(table_path, HOT_DIR)
    ):
        return False
    return any(
        n.endswith(".parquet")
        for _root, _dirs, names in os.walk(table_path)
        for n in names
    )


class ManifestTable:
    def __init__(self, table_path: str):
        self.table_path = table_path
        self.manifest_dir = os.path.join(table_path, MANIFEST_DIR)
        self.data_dir = os.path.join(table_path, DATA_DIR)

    # ------------------------------------------------------------ versions

    def versions(self) -> list[int]:
        if not os.path.isdir(self.manifest_dir):
            return []
        out = []
        for name in os.listdir(self.manifest_dir):
            if name.startswith("v") and name.endswith(".json"):
                try:
                    out.append(int(name[1:-5]))
                except ValueError:
                    continue
        return sorted(out)

    def current_version(self) -> int:
        vs = self.versions()
        return vs[-1] if vs else 0

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self.manifest_dir, f"v{version:08d}.json")

    def load_manifest(self, version: int | None = None) -> dict:
        v = self.current_version() if version is None else version
        if v == 0:
            return {"version": 0, "files": [], "batches": []}
        with open(self._manifest_path(v)) as fh:
            return json.load(fh)

    # -------------------------------------------------------------- commit

    def _put_if_absent(self, manifest: dict, version: int) -> None:
        """Atomic create-if-not-exists of the version object. ``os.link``
        raises FileExistsError if the target exists (the POSIX analog of
        a conditional PUT); the temp file is always cleaned up."""
        os.makedirs(self.manifest_dir, exist_ok=True)
        tmp = os.path.join(self.manifest_dir, f".tmp-{uuid.uuid4().hex}")
        with open(tmp, "w") as fh:
            json.dump(manifest, fh)
        try:
            os.link(tmp, self._manifest_path(version))
        except FileExistsError as e:
            raise CommitConflict(version) from e
        finally:
            os.unlink(tmp)

    def commit(
        self,
        add_files: list[str],
        remove_files: list[str] | tuple = (),
        batch_id: int | str | None = None,
        max_retries: int = 20,
        stats: dict[str, dict] | None = None,
        properties: dict | None = None,
        precondition=None,
        partitions: dict[str, dict] | None = None,
        sizes: dict[str, int] | None = None,
        sort_orders: dict[str, list] | None = None,
        blooms: dict[str, dict] | None = None,
        schema: T.StructType | None = None,
    ) -> bool:
        """Commit a snapshot: current files − removed + added. Paths are
        relative to ``data/``. Returns False (no commit) if ``batch_id``
        already appears in the lineage — the idempotent-replay guard.
        Optimistic concurrency: on version collision, reread and retry.

        ``stats`` maps added file → {col: [min, max]} (the Iceberg
        manifest-entry ``lower_bounds``/``upper_bounds`` analog,
        storage-layout.md:45-96). Entries ride the manifest so
        :meth:`read` can prune the file list by predicate range BEFORE
        Spark ever plans the scan — at 100 TB the planner should list
        the matching hour's files, not every file ever committed.

        ``properties`` merges into the snapshot's table properties IN
        THE SAME atomic version object as the file list (the Iceberg
        table-properties analog) — the channel the hot/cold watermark
        rides (storage/hot.py); properties carry forward on later
        commits that don't touch them.

        ``precondition`` (manifest → bool), when given, is re-evaluated
        against the CURRENT manifest on every retry; a falsy result
        aborts the whole commit with False. This is the
        compare-and-swap hook watermark-bearing commits need: a flush
        asserts "the watermark is still the one I planned against", so
        a racing flush can never re-add already-flushed batches or
        regress the watermark, whichever order the two commits land in.

        ``partitions`` maps added file → its partition values (e.g.
        ``{"date_day": "2024-01-01", "hour": 3}``) — the Iceberg
        manifest-entry partition struct analog. Recorded by the WRITER,
        which knows the layout it just produced, so lifecycle jobs
        (retention, compaction, candidacy) classify files from manifest
        metadata instead of parsing path strings (the reference's
        compactor rework, compactor-partition-scoped-lifecycle: path
        parsing misclassifies silently; manifest identity is
        authoritative — openspec design.md D-facts, #930).

        ``sizes`` maps added file → on-disk bytes (the Iceberg
        ``file_size_in_bytes`` analog) — what size-aware compaction
        candidacy reads instead of stat()ing every file per planning
        pass.

        ``sort_orders`` maps added file → the column list that file's
        rows are in, in that order. The honesty invariant of the
        reference's declared-sort-orders change: only the producer that
        wrote the file in that order may claim it. Sorting the input is
        not enough — a partitioned write may re-sort it — so the claim
        comes from :func:`_write_commit`, whose sort the write keeps
        (``tests/test_lifecycle_scoped.py`` reads claimed files back).
        A file without a claim is classified inexact (see
        :meth:`declared_ordering`).

        ``blooms`` maps added file → {col: bloom entry} (the Iceberg
        puffin-blob reference analog; see storage/blooms.py) — what
        :meth:`pruned_files_point` probes so a point lookup on a
        high-cardinality key plans only the files that might contain
        it. Entries are carried/dropped with their file like the other
        per-file metadata.

        ``schema`` is the Spark schema of the columns the producer wrote
        INTO the added files (hive partition columns excluded — they
        stay path-derived). It lands in the same version object as the
        file list (the Iceberg table-metadata schema analog), merged by
        column name with the schema already recorded for the files this
        commit keeps: new columns append, a column whose type changes
        drops the record. Readers pass a recorded schema to Spark instead
        of inferring one from a file footer (a Spark job per relation);
        a version without one — legacy files of unknown schema, files
        added without a schema, a type conflict — reads by inference,
        exactly as before (see :func:`_next_schema`).
        """
        removed = set(remove_files)

        def _carry(key: str, new: dict | None) -> dict:
            kept = {
                f: v for f, v in (cur.get(key) or {}).items() if f not in removed
            }
            kept.update(new or {})
            return kept

        for _ in range(max_retries):
            cur = self.load_manifest()
            if batch_id is not None and batch_id in cur["batches"]:
                return False
            if precondition is not None and not precondition(cur):
                return False
            kept = [f for f in cur["files"] if f not in removed]
            files = kept + list(add_files)
            manifest = {
                "version": cur["version"] + 1,
                "files": sorted(files),
                "batches": cur["batches"] + ([batch_id] if batch_id is not None else []),
                "stats": _carry("stats", stats),
                "parts": _carry("parts", partitions),
                "sizes": _carry("sizes", sizes),
                "sorts": _carry("sorts", sort_orders),
                "blooms": _carry("blooms", blooms),
                "props": {**cur.get("props", {}), **(properties or {})},
                "schema": _next_schema(cur, kept, add_files, schema),
            }
            try:
                self._put_if_absent(manifest, cur["version"] + 1)
                return True
            except CommitConflict:
                continue
        raise RuntimeError(f"commit contention exceeded {max_retries} retries")

    # ---------------------------------------------------------------- read

    def files(self, version: int | None = None) -> list[str]:
        return [
            os.path.join(self.data_dir, f) for f in self.load_manifest(version)["files"]
        ]

    def file_partitions(
        self, version: int | None = None, strict: bool = False,
        manifest: dict | None = None,
    ) -> dict[str, dict]:
        """Partition identity per live file: the manifest-recorded
        partition struct when the committing writer recorded one,
        falling back to hive-path parsing for entries committed before
        partition recording existed. ``strict=True`` raises
        :class:`UnclassifiableFile` when neither source yields an
        identity — the mode lifecycle jobs (retention, compaction
        planning) run in, because a silently unclassified file escapes
        lifecycle forever while remaining in every query result.
        Non-strict callers get ``{}`` for such files (read paths don't
        care about partition identity). ``manifest`` (an already-loaded
        version, here and on the other per-file accessors) skips the
        reload."""
        m = manifest or self.load_manifest(version)
        recorded = m.get("parts") or {}
        out: dict[str, dict] = {}
        for f in m["files"]:
            ident = recorded.get(f)
            if ident is None:
                ident = _parse_hive_partition(f)
            if ident is None:
                if strict:
                    raise UnclassifiableFile(
                        f"data file {f!r} has no recorded partition and "
                        "no parseable hive path; refusing to run a "
                        "lifecycle pass that would silently skip it"
                    )
                ident = {}
            out[f] = ident
        return out

    def file_sizes(
        self, version: int | None = None, manifest: dict | None = None
    ) -> dict[str, int]:
        """Recorded on-disk bytes per live file (``sizes`` manifest
        entries); files committed before size recording fall back to a
        stat() probe so size-aware candidacy still works on old
        manifests."""
        m = manifest or self.load_manifest(version)
        recorded = m.get("sizes") or {}
        out: dict[str, int] = {}
        for f in m["files"]:
            sz = recorded.get(f)
            if sz is None:
                try:
                    sz = os.path.getsize(os.path.join(self.data_dir, f))
                except OSError:
                    sz = 0
            out[f] = int(sz)
        return out

    def declared_ordering(
        self, sort_cols: list[str], version: int | None = None
    ) -> str:
        """Classify the live file population against a declared sort
        order — the reference's declared-data-ordering contract
        (openspec/changes/declared-sort-orders): ``"exact"`` when EVERY
        live file carries a claim that starts with ``sort_cols``,
        ``"inexact"`` when only some do (files committed without one:
        external adds, z-order rewrites, tables with no configured
        order), ``"none"`` when none do or the table is empty. A claim
        is recorded only for a file whose rows are in that order, so
        ``"exact"`` means every live file reads back sorted by
        ``sort_cols``. Inexact never makes results wrong — it only
        withholds sort-elimination-style shortcuts; compaction converges
        a mixed population back to exact because the compactor's files
        are sorted and claimed (the proposal's one-shot-cutover
        story)."""
        m = self.load_manifest(version)
        sorts = m.get("sorts") or {}
        if not m["files"]:
            return "none"
        claimed = 0
        for f in m["files"]:
            claim = sorts.get(f)
            if claim is not None and list(claim)[: len(sort_cols)] == list(sort_cols):
                claimed += 1
        if claimed == len(m["files"]):
            return "exact"
        return "inexact" if claimed else "none"

    def pruned_files(
        self, col: str, lo, hi, version: int | None = None,
        manifest: dict | None = None,
    ) -> tuple[list[str], int]:
        """Manifest-level file pruning: drop files whose recorded
        [min, max] for ``col`` is disjoint from [lo, hi]. Files with no
        recorded stats are kept (pruning is an optimization, never a
        correctness filter). Returns (absolute paths, files_pruned)."""
        return self.pruned_files_multi([(col, lo, hi)], version, manifest)

    def pruned_files_multi(
        self,
        preds: list[tuple[str, object, object]],
        version: int | None = None,
        manifest: dict | None = None,
    ) -> tuple[list[str], int]:
        """Conjunctive range pruning: drop a file when ANY predicate's
        recorded [min, max] is disjoint from its [lo, hi]. The layout
        decides how much this bites (see storage/zorder.py — z-ordered
        files have tight ranges on every clustered column at once);
        files without stats for a column pass that predicate, as ever.
        Returns (absolute paths, files_pruned)."""
        m = manifest or self.load_manifest(version)
        kept = _range_kept(m, m["files"], preds)
        return (
            [os.path.join(self.data_dir, f) for f in kept],
            len(m["files"]) - len(kept),
        )

    def pruned_files_point(
        self, col: str, value, version: int | None = None,
        between: tuple[str, object, object] | None = None,
        manifest: dict | None = None,
    ) -> tuple[list[str], int]:
        """Point-lookup file pruning for ``col = value`` — the driver-
        side plan for the reference's hottest lookup shape (trace by
        id, trace.rs:111-170), where [min, max] stats never prune a
        random hex key. Three evidence layers, cheapest first:

        1. **Bucket layout** (table property ``bucket.col``): files
           whose recorded partition struct carries the bucket key are
           kept only if it equals ``bucket_of(value, n)`` — a pure
           metadata test that statically drops ~(n-1)/n of files.
        2. **[min, max] stats** for ``col`` (helps sorted/clustered
           keys; vacuous for random ones).
        3. **Bloom sidecars**: one bounded blob read per surviving
           candidate; drop definite misses (expected keeps = true hits
           + ~1% of candidates).

        ``between`` additionally applies the ordinary range pruning
        (e.g. the query's time window) BEFORE any sidecar is read.
        Files lacking a given evidence layer pass that layer — pruning
        is an optimization, never a correctness filter; the caller
        still applies the row-level predicate. Returns (absolute paths,
        files_pruned)."""
        from .blooms import bloom_might_contain, bucket_of, load_sidecar

        m = manifest or self.load_manifest(version)
        # the [min, max] layers: ``between`` and ``col = value`` as the
        # range [value, value]
        ranges = [(col, value, value)]
        if between is not None:
            ranges.insert(0, between)
        candidates = _range_kept(m, m["files"], ranges)

        props = m.get("props", {})
        if props.get("bucket.col") == col:
            n = int(props["bucket.n"])
            part = props.get("bucket.part", f"{col}_bucket")
            target = bucket_of(value, n)
            parts = m.get("parts", {})
            kept = []
            for f in candidates:
                b = (parts.get(f) or _parse_hive_partition(f) or {}).get(part)
                if b is None or int(b) == target:
                    kept.append(f)
            candidates = kept
        pruned = len(m["files"]) - len(candidates)

        blooms = m.get("blooms", {})

        # sidecar probes are independent bounded reads — overlap them
        # (on an object store a serial walk is O(candidates x RTT),
        # exactly the cost this layer exists to avoid paying on footers)
        def probe(f: str) -> bool:
            meta = blooms.get(f, {}).get(col)
            if meta is None:
                return True
            bits = load_sidecar(self.table_path, meta["sidecar"])
            return bits is None or bloom_might_contain(bits, value)

        keep_flags = _parallel_files(probe, candidates)
        kept = [f for f, k in zip(candidates, keep_flags) if k]
        pruned += len(candidates) - len(kept)
        return [os.path.join(self.data_dir, f) for f in kept], pruned

    def point_lookup(
        self, spark: SparkSession, col: str, value,
        version: int | None = None,
        between: tuple[str, object, object] | None = None,
    ) -> DataFrame | None:
        """Snapshot read planned through :meth:`pruned_files_point`,
        with the row-level equality applied (file pruning bounds files,
        the filter bounds rows — inside each kept file parquet's
        dictionary filter prunes row groups, or the ``trace_id`` bloom of
        a chunk that is not dictionary-encoded; no other column carries
        a parquet bloom, see :data:`BLOOM_WRITE_OPTIONS`). None when
        every file was pruned or the table is empty — a definite miss
        answered with ZERO data-file reads."""
        from pyspark.sql import functions as F

        m = self.load_manifest(version)
        fs, _ = self.pruned_files_point(col, value, between=between, manifest=m)
        if not fs:
            return None
        return self.scan(spark, m, fs).filter(F.col(col) == value)

    def scan(self, spark: SparkSession, manifest: dict, paths: list[str]) -> DataFrame:
        """The one relation builder every manifest reader goes through:
        ``paths`` (absolute, from this table's ``manifest``) under
        ``basePath`` so hive partition columns stay columns AND prune.
        With a recorded ``schema`` Spark takes it as given — no footer
        schema-inference job; partition columns are still discovered
        from the paths exactly as before. Without one, inference."""
        reader = spark.read.option("basePath", self.data_dir)
        recorded = manifest.get("schema")
        if recorded is not None:
            reader = reader.schema(T.StructType.fromJson(recorded))
        return reader.parquet(*paths)

    def query_scan(
        self, spark: SparkSession, manifest: dict, paths: list[str]
    ) -> DataFrame:
        """:meth:`scan` for a query relation: when the recorded bytes of
        ``paths`` sum to at most :data:`SMALL_SCAN_BYTES` the relation is
        ``coalesce(1)`` over the scan. Its ``SinglePartition`` output
        satisfies every clustered and ordered distribution, so no
        aggregate, window, sort or join above it adds an exchange: the
        query runs as one job and one task, while filters and column
        pruning still reach the file scan. Above the threshold the scan
        keeps Spark's file splits. Maintenance inputs, writes and the
        stats-ordered top-k waves use :meth:`scan` directly."""
        sizes = self.file_sizes(manifest=manifest)
        total = sum(sizes[os.path.relpath(p, self.data_dir)] for p in paths)
        df = self.scan(spark, manifest, paths)
        return df.coalesce(1) if total <= SMALL_SCAN_BYTES else df

    def read(
        self,
        spark: SparkSession,
        version: int | None = None,
        between: tuple[str, object, object] | None = None,
        manifest: dict | None = None,
    ) -> DataFrame | None:
        """Snapshot read: exactly the committed file set (explicit list +
        basePath keeps hive-style partition columns AND partition
        pruning). None for an empty table — no schema to synthesize.

        ``between=(col, lo, hi)`` additionally prunes the file list by
        the manifest's per-file column stats before Spark plans the
        scan; the caller must still apply the row-level predicate (file
        stats bound files, not rows).

        The relation is a :meth:`query_scan`: one partition when the
        kept files are small, Spark's file splits otherwise."""
        m = manifest or self.load_manifest(version)
        if between is not None:
            fs, _ = self.pruned_files(*between, manifest=m)
        else:
            fs = [os.path.join(self.data_dir, f) for f in m["files"]]
        if not fs:
            return None
        # Relation memo signed by the explicit file list: a manifest
        # version never mutates a file, so the same (basePath, files)
        # pair is the same immutable relation (catalog.relation_memo;
        # every action still scans). The recorded schema types the
        # relation, so it signs it too.
        from ..catalog import relation_memo

        return relation_memo(
            spark,
            ("manifest", self.data_dir),
            (tuple(fs), json.dumps(m.get("schema"), sort_keys=True)),
            lambda: self.query_scan(spark, m, fs),
        )

    def read_recent_topk(
        self,
        spark: SparkSession,
        ts_col: str,
        n: int,
        version: int | None = None,
        transform=None,
        tiebreak_col: str | None = None,
        manifest: dict | None = None,
    ) -> tuple[DataFrame | None, int]:
        """Statistics-ordered TopK scan for the dominant observability
        shape ``ORDER BY ts DESC LIMIT n`` — read the most-promising
        files first instead of scanning the table (the reference's
        declared-sort-orders change: DataFusion's statistics-based file
        reordering + TopK pushdown, 27-49x on exactly this shape; our
        ordering claim is the manifest's per-file [min, max], which the
        committing writer recorded from the parquet footers — honest by
        construction, never declared beyond what the file proves).

        Files sort by recorded max(ts) descending and read in doubling
        waves; the scan stops as soon as n rows are in hand AND the
        n-th newest timestamp strictly exceeds every unread file's max
        — unread files then provably hold no top-n row, so the result's
        timestamp multiset equals the full scan's. Files without
        recorded stats make no claim and are always read in the first
        wave. The driver-side wave loop costs at most log2(files) Spark
        jobs — the price of limit pushdown Spark's parquet scan does
        not do natively.

        Returns (top-n DataFrame ordered newest-first, files_read);
        (None, 0) for an empty table. Ties at the n-th timestamp are
        resolved arbitrarily, exactly like the unhinted full scan —
        unless ``tiebreak_col`` names a secondary key (descending) to
        make the cut deterministic. The early-stop boundary check stays
        valid with a secondary key: it requires the n-th timestamp to
        STRICTLY exceed every unread file's max, so no unread row can
        displace a kept one whatever the tie order.

        ``transform`` (optional) applies per wave BEFORE the order/limit
        — the hook that makes the early-stop work under query
        predicates (a filtered tail still stops once n SURVIVING rows
        beat every unread file's max). The transform must only filter
        rows or add/project columns; it must never alter ``ts_col``
        values or synthesize rows, or the file-stats boundary check is
        no longer an upper bound.
        """
        m = manifest or self.load_manifest(version)
        stats = m.get("stats", {})
        blind = [f for f in m["files"] if stats.get(f, {}).get(ts_col) is None]
        known = sorted(
            (f for f in m["files"] if f not in set(blind)),
            key=lambda f: stats[f][ts_col][1],
            reverse=True,
        )
        if not blind and not known:
            return None, 0
        taken = list(blind)
        wave = 1
        while True:
            taken += known[len(taken) - len(blind):][:wave]
            wave *= 2
            unread = known[len(taken) - len(blind):]
            df = self.scan(
                spark, m, [os.path.join(self.data_dir, f) for f in taken]
            )
            if transform is not None:
                df = transform(df)
            from pyspark.sql import functions as F

            order = [F.desc(ts_col)]
            if tiebreak_col is not None and tiebreak_col in df.columns:
                order.append(F.desc(tiebreak_col))
            top = df.orderBy(*order).limit(n)
            if not unread:
                return top, len(taken)
            rows = top.select(ts_col).collect()
            if len(rows) >= n:
                nth = _stat_key(rows[-1][0])
                boundary = stats[unread[0]][ts_col][1]
                if nth > boundary:
                    return top, len(taken)

    # ------------------------------------------------------- housekeeping

    def _all_data_files(self) -> list[str]:
        out = []
        for root, _dirs, names in os.walk(self.data_dir):
            for n in names:
                if n.endswith(".parquet"):
                    out.append(
                        os.path.relpath(os.path.join(root, n), self.data_dir)
                    )
        return out

    def find_orphans(self) -> list[str]:
        """Data files referenced by NO retained manifest — crashed write
        attempts and compacted-away files past expiration (the
        compactor's orphan-detection job, src/compactor/src/orphan/)."""
        live: set[str] = set()
        for v in self.versions():
            live.update(self.load_manifest(v)["files"])
        return sorted(set(self._all_data_files()) - live)

    def expire_snapshots(self, keep_last: int = 1) -> list[str]:
        """Drop old manifests (keep the newest ``keep_last``), then
        delete the data files those EXPIRED manifests referenced and no
        retained snapshot still does. Readers that resolved a retained
        version stay consistent — this, not commit, is the only place
        committed data files die (snapshot expiration,
        src/compactor/src/retention/).

        Deliberately NOT a directory diff: a file on disk that no
        manifest has ever referenced may be a concurrent writer's
        staged batch whose commit is about to land — deleting it here
        (with zero grace) would be the lost-staged-file hazard. Such
        files are maintenance.cleanup_orphans' job, behind its
        wall-clock grace window (the Iceberg split: expireSnapshots vs
        removeOrphanFiles)."""
        vs = self.versions()
        drop = vs[:-keep_last] if keep_last > 0 else vs
        keep = vs[len(drop):]
        expired_refs: set[str] = set()
        for v in drop:  # read before unlinking the manifests
            expired_refs.update(self.load_manifest(v)["files"])
        retained_refs: set[str] = set()
        for v in keep:
            retained_refs.update(self.load_manifest(v)["files"])
        dead = sorted(expired_refs - retained_refs)
        for v in drop:
            os.unlink(self._manifest_path(v))
        from .blooms import drop_sidecars

        for rel in dead:
            path = os.path.join(self.data_dir, rel)
            try:
                os.unlink(path)
            except FileNotFoundError:
                pass
            # bloom sidecars share their data file's lifetime
            drop_sidecars(self.table_path, rel)
            # prune now-empty partition dirs
            d = os.path.dirname(path)
            while d != self.data_dir and os.path.isdir(d) and not os.listdir(d):
                os.rmdir(d)
                d = os.path.dirname(d)
        return dead


# ------------------------------------------------------------------ writers


def _parse_hive_partition(rel: str) -> dict | None:
    """Best-effort partition identity from a hive-layout relative path
    (``k=v/k=v/file.parquet``) — the COMPATIBILITY fallback for manifest
    entries committed before writers recorded partition structs, never
    the preferred source. Returns None (unclassifiable) when no path
    segment is a k=v pair."""
    segs = rel.split(os.sep)[:-1]
    if not segs or not all("=" in s for s in segs):
        return None
    out = {}
    for s in segs:
        k, v = s.split("=", 1)
        out[k] = int(v) if v.lstrip("-").isdigit() else v
    return out


def _nullable(dt: T.DataType) -> T.DataType:
    """``dt`` with every level nullable and no field metadata — the form
    Spark's file sources read any parquet schema back as, so a recorded
    schema compares (and merges) on names and types alone."""
    if isinstance(dt, T.StructType):
        return T.StructType(
            [T.StructField(f.name, _nullable(f.dataType)) for f in dt.fields]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_nullable(dt.elementType))
    if isinstance(dt, T.MapType):
        return T.MapType(_nullable(dt.keyType), _nullable(dt.valueType))
    return dt


def _next_schema(
    cur: dict, kept: list[str], add_files, schema: T.StructType | None
) -> dict | None:
    """The ``schema`` entry of the version after a commit keeps ``kept``
    of the current files and adds ``add_files`` written with ``schema``.
    A recorded schema must cover EVERY live file, so it is None while
    any live file's schema is unknown: kept files from a version that
    recorded none (a legacy manifest) or added files with none given.
    Otherwise the kept files' schema and the new one merge by column
    name — new columns append, and a column whose type differs drops
    the record (readers then infer, as before)."""
    old = cur.get("schema")
    new = _nullable(schema).jsonValue() if schema is not None else None
    if (kept and old is None) or (add_files and new is None):
        return None
    if not kept:
        return new
    if new is None:
        return old
    have = {f["name"]: f["type"] for f in old["fields"]}
    fields = list(old["fields"])
    for f in new["fields"]:
        if f["name"] not in have:
            fields.append(f)
        elif have[f["name"]] != f["type"]:
            return None
    return {**old, "fields": fields}


def _stat_key(v):
    """Normalize a stats value to a JSON-storable, totally-ordered key:
    timestamps → epoch microseconds (int); everything else unchanged.
    Naive datetimes are treated as UTC wall time (the session timezone
    is pinned UTC; parquet footers may yield either form)."""
    import datetime as dt

    if isinstance(v, dt.datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=dt.timezone.utc)
        return int(v.timestamp() * 1_000_000)
    if isinstance(v, dt.date):
        return v.isoformat()
    return v


def _range_kept(manifest: dict, files: list[str], preds) -> list[str]:
    """The one stats range test: ``files`` minus those whose recorded
    [min, max] for some ``(col, lo, hi)`` of ``preds`` is disjoint from
    [lo, hi]. A file without stats for a column passes that predicate,
    so the kept set is the intersection of the per-predicate tests."""
    stats = manifest.get("stats", {})
    keyed = [(c, _stat_key(lo), _stat_key(hi)) for c, lo, hi in preds]

    def disjoint(f: str) -> bool:
        fstats = stats.get(f, {})
        return any(
            (rng := fstats.get(c)) is not None and (rng[1] < lo or rng[0] > hi)
            for c, lo, hi in keyed
        )

    return [f for f in files if not disjoint(f)]


def _parallel_files(fn, rel_files: list[str], max_workers: int = 16) -> list:
    """Map ``fn`` over per-file metadata operations with a bounded
    thread pool, preserving input order. Below the pool's own overhead
    (tiny commits, the common streaming case) it stays serial."""
    if len(rel_files) <= 4:
        return [fn(r) for r in rel_files]
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=min(max_workers, len(rel_files))) as ex:
        return list(ex.map(fn, rel_files))


def collect_file_stats(
    data_dir: str, rel_files: list[str], cols: tuple[str, ...]
) -> dict[str, dict]:
    """Per-file [min, max] for ``cols`` from parquet footers only (the
    row-group statistics pyarrow exposes) — a metadata read, no data
    I/O; the same information an Iceberg writer records in its manifest
    entries. Columns missing from a file, or with stats disabled, are
    simply absent from that file's entry."""
    import pyarrow.parquet as pq

    def one(rel: str) -> dict:
        md = pq.ParquetFile(os.path.join(data_dir, rel)).metadata
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
        entry: dict[str, list] = {}
        for col in cols:
            i = idx.get(col)
            if i is None:
                continue
            lo = hi = None
            ok = True
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(i).statistics
                if st is None or not st.has_min_max:
                    ok = False
                    break
                mn, mx = _stat_key(st.min), _stat_key(st.max)
                lo = mn if lo is None or mn < lo else lo
                hi = mx if hi is None or mx > hi else hi
            if ok and lo is not None:
                entry[col] = [lo, hi]
        return entry

    # footer reads are independent metadata fetches — a bounded thread
    # pool overlaps them (local: page-cache misses; object store: the
    # per-request latency that makes a serial walk O(files x RTT)).
    # Results keep rel_files order; the dict content is order-free.
    entries = _parallel_files(one, rel_files)
    return {rel: e for rel, e in zip(rel_files, entries) if e}


def _stage_into_data(staging: str, data_dir: str, prefix: str) -> list[str]:
    """Move staged hive-layout parquet files under unique names in
    data/. The move is local simulation of a direct-to-final-key upload
    (what an object-store committer does); uniqueness per attempt means
    nothing is ever overwritten."""
    rel_files = []
    for root, _dirs, names in os.walk(staging):
        rel = os.path.relpath(root, staging)
        for i, n in enumerate(sorted(names)):
            if not n.endswith(".parquet"):
                continue
            dest_dir = os.path.join(data_dir, rel) if rel != "." else data_dir
            os.makedirs(dest_dir, exist_ok=True)
            fname = f"{prefix}-{i:05d}.parquet"
            os.replace(os.path.join(root, n), os.path.join(dest_dir, fname))
            rel_files.append(
                os.path.relpath(os.path.join(dest_dir, fname), data_dir)
            )
    shutil.rmtree(staging, ignore_errors=True)
    return rel_files


def _write_commit(
    df: DataFrame,
    mt: ManifestTable,
    prefix: str,
    partition_cols,
    table: str | None,
    stats_cols: tuple[str, ...],
    batch_id: int | str | None = None,
    remove_files: list[str] | tuple = (),
    properties: dict | None = None,
    precondition=None,
    group_by: tuple[str, ...] = (),
) -> list[str] | None:
    """The one producer of manifest-table files: write ``df`` under
    ``partitionBy(*partition_cols)`` in one Spark job, move the files
    into ``data/`` under ``prefix``-unique names, and commit them.
    Returns the committed files relative to ``data/``, or None when
    nothing committed: a ``batch_id`` already in the lineage (checked
    before any Spark job runs, so a replayed sink write runs none) or
    every commit aborted.

    The output commits in groups, one :meth:`ManifestTable.commit` per
    distinct value of the ``group_by`` partition columns (a compaction
    pass groups by ``("date_day", "hour")``); with no ``group_by`` it is
    ONE commit. A group's commit adds the written files of that value
    and removes the ``remove_files`` whose partition identity has it,
    with ``batch_id``, ``properties`` and ``precondition`` as
    :meth:`ManifestTable.commit` takes them (a ``batch_id`` belongs to
    one commit, so only single-group producers pass one). Each commit
    lands only while the files it removes are all still live (the
    reference's D2 rule): a retention drop of one hour aborts that
    hour's commit alone, and its written files stay unreferenced
    orphans for maintenance.cleanup_orphans' grace window.

    What every file gets, whoever produced it:

    - the sort: ``SORT_ORDERS[table]`` (the columns of it ``df`` has),
      led by the partition columns. A partitioned write needs its input
      ordered by the partition columns; a sort that starts with them
      already is, so the unplanned write (see ``_WRITE_CONFS``) keeps
      it. The files are then in the table's order and the commit claims
      exactly that order. ``table=None`` (or a table with no configured
      order) writes in input order and claims nothing;
    - ``BLOOM_WRITE_OPTIONS`` and the write confs of
      :func:`stats_visible_writes`;
    - [min, max] stats for ``stats_cols`` from the footers;
    - bloom sidecars for ``POINT_LOOKUP_COLS[table]``, recorded in
      the ``bloom.cols`` table property; a producer without a table
      kind (``table=None``, the z-order rewrite) builds them for the
      columns that property already names;
    - partition identity parsed from the just-written hive layout,
      on-disk bytes, and the schema of the columns inside the files
      (the partition columns stay path-derived)."""
    m = mt.load_manifest()
    if batch_id is not None and batch_id in m["batches"]:
        return None
    parts = list(partition_cols)
    claim = [c for c in SORT_ORDERS.get(table, ()) if c in df.columns]
    if claim:
        df = df.sortWithinPartitions(*parts, *claim)
    attempt = f"{prefix}-{uuid.uuid4().hex[:8]}"
    staging = os.path.join(mt.table_path, "_staging", attempt)
    writer = df.write.mode("overwrite").options(**BLOOM_WRITE_OPTIONS)
    if parts:
        writer = writer.partitionBy(*parts)
    with stats_visible_writes(df.sparkSession):
        writer.parquet(staging)
    rel_files = _stage_into_data(staging, mt.data_dir, attempt)
    if table in POINT_LOOKUP_COLS:
        properties = {
            **(properties or {}), "bloom.cols": ",".join(POINT_LOOKUP_COLS[table]),
        }
    declared = {**m.get("props", {}), **(properties or {})}.get("bloom.cols", "")
    bloom_cols = tuple(c for c in declared.split(",") if c)
    blooms = {}
    if bloom_cols:
        from .blooms import collect_file_blooms

        blooms = collect_file_blooms(mt.table_path, rel_files, bloom_cols)
    stats = (
        collect_file_stats(mt.data_dir, rel_files, stats_cols) if stats_cols else {}
    )
    idents = {
        f: p for f in rel_files if (p := _parse_hive_partition(f)) is not None
    }
    sizes = dict(zip(rel_files, _parallel_files(
        lambda f: os.path.getsize(os.path.join(mt.data_dir, f)), rel_files
    )))
    schema = T.StructType([f for f in df.schema.fields if f.name not in set(parts)])

    # group -> (files it adds, files it removes)
    groups: dict[tuple, tuple[list[str], list[str]]] = (
        {} if group_by else {(): ([], [])}
    )
    # a removed file keeps its group even when it left the manifest
    # since the caller chose it: its path still names its partition, so
    # the group's commit sees it gone and aborts
    recorded = m.get("parts") or {}
    for f in rel_files:
        key = tuple(idents.get(f, {}).get(c) for c in group_by)
        groups.setdefault(key, ([], []))[0].append(f)
    for f in remove_files:
        ident = recorded.get(f) or _parse_hive_partition(f) or {}
        key = tuple(ident.get(c) for c in group_by)
        groups.setdefault(key, ([], []))[1].append(f)

    def of(entries: dict, files: list[str]) -> dict:
        return {f: entries[f] for f in files if f in entries}

    def inputs_live(removes: list[str]):
        need = set(removes)
        return lambda cur: need.issubset(cur["files"]) and (
            precondition is None or precondition(cur)
        )

    committed: list[str] | None = None
    for adds, removes in groups.values():
        if mt.commit(
            adds,
            remove_files=removes,
            batch_id=batch_id,
            stats=of(stats, adds),
            properties=properties,
            precondition=inputs_live(removes),
            partitions=of(idents, adds),
            sizes=of(sizes, adds),
            sort_orders={f: claim for f in adds} if claim else None,
            blooms=of(blooms, adds),
            schema=schema,
        ):
            committed = (committed or []) + adds
    return committed


def write_batch_manifest(
    df: DataFrame,
    table_path: str,
    table: str,
    batch_id: int | str,
    partition_cols: tuple[str, ...] = ("date_day", "hour"),
    stats_cols: tuple[str, ...] = ("timestamp",),
    bucket_by: tuple[str, int] | None = None,
) -> bool:
    """foreachBatch sink with manifest commit: idempotent under
    at-least-once replay even when the replay produces a different file
    count (each attempt's names carry a fresh attempt id; only the
    committing attempt's files enter the manifest; the rest are
    never-referenced orphans, reclaimed by maintenance.cleanup_orphans
    after its grace window). Returns True if this call committed; a
    batch id already committed returns False without running a Spark
    job.

    ``bucket_by=(col, n)`` adds the hash-bucket hive partition column
    (the Iceberg bucket-transform analog) and records the bucket spec in
    table properties; with the bloom sidecars of ``POINT_LOOKUP_COLS``
    it is the point-lookup pruning substrate
    :meth:`ManifestTable.pruned_files_point` reads. The write and commit
    are :func:`_write_commit`'s."""
    from .blooms import bucket_expr, bucket_part_name

    properties: dict[str, str] = {}
    if bucket_by is not None:
        bcol, n = bucket_by
        part = bucket_part_name(bcol)
        df = df.withColumn(part, bucket_expr(bcol, n))
        partition_cols = (*partition_cols, part)
        properties.update({
            "bucket.col": bcol, "bucket.n": str(n), "bucket.part": part,
        })
    return _write_commit(
        df, ManifestTable(table_path), f"batch-{batch_id}", partition_cols,
        table, stats_cols, batch_id=batch_id, properties=properties or None,
    ) is not None


def compact_partitions_manifest(
    spark: SparkSession,
    table_path: str,
    table: str,
    keys,
    max_input_bytes: int | None = None,
) -> dict[tuple[str, int], int]:
    """Compact the (day, hour) partitions ``keys`` in one pass under
    snapshot isolation: ONE Spark job writes one sorted replacement file
    per partition (one per bucket on a ``bucket_by`` table), then ONE
    manifest commit per partition swaps its files in. Concurrent readers
    on a previous version keep reading the old files (deleted only by
    expire_snapshots); there is no window where a partition is absent.
    Returns the number of replacement files committed per key, 0 when
    the partition had nothing to do OR its commit aborted (see below).

    Input selection is manifest-derived (recorded partition structs,
    hive-path fallback), never a path-prefix string match — the
    reference compactor rework's #930 rule. With ``max_input_bytes``,
    only files BELOW that size are rewritten and at-target files stay
    byte-for-byte untouched: at 100 TB, re-coalescing an already-
    compacted multi-GB file every cycle is pure write amplification,
    and the reference's D3 candidacy spec scopes job inputs to small
    files for exactly this reason.

    Each partition's commit carries an input-scoped precondition (the
    reference's D2 delta-commit conflict rule, :func:`_write_commit`):
    it lands iff every input file of THAT partition is still live.
    Appends elsewhere — other partitions, or NEW files in this partition
    committed while the rewrite ran — never conflict (they're not in the
    input set and survive the commit untouched). A retention drop of a
    partition DOES conflict and aborts that partition's commit alone,
    because re-adding its replacement files would resurrect rows
    retention already dropped; those files are then unreferenced orphans
    for maintenance.cleanup_orphans' grace window, and the other
    partitions of the pass still land."""
    keys = [(str(d), int(h)) for d, h in keys]
    mt = ManifestTable(table_path)
    m = mt.load_manifest()
    sizes = mt.file_sizes(manifest=m)
    wanted = set(keys)
    old = {
        f: key for f, p in mt.file_partitions(strict=True, manifest=m).items()
        if (key := (p.get("date_day"), p.get("hour"))) in wanted
        and (max_input_bytes is None or sizes.get(f, 0) < max_input_bytes)
    }
    if not old:
        return dict.fromkeys(keys, 0)
    df = mt.scan(spark, m, [os.path.join(mt.data_dir, f) for f in old])
    # a bucketed table keeps its layout: the replacement files land in
    # the hour's bucket directories like every other producer's, so the
    # hive layout stays uniform and bucket pruning still applies
    bucket = m.get("props", {}).get("bucket.part")
    parts = ["date_day", "hour", *([bucket] if bucket in df.columns else [])]
    # one output file per directory: a small pass (or one partition)
    # needs no shuffle, since the one task that writes the files reads
    # the inputs itself; a large one spreads whole directories over the
    # cores, each directory's rows in one task
    if (
        len(set(old.values())) == 1
        or sum(sizes.get(f, 0) for f in old) <= SMALL_SCAN_BYTES
    ):
        df = df.coalesce(1)
    else:
        df = df.repartition(*parts)
    files = _write_commit(
        df, mt, "compact", parts, table, ("timestamp",),
        remove_files=list(old), group_by=("date_day", "hour"),
    )
    written = Counter(
        (p.get("date_day"), p.get("hour"))
        for f in files or () if (p := _parse_hive_partition(f))
    )
    return {k: written[k] for k in keys}


def compact_partition_manifest(
    spark: SparkSession,
    table_path: str,
    table: str,
    day: str,
    hour: int,
    max_input_bytes: int | None = None,
) -> int:
    """Compact one (day, hour) partition: the one-key pass of
    :func:`compact_partitions_manifest`, returning its replacement file
    count (0 when there was nothing to do or the commit aborted)."""
    return compact_partitions_manifest(
        spark, table_path, table, [(day, hour)], max_input_bytes
    )[(str(day), int(hour))]


def zorder_compact_table(
    spark: SparkSession,
    table_path: str,
    cols: list[str],
    n_files: int,
    stats_cols: tuple[str, ...] = (),
) -> int:
    """Rewrite the WHOLE table clustered on ``cols`` by z-order (the
    Delta OPTIMIZE ZORDER BY / Iceberg zorder sort-order analog), under
    the same snapshot-isolated delta-commit contract as partition
    compaction: stage replacement files, then ONE commit that swaps
    them in iff every input file is still live. After the rewrite the
    existing stats pruning (read(between=), pruned_files_multi) bites
    on EVERY clustered column at once — single- and multi-column range
    predicates all skip files.

    Column codes are derived from the live data in one bounded agg:
    numeric/timestamp columns scale by their global [min, max];
    string columns order by their distinct vocabulary (collected —
    intended for bounded-cardinality dimensions like service/type, the
    columns worth clustering on in the first place). Stats are recorded
    for ``cols`` + ``stats_cols`` so the pruning has the evidence.

    Returns replacement file count, 0 when empty or the commit aborted
    (a concurrent retention/compaction conflict — staged files become
    cleanup_orphans fodder, same as the partition compactor)."""
    from pyspark.sql import functions as F

    from .zorder import linear_code, vocab_code, zorder_rewrite

    mt = ManifestTable(table_path)
    m = mt.load_manifest()
    old = list(m["files"])
    if not old:
        return 0
    df = mt.scan(spark, m, [os.path.join(mt.data_dir, f) for f in old])
    # hive partition columns are path-derived; a flat rewrite must
    # re-materialize them as ordinary columns (the scan already did)
    codes = []
    for c in cols:
        dtype = dict(df.dtypes)[c]
        if dtype == "string":
            vocab = [r[0] for r in df.select(c).distinct().collect()
                     if r[0] is not None]
            codes.append(vocab_code(F.col(c), vocab))
        else:
            col = F.unix_micros(F.col(c)) if dtype == "timestamp" else F.col(c)
            lo, hi = df.agg(F.min(col), F.max(col)).collect()[0]
            codes.append(linear_code(col, lo, hi))
    # no table order: z-order is a space-filling clustering, not a
    # lexicographic sort on any declared column list, so it claims none
    files = _write_commit(
        zorder_rewrite(df, codes, n_files), mt, "zorder", (), None,
        tuple(dict.fromkeys((*cols, *stats_cols))),
        remove_files=old,
        properties={"zorder.cols": ",".join(cols)},
    )
    return len(files or ())
