"""Unflushed-data visibility: acknowledged-but-uncommitted batches are
queryable immediately by unioning the hot (resident) store with the cold
committed snapshot — visibility decouples from commit cadence, so the
manifest commit interval becomes a pure storage-shape tuning knob.

Behavior parity with the reference's unflushed-data-visibility change
(openspec/changes/unflushed-data-visibility/proposal.md): every hot batch
gets a per-table MONOTONIC sequence at ack time; every flush commit
records the committed high-water sequence (the watermark) atomically in
the SAME manifest version as the flushed files; the reader snapshots the
hot sequence list BEFORE resolving the cold snapshot, then drops hot
batches at or below the cold watermark. That ordering provably yields no
duplication and no omission across the flush boundary:

- a batch flushed between the hot listing and the manifest read appears
  in both — but the (later-read) manifest's watermark now covers it, so
  the hot copy is dropped: no duplication;
- a batch acked after the hot listing is missing from this read but has
  sequence above any watermark this read can see — later reads get it:
  no omission, normal snapshot semantics.

Spark-first shape: a hot batch is a small parquet directory (one ack =
one file set, KB–MB scale); the hybrid view is
``cold.unionByName(hot_above_watermark)``. At 100 TB the hot store is
bounded by flush cadence (seconds of ingest), so the union adds a
constant small scan regardless of table size; the cold side keeps its
manifest-stats pruning untouched.

First-run experience (per the reference proposal): a table with hot data
but no committed snapshot yet serves hot-only — a new tenant's data is
queryable before the first commit creates the table.
"""

from __future__ import annotations

import errno
import os
import re
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession

from .manifest import (
    BLOOM_WRITE_OPTIONS,
    HOT_DIR,
    SORT_ORDERS,
    ManifestTable,
    collect_file_stats,
    file_schema,
    lifecycle_metadata,
    manifest_table,
    stats_visible_writes,
    _declared_blooms,
    _stage_into_data,
)

WATERMARK_PROP = "hot_watermark"
# \d{8,}: ack formats with {seq:08d}, which prints MORE than 8 digits
# past 99,999,999 — an exactly-8 anchor would make such published
# batches invisible to sequences() forever (never read, never flushed)
_SEQ_RE = re.compile(r"^seq-(\d{8,})$")


class HotStore:
    """Per-table resident-batch store with monotonic ack sequences.

    A sequence is claimed by atomically renaming the written staging
    directory to ``hot/seq-NNNNNNNN`` — ``os.rename`` to an existing
    target raises on POSIX when the target is a non-empty directory, so
    two concurrent ackers can never share a sequence; the loser retries
    with the next number. Readers only ever see fully-written batches
    (the rename is the publish point).
    """

    def __init__(self, table_path: str):
        self.table_path = table_path
        self.hot_dir = os.path.join(table_path, HOT_DIR)

    # ---------------------------------------------------------------- ack

    def sequences(self) -> list[int]:
        """Published hot sequences, ascending. Snapshot this FIRST when
        reading (see module docstring for why the order matters)."""
        if not os.path.isdir(self.hot_dir):
            return []
        out = []
        for name in os.listdir(self.hot_dir):
            m = _SEQ_RE.match(name)
            if m:
                out.append(int(m.group(1)))
        return sorted(out)

    def _seq_path(self, seq: int) -> str:
        return os.path.join(self.hot_dir, f"seq-{seq:08d}")

    def ack(self, df: DataFrame) -> int:
        """Write one hot batch and publish it under the next sequence.
        Returns the claimed sequence. The write is staged under a
        unique temp name and published by one atomic rename — a crashed
        ack leaves only an unpublished ``.tmp-*`` orphan.

        The sequence floor is the COMMITTED WATERMARK, not just the
        surviving directory listing: gc() deletes covered sequence
        directories, and deriving the next sequence from the listing
        alone would re-issue a covered number after a full reclaim —
        the reader's watermark filter would then silently drop the new
        batch (found by the ack→flush→gc→ack property schedule). The
        watermark is the durable record of every sequence that can
        ever have been gc'd, so max(listing, watermark) + 1 can never
        collide with a covered sequence."""
        os.makedirs(self.hot_dir, exist_ok=True)
        staging = os.path.join(self.hot_dir, f".tmp-{uuid.uuid4().hex}")
        try:
            with stats_visible_writes(df.sparkSession):
                df.write.mode("overwrite").parquet(staging)
            seqs = self.sequences()
            floor = max(
                seqs[-1] if seqs else 0, committed_watermark(self.table_path)
            )
            seq = floor + 1
            for _ in range(100_000):
                try:
                    os.rename(staging, self._seq_path(seq))
                    return seq
                except OSError as e:
                    # Only a claimed-sequence collision (rename onto an
                    # existing non-empty directory) is retryable; EACCES /
                    # ENOSPC / EXDEV etc. must surface, not spin forever.
                    if e.errno not in (errno.ENOTEMPTY, errno.EEXIST):
                        raise
                    seq += 1
            raise RuntimeError(
                "hot ack: sequence contention exceeded retry cap"
            )
        except BaseException:
            # A failed ack must not leak its staging directory: nothing
            # else reclaims .tmp-* (gc() only sweeps published seq-*
            # dirs), so crashed-ack orphans would accumulate unboundedly.
            # Best-effort — a process kill still leaves the orphan, which
            # is why only-a-crash leftovers stay documented above.
            shutil.rmtree(staging, ignore_errors=True)
            raise

    # --------------------------------------------------------------- read

    def read_hot(
        self, spark: SparkSession, above: int = -1, seqs: list[int] | None = None
    ) -> DataFrame | None:
        """Union of hot batches with sequence > ``above``. Pass the
        pre-snapshot ``seqs`` list from :meth:`sequences` to keep the
        hot-before-cold ordering contract."""
        use = [s for s in (self.sequences() if seqs is None else seqs) if s > above]
        if not use:
            return None
        # mergeSchema: hot batches may straddle a schema addition; the
        # default single-footer schema pick would silently DROP a column
        # present only in newer batches (the cold union already handles
        # drift via unionByName(allowMissingColumns=True)).
        # Relation memo signed by the sequence tuple: a published batch
        # directory is immutable (the atomic-rename publish point), so
        # the same sequence set is the same relation (catalog.relation_memo).
        from ..catalog import relation_memo

        return relation_memo(
            spark,
            ("hot", self.table_path),
            tuple(use),
            lambda: spark.read.option("mergeSchema", "true")
            .parquet(*[self._seq_path(s) for s in use]),
        )

    # ----------------------------------------------------------------- gc

    def gc(self, watermark: int) -> list[int]:
        """Remove hot batches at or below the committed watermark. Safe
        for current readers: they resolve the current manifest, whose
        watermark is >= this one, and never open dropped sequences. Run
        it AFTER in-flight reads settle (or with a retention delay) —
        a reader pinned to an old manifest version is the one consumer
        that could still want these."""
        dropped = []
        for s in self.sequences():
            if s <= watermark:
                shutil.rmtree(self._seq_path(s), ignore_errors=True)
                dropped.append(s)
        return dropped


def committed_watermark(table_path: str) -> int:
    """The high-water hot sequence covered by the current cold snapshot
    (-1 before any flush commit)."""
    return watermark_of(ManifestTable(table_path).load_manifest())


def watermark_of(manifest: dict) -> int:
    """The committed watermark of an already-loaded manifest version."""
    return int(manifest.get("props", {}).get(WATERMARK_PROP, -1))


def covering_snapshot(table_path: str) -> tuple[ManifestTable, dict] | None:
    """The one hot-before-cold check of the manifest-only readers (the
    tail TopK and point-scan fast paths): ``(mt, manifest)`` when the
    table is manifest-backed and the loaded version's watermark covers
    every published hot batch, so the manifest alone answers exactly
    what :func:`hybrid_read` would; ``None`` otherwise (the caller falls
    back to the hybrid read). The hot sequences snapshot BEFORE the one
    manifest load — a flush landing in between then shows in the
    manifest's watermark (module docstring)."""
    mt = manifest_table(table_path)
    if mt is None:
        return None
    seqs = HotStore(table_path).sequences()  # MUST precede the manifest read
    m = mt.load_manifest()
    if seqs and seqs[-1] > watermark_of(m):
        return None  # hot rows the manifest cannot see
    return mt, m


def hybrid_read(spark: SparkSession, table_path: str) -> DataFrame | None:
    """The querier's hot/cold union at one chokepoint: hot sequence list
    snapshots FIRST, then the cold snapshot and its watermark resolve,
    then hot batches at or below the watermark drop (no dup / no
    omission — module docstring). ``None`` only when the table has
    neither committed files nor hot batches.

    The watermark and the cold file list come from ONE loaded manifest
    version: two independent resolutions would let a flush commit land
    in between, pairing an old watermark with a new file list — every
    row of the just-flushed batches would then appear in BOTH halves of
    the union (the exact duplication the single load rules out).

    The cold half is :meth:`ManifestTable.read`'s memoized relation, one
    partition when small. The union with a hot half is left as it is:
    the hot tier has no production writer yet."""
    store = HotStore(table_path)
    hot_seqs = store.sequences()  # MUST precede the manifest read
    mt = ManifestTable(table_path)
    m = mt.load_manifest()
    cold = mt.read(spark, manifest=m)
    hot = store.read_hot(spark, above=watermark_of(m), seqs=hot_seqs)
    if cold is None:
        return hot
    if hot is None:
        return cold
    return cold.unionByName(hot, allowMissingColumns=True)


def flush_hot(
    spark: SparkSession,
    table_path: str,
    table: str,
    partition_cols: tuple[str, ...] = ("date_day", "hour"),
    stats_cols: tuple[str, ...] = ("timestamp",),
) -> int:
    """Flush every published hot batch into the cold table with ONE
    manifest commit that adds the files AND advances the watermark in
    the same atomic version object. Returns the new watermark (or the
    current one when there is nothing to flush).

    Idempotent under replay: the batch lineage key embeds the flushed
    high-water sequence, so a crashed-and-retried flush of the same
    range commits exactly once; the losing attempt's staged files stay
    orphans for maintenance.cleanup_orphans (the grace-period sweep —
    expire_snapshots deliberately never touches never-referenced
    files). Hot batches are NOT deleted here —
    readers already drop them via the watermark; reclaim is gc()'s job
    (separating visibility from reclaim keeps the flush commit the only
    correctness-critical step).
    """
    store = HotStore(table_path)
    seqs = store.sequences()
    wm = committed_watermark(table_path)
    todo = [s for s in seqs if s > wm]
    if not todo:
        return wm
    hi = max(todo)
    df = store.read_hot(spark, above=wm, seqs=seqs)
    mt = ManifestTable(table_path)
    m = mt.load_manifest()
    batch_id = f"hotflush-{hi}"
    if batch_id in m["batches"]:
        # replayed range already committed — but a LATER flush may have
        # advanced the watermark past hi since our read; report the real
        # committed mark, consistent with the CAS-abort branch below
        return max(hi, committed_watermark(table_path))
    attempt = uuid.uuid4().hex[:8]
    staging = os.path.join(table_path, "_staging", f"{batch_id}-{attempt}")
    sort_cols = [c for c in SORT_ORDERS.get(table, []) if c in df.columns]
    sorted_df = df.sortWithinPartitions(*sort_cols) if sort_cols else df
    parts = [c for c in partition_cols if c in df.columns]
    writer = sorted_df.write.mode("overwrite")
    if parts:
        writer = writer.partitionBy(*parts)
    for k, v in BLOOM_WRITE_OPTIONS.items():
        writer = writer.option(k, v)
    with stats_visible_writes(df.sparkSession):
        writer.parquet(staging)
    rel_files = _stage_into_data(staging, mt.data_dir, f"{batch_id}-{attempt}")
    use_stats = [c for c in stats_cols if c in df.columns]
    stats = (
        collect_file_stats(mt.data_dir, rel_files, tuple(use_stats))
        if use_stats
        else None
    )
    committed = mt.commit(
        rel_files,
        batch_id=batch_id,
        stats=stats,
        # the flush is a producer like the batch sink and the compactor:
        # when the table declares bloom columns, its files get sidecars
        # too (a flushed file without one is still correct — just never
        # bloom-pruned — but the declared contract is better kept
        # uniform)
        blooms=_declared_blooms(table_path, m, rel_files),
        # the merged hot schema (a column added in a newer hot batch
        # joins the recorded schema by name)
        schema=file_schema(df, parts),
        # lifecycle metadata, same as write_batch_manifest: partition
        # identity from this writer's own just-written layout, on-disk
        # bytes for size-aware candidacy, and the sort claim ONLY when
        # this flush actually sorted (declared-sort-orders honesty)
        **lifecycle_metadata(mt.data_dir, rel_files, sort_cols),
        properties={WATERMARK_PROP: hi},
        # CAS on the watermark: only commit if it is still the one this
        # flush planned against. A racing flush that advanced it first
        # already covers some (or all) of our sequences — committing ours
        # anyway would re-add those batches' rows and possibly regress
        # the watermark. The staged files become cleanup_orphans fodder;
        # any sequences the winner did NOT cover remain hot (still
        # readable via the watermark filter) and the next flush picks
        # them up.
        precondition=lambda cur: watermark_of(cur) == wm,
    )
    return hi if committed else committed_watermark(table_path)
