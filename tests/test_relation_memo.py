"""Signal-relation memoization pins.

The façade's signal tables (manifest snapshot reads, hot-batch unions,
bare parquet dirs) would otherwise re-list and re-infer on every route.
The relation memo is keyed by relation identity (kind, path) and each
entry carries the signature that makes the relation immutable (an
explicit committed file list, a hot-sequence tuple, a whole-tree stat
signature); a changed signature replaces the entry. Values are LAZY
DataFrames only — every action still scans parquet.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from signaldb_spark import catalog
from signaldb_spark.catalog import optional_table, relation_memo
from signaldb_spark.storage.hot import HotStore
from signaldb_spark.storage.manifest import ManifestTable, write_batch_manifest


def _write_plain(spark, path, n=5):
    spark.range(n).select(
        F.col("id"), (F.col("id") * 2).alias("v")
    ).coalesce(1).write.mode("overwrite").parquet(path)


def test_relation_memo_same_key_same_object(spark, tmp_path):
    p = str(tmp_path / "t")
    _write_plain(spark, p)
    a = relation_memo(spark, ("k", p), 1, lambda: spark.read.parquet(p))
    b = relation_memo(spark, ("k", p), 1, lambda: spark.read.parquet(p))
    assert b is a
    c = relation_memo(spark, ("k2", p), 1, lambda: spark.read.parquet(p))
    assert c is not a
    # a new signature under the same identity replaces the entry
    d = relation_memo(spark, ("k", p), 2, lambda: spark.read.parquet(p))
    assert d is not a
    assert catalog._RELATION_MEMO[spark][("k", p)] == (2, d)


def test_optional_table_plain_dir_memo_and_invalidation(spark, tmp_path):
    base = str(tmp_path)
    tp = os.path.join(base, "acme", "prod", "traces")
    _write_plain(spark, tp, n=5)
    a = optional_table(spark, base, "acme", "prod", "traces")
    b = optional_table(spark, base, "acme", "prod", "traces")
    assert b is a, "unchanged signal dir must be the memo hit"
    assert a.count() == 5
    # rewrite the dir → different tree signature → fresh relation
    _write_plain(spark, tp, n=3)
    c = optional_table(spark, base, "acme", "prod", "traces")
    assert c is not a
    assert c.count() == 3


def _batch(spark, n, tag):
    return spark.range(n).select(
        F.col("id"),
        F.lit(tag).alias("s"),
        F.lit("2024-01-01").cast("date").alias("date_day"),
        F.lit(0).alias("hour"),
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("timestamp"),
    )


def test_manifest_read_memo_per_version(spark, tmp_path):
    tp = str(tmp_path / "tbl")
    write_batch_manifest(_batch(spark, 4, "a"), tp, "logs", 1)
    mt = ManifestTable(tp)
    v1 = mt.current_version()
    a = mt.read(spark, version=v1)
    b = mt.read(spark, version=v1)
    assert b is a, "same committed version must be the memo hit"
    # a new commit yields a different file list → different relation
    write_batch_manifest(_batch(spark, 2, "b"), tp, "logs", 2)
    c = mt.read(spark)
    assert c is not a
    assert c.count() == 6 and a.count() == 4


def test_optional_table_one_memo_entry_per_manifest_table(spark, tmp_path):
    """Each commit supersedes the table's relation: the memo replaces
    the entry instead of keeping one per committed file list."""
    base = str(tmp_path)
    tp = os.path.join(base, "acme", "prod", "logs")
    catalog._RELATION_MEMO.pop(spark, None)
    for batch in (1, 2, 3):
        write_batch_manifest(_batch(spark, batch, str(batch)), tp, "logs", batch)
        df = optional_table(spark, base, "acme", "prod", "logs")
        assert df.count() == sum(range(1, batch + 1))
    entries = [
        k for k in catalog._RELATION_MEMO[spark] if str(k[1]).startswith(tp)
    ]
    assert len(entries) == 1, entries


def test_hot_read_memo_keyed_on_sequences(spark, tmp_path):
    tp = str(tmp_path / "tbl")
    store = HotStore(tp)
    df = spark.range(3).select(F.col("id"), F.lit("x").alias("s"))
    store.ack(df)
    a = store.read_hot(spark)
    b = store.read_hot(spark)
    assert b is a
    store.ack(df)
    c = store.read_hot(spark)
    assert c is not a
    assert c.count() == 6


def test_hybrid_read_still_lazy_not_cached_data(spark, tmp_path):
    # the memoized relation must re-scan on every action: deleting the
    # files under it makes the next action fail, proving no data cache
    base = str(tmp_path)
    tp = os.path.join(base, "acme", "prod", "logs")
    _write_plain(spark, tp, n=4)
    df = optional_table(spark, base, "acme", "prod", "logs")
    assert df.count() == 4
    shutil.rmtree(tp)
    try:
        df.count()
        served_from_cache = True
    except Exception:
        served_from_cache = False
    assert not served_from_cache


def test_relation_memo_weakly_keyed_per_session(spark, tmp_path):
    p = str(tmp_path / "t2")
    _write_plain(spark, p)
    relation_memo(spark, ("weak", p), "sig", lambda: spark.read.parquet(p))
    assert spark in catalog._RELATION_MEMO
    assert catalog._RELATION_MEMO[spark][("weak", p)][0] == "sig"


def test_tree_sig_skips_a_file_that_vanishes_mid_walk(tmp_path, monkeypatch):
    """A file a concurrent writer removes between the walk listing it
    and its stat drops out of the signature instead of raising."""
    root = tmp_path / "t"
    (root / "hour=1").mkdir(parents=True)
    for name in ("a.parquet", "b.parquet"):
        (root / "hour=1" / name).write_bytes(b"x")
    gone = str(root / "hour=1" / "b.parquet")
    real_stat = os.stat

    def flaky_stat(path, *args, **kwargs):
        if os.fspath(path) == gone:
            raise FileNotFoundError(path)
        return real_stat(path, *args, **kwargs)

    monkeypatch.setattr(catalog.os, "stat", flaky_stat)
    sig = catalog._tree_sig(str(root))
    assert [e[0] for e in sig] == [os.path.join("hour=1", "a.parquet")]
    # a plain file signs as its own one entry; a vanished one as ()
    kept = str(root / "hour=1" / "a.parquet")
    assert [e[0] for e in catalog._tree_sig(kept)] == ["a.parquet"]
    assert catalog._tree_sig(kept)[0][2] == 1
    assert catalog._tree_sig(gone) == ()
