"""Salted aggregation + tenant session tests."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from signaldb_spark.catalog import load_table
from signaldb_spark.operators.skew import salted_aggregate, salted_avg
from signaldb_spark.tenancy import TenantSession
from signaldb_spark.testing import write_signal_tables

SF = "/root/testdata/sf0.001"


def test_salted_count_matches_plain(spark):
    e = load_table(spark, SF, "events")
    plain = {
        (r.event_type): r.n
        for r in e.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    salted = {
        (r.event_type): r.value
        for r in salted_aggregate(e, ["event_type"], None, "count").collect()
    }
    assert salted == plain


def test_salted_sum_and_avg_match_plain(spark):
    e = load_table(spark, SF, "events")
    plain = {
        r.event_type: (round(r.s, 6), round(r.a, 6))
        for r in e.groupBy("event_type")
        .agg(F.sum("value").alias("s"), F.avg("value").alias("a"))
        .collect()
    }
    s = {
        r.event_type: round(r.value, 6)
        for r in salted_aggregate(e, ["event_type"], "value", "sum").collect()
    }
    a = {
        r.event_type: round(r.value, 6)
        for r in salted_avg(e, ["event_type"], "value").collect()
    }
    assert {k: v[0] for k, v in plain.items()} == s
    assert {k: v[1] for k, v in plain.items()} == a


def test_salted_spreads_hot_key(spark):
    """The phase-1 shuffle key must include the salt: a single hot key
    produces multiple partial rows."""
    e = load_table(spark, SF, "events")
    hot = e.withColumn("k", F.lit("hot"))
    salted = hot.withColumn("_salt", (F.rand(seed=42) * 16).cast("int"))
    partials = salted.groupBy("k", "_salt").count().count()
    assert partials > 4  # hot key spread over multiple salt buckets


@pytest.fixture(scope="module")
def tenant_base(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("tenants"))
    write_signal_tables(spark, base, tenant="acme", dataset="prod")
    return base


def test_tenant_session_views_and_cap(spark, tenant_base):
    ts = TenantSession(spark, tenant_base, "acme", "prod")
    assert ts.table("logs") is not None
    n = ts.sql("SELECT count(*) AS n FROM logs").collect()[0].n
    assert n == 2000
    qualified = ts.sql("SELECT count(*) AS n FROM acme_prod_logs").collect()[0].n
    assert qualified == n
    capped = ts.sql("SELECT * FROM logs", max_rows=10)
    assert capped.count() == 10


def test_missing_tenant_resolves_empty(spark, tenant_base):
    ts = TenantSession(spark, tenant_base, "ghost", "nowhere")
    assert ts.table("logs") is None


def test_no_cross_tenant_leak(spark, tmp_path_factory):
    """Two tenant sessions in one SparkSession: each sql() call resolves
    unqualified names to ITS OWN tenant, regardless of construction or
    call order (the register-once design leaked here)."""
    base = str(tmp_path_factory.mktemp("two_tenants"))
    write_signal_tables(spark, base, tenant="acme", dataset="prod")
    # globex gets a different row count by filtering
    from signaldb_spark.catalog import optional_table, signal_table_path

    acme_logs = optional_table(spark, base, "acme", "prod", "logs")
    acme_logs.filter("service_name = 'api'").write.mode("overwrite").partitionBy(
        "date_day", "hour"
    ).parquet(signal_table_path(base, "globex", "prod", "logs"))

    a = TenantSession(spark, base, "acme", "prod")
    g = TenantSession(spark, base, "globex", "prod")  # constructed after a
    n_a = a.sql("SELECT count(*) AS n FROM logs").collect()[0].n
    n_g = g.sql("SELECT count(*) AS n FROM logs").collect()[0].n
    assert n_a == 2000 and n_g < n_a
    # interleave again: a's view must re-pin to acme
    assert a.sql("SELECT count(*) AS n FROM logs").collect()[0].n == 2000


def _signal_views(spark) -> list[str]:
    """Temp views named after a signal table, bare or tenant-qualified."""
    from signaldb_spark.catalog import SIGNAL_TABLES

    return sorted(
        t.name for t in spark.catalog.listTables()
        if t.isTemporary and any(t.name.endswith(s) for s in SIGNAL_TABLES)
    )


@pytest.fixture(scope="module")
def acme_and_logs_only_globex(spark, tmp_path_factory):
    """``acme`` holds every fixture table; ``globex`` holds only the
    ``api`` service's logs (no traces table)."""
    from signaldb_spark.catalog import optional_table, signal_table_path
    from signaldb_spark.storage.manifest import write_batch_manifest

    base = str(tmp_path_factory.mktemp("acme_globex"))
    write_signal_tables(spark, base, tenant="acme", dataset="prod")
    write_batch_manifest(
        optional_table(spark, base, "acme", "prod", "logs")
        .filter("service_name = 'api'"),
        signal_table_path(base, "globex", "prod", "logs"), "logs",
        batch_id="fixture",
    )
    return base


def test_sql_never_reads_another_tenants_table(spark, acme_and_logs_only_globex):
    """A tenant without a ``traces`` table gets TABLE_OR_VIEW_NOT_FOUND
    for ``traces`` and for another tenant's qualified name, even right
    after that tenant queried both; no signal view outlives a call."""
    from signaldb_spark.api import SignalDBAPI

    base = acme_and_logs_only_globex
    acme = SignalDBAPI(spark, base, "acme", "prod")
    globex = SignalDBAPI(spark, base, "globex", "prod")
    n = acme.sql("SELECT count(*) AS n FROM traces")["data"][0]["n"]
    assert n > 0
    assert acme.sql(
        "SELECT count(*) AS n FROM ACME_PROD_TRACES")["data"][0]["n"] == n
    for query in ("SELECT count(*) AS n FROM traces",
                  "SELECT count(*) AS n FROM acme_prod_traces"):
        out = globex.sql(query)
        assert out["status"] == "error", out
        assert "TABLE_OR_VIEW_NOT_FOUND" in out["error"], out
    assert _signal_views(spark) == []
    assert globex.sql(
        "SELECT count(*) AS n FROM globex_prod_logs")["data"][0]["n"] < 2000


def test_sql_frame_collects_after_its_views_are_dropped(spark, tenant_base):
    """``sql()`` analyzes eagerly, so its frame keeps the resolved tables
    after the call has dropped the views it registered for them."""
    ts = TenantSession(spark, tenant_base, "acme", "prod")
    df = ts.sql("SELECT count(*) AS n FROM logs WHERE service_name IN "
                "(SELECT service_name FROM acme_prod_traces)")
    assert _signal_views(spark) == []
    services = [r[0] for r in ts.table("traces").select("service_name")
                .distinct().collect()]
    want = ts.table("logs").filter(F.col("service_name").isin(services)).count()
    assert want > 0 and df.collect()[0].n == want


def test_interleaved_sql_on_runner_threads_counts_exactly(
        spark, acme_and_logs_only_globex):
    """Two tenants' SQL calls interleave on the runner's threads over one
    SparkSession: each call counts its own tenant's rows."""
    from concurrent.futures import ThreadPoolExecutor

    from signaldb_spark.api import SignalDBAPI
    from signaldb_spark.execution import FairQueryRunner

    base = acme_and_logs_only_globex
    runner = FairQueryRunner(spark, max_concurrent_per_tenant=4)
    apis = {t: SignalDBAPI(spark, base, t, "prod", runner=runner)
            for t in ("acme", "globex")}
    want = {t: api.sql("SELECT count(*) AS n FROM logs")["data"][0]["n"]
            for t, api in apis.items()}
    assert want["acme"] == 2000 and 0 < want["globex"] < 2000

    def count(tenant):
        out = apis[tenant].sql("SELECT count(*) AS n FROM logs")
        return tenant, out["data"][0]["n"] if out["status"] == "success" else out

    with ThreadPoolExecutor(4) as pool:
        got = list(pool.map(count, ["acme", "globex"] * 12))
    assert got == [(t, want[t]) for t in ["acme", "globex"] * 12]
    assert _signal_views(spark) == []
