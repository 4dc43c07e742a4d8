"""End-to-end pipeline parity for the acquisition + raw-zone path
(A1-A8): synthetic fetch → hive-partitioned write over two ingest dates →
latest-partition pruned read → DOM parse → typed offers. Verifies the
§1.3 fix: "latest" is a DATE comparison, never a filename sort; and that
"latest" is answered from directory names — no Spark job at read time, no
exchange in a staged leaf's plan.
"""

from __future__ import annotations

import datetime as dt
import shutil
import tempfile

import pytest

from e2e_etl_pipeline_spark.pipeline.offers import offers_to_staging_csv, parse_offers
from e2e_etl_pipeline_spark.sources.acquire import ACQUIRE_SCHEMA, fetched_documents
from e2e_etl_pipeline_spark.sources.raw_zone import read_latest, write_raw

TARGETS = [("jjit", "waw", "junior"), ("ppl", "gd", "senior")]


def test_raw_zone_roundtrip_and_latest(spark):
    path = tempfile.mkdtemp(prefix="e2e_raw_zone_")
    try:
        # Two ingests; the ddmmyyyy byte-sort bug would order these wrongly
        # (31012024 > 01082024 lexicographically, but Jan 31 < Aug 1).
        d_old = dt.date(2024, 1, 31)
        d_new = dt.date(2024, 8, 1)
        write_raw(fetched_documents(spark, TARGETS, d_old), path)
        write_raw(fetched_documents(spark, TARGETS, d_new), path)

        latest = read_latest(spark, path)
        dates = {r.ingest_date for r in latest.select("ingest_date").distinct().collect()}
        assert dates == {d_new}

        scoped = read_latest(spark, path, site="jjit", region="waw")
        assert scoped.count() == 1

        # Only the scoped leaf's newest partition is scanned.
        files = scoped.inputFiles()
        assert files and all(
            "/site=jjit/region=waw/" in f and "/ingest_date=2024-08-01/" in f for f in files
        )

        offers = parse_offers(
            latest.select("doc_id", "site", "html")
        )
        got = offers.select("site", "position", "minimum", "maximum", "currency").collect()
        assert len(got) == 6  # 3 offers per site
        by_site = {r.site for r in got}
        assert by_site == {"jjit", "ppl"}
        for r in got:
            assert r.currency == "PLN"
            assert r.minimum is not None and r.minimum <= r.maximum
    finally:
        shutil.rmtree(path, ignore_errors=True)


D_OLD = dt.date(2024, 1, 31)
D_NEW = dt.date(2024, 8, 1)


@pytest.fixture(scope="module")
def zone(spark):
    path = tempfile.mkdtemp(prefix="e2e_raw_zone_")
    write_raw(fetched_documents(spark, TARGETS, D_OLD), path)
    write_raw(fetched_documents(spark, TARGETS, D_NEW), path)
    yield path
    shutil.rmtree(path, ignore_errors=True)


def _job_ids(spark, group: str, action) -> list[int]:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setJobGroup("raw-zone-idle", "idle")
    # The tracker is fed by the async listener bus: drain it first.
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_read_latest_starts_no_spark_job(spark, zone):
    assert _job_ids(spark, "read-latest-all", lambda: read_latest(spark, zone)) == []
    assert _job_ids(
        spark, "read-latest-leaf", lambda: read_latest(spark, zone, "ppl", "gd", "senior")
    ) == []


def test_staged_leaf_plan_has_no_exchange(spark, zone, tmp_path):
    """read_latest → parse_offers → offers_to_staging_csv is one job whose
    executed plan has no shuffle or broadcast exchange."""
    leaf = read_latest(spark, zone, "jjit", "waw", "junior")
    jobs = _job_ids(
        spark,
        "stage-leaf",
        lambda: offers_to_staging_csv(parse_offers(leaf), str(tmp_path / "staged")),
    )
    assert len(jobs) == 1
    store = spark._jsparkSession.sharedState().statusStore()
    plan = store.executionsList().last().physicalPlanDescription()
    assert "Scan parquet" in plan and "MapInPandas" in plan
    assert "Exchange" not in plan  # also matches BroadcastExchange


def test_read_latest_empty_scope_has_acquire_schema(spark, zone):
    want = spark.createDataFrame([], ACQUIRE_SCHEMA).schema
    assert read_latest(spark, zone, site="jjit").schema == want
    for empty in (
        read_latest(spark, zone, site="nosuch"),
        read_latest(spark, zone, site="jjit", region="gd"),
        read_latest(spark, f"{zone}_missing"),
    ):
        assert empty.schema == want
        assert empty.count() == 0


def test_read_latest_ignores_default_partition(spark, tmp_path):
    """A NULL ingest_date lands in __HIVE_DEFAULT_PARTITION__; its name does
    not parse as a date, so it is skipped (as max() skips NULL)."""
    path = str(tmp_path / "zone")
    rows = [
        (1, "jjit", "waw", "junior", D_OLD, "<ul></ul>"),
        (2, "jjit", "waw", "junior", None, "<ul></ul>"),
    ]
    write_raw(spark.createDataFrame(rows, ACQUIRE_SCHEMA), path)
    got = read_latest(spark, path, "jjit").select("doc_id", "ingest_date").collect()
    assert [tuple(r) for r in got] == [(1, D_OLD)]


@pytest.mark.parametrize("region", ["a/b", "x}y,z", "p*q?[r]", "c:d=e%f"])
def test_read_latest_round_trips_escaped_partition_values(spark, tmp_path, region):
    """Spark escapes such values in directory names (a/b → region=a%2Fb);
    the scoped read must find the same directory and return the value."""
    path = str(tmp_path / "zone")
    rows = [
        (1, "jjit", region, "junior", D_OLD, "<ul></ul>"),
        (2, "jjit", region, "junior", D_NEW, "<ul></ul>"),
        (3, "jjit", "other", "junior", D_NEW, "<ul></ul>"),
    ]
    write_raw(spark.createDataFrame(rows, ACQUIRE_SCHEMA), path)
    got = read_latest(spark, path, region=region).select("doc_id", "region", "ingest_date")
    assert [tuple(r) for r in got.collect()] == [(2, region, D_NEW)]
