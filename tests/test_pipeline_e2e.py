"""EP1 end-to-end (SURVEY.md §3): crawl (fake transport) -> normalize
-> silver -> date-partitioned lake -> read back -> flagship-style
analytics — the reference's whole production DAG, distributed."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bigdata_project_spark.caching import persistent_rdd_ids
from bigdata_project_spark.listings.crawl import crawl_to_dataframe
from bigdata_project_spark.listings.ingest import (
    silver_transform,
    write_lake,
    write_lake_with_quarantine,
)
from bigdata_project_spark.listings.schema import LISTING_SCHEMA
from tests.test_crawl import make_fake_api


def test_crawl_to_lake_to_analytics(spark, tmp_path):
    lake = str(tmp_path / "lake")
    bronze = crawl_to_dataframe(spark, limit_rows=40, fetcher=make_fake_api(45), sleep_s=0)
    silver = silver_transform(bronze)
    write_lake(silver, lake, mode="overwrite")

    back = spark.read.parquet(lake)
    # partition pruning works on the date layout
    assert "ingest_date" in back.columns
    # flagship-style question over the lake: avg price_per_m2 and
    # count per district, ordered (SURVEY §7 step 1)
    top = (
        back.groupBy("district")
        .agg(F.count("*").alias("n"), F.avg("price_per_m2").alias("avg_ppm2"))
        .orderBy(F.desc("n"), "district")
        .collect()
    )
    assert top and top[0]["n"] == back.count()  # single fake district
    # silver invariants: ids unique, event_time populated
    assert back.select("id").distinct().count() == back.count()
    assert back.filter(F.col("event_time").isNull()).count() == 0


def test_silver_quarantine_side_output(spark, tmp_path):
    """Round-8 verdict ask: the r7 audits must ACT in the pipeline,
    not just measure. Poison the crawl corpus with a NaN latitude, a
    year-9999 event time (watermark poison), and a pre-1990 event
    time (the floor-vs-truncate bucketing range); the quarantine gate
    must route exactly those rows to the side output with the right
    reasons, and the lake must hold only rows every downstream tier
    can consume (finite measures, in-window event time)."""
    base = make_fake_api(45)
    poison = {
        103: ("lat_nan",),       # NaN latitude -> nonfinite_measure:lat
        105: ("ts_future",),     # post-2035 sentinel -> ts_out_of_bounds
        107: ("ts_preepoch",),   # 1969 -> ts_out_of_bounds
    }

    def fetcher(url: str):
        r = base(url)
        if isinstance(r, dict) and "ad" in r and r["ad"]["list_id"] in poison:
            kind = poison[r["ad"]["list_id"]][0]
            if kind == "lat_nan":
                r["ad"]["latitude"] = float("nan")
            elif kind == "ts_future":
                # 2036-01-01T00:00Z in ms — past the 2035 validity
                # bound but inside Python datetime's collectable range
                # (a true 9999 sentinel breaks row conversion on
                # collect, which is the point of quarantining it
                # before anything downstream materializes it)
                r["ad"]["list_time"] = 2082758400000
            elif kind == "ts_preepoch":
                r["ad"]["list_time"] = -86400000  # 1969-12-31, ms
        return r

    lake = str(tmp_path / "lake")
    qdir = str(tmp_path / "quarantine")
    bronze = crawl_to_dataframe(spark, limit_rows=40, fetcher=fetcher, sleep_s=0)
    write_lake_with_quarantine(bronze, lake, qdir, mode="overwrite")

    quarantined = {
        r["id"]: r["quarantine_reason"] for r in spark.read.parquet(qdir).collect()
    }
    assert quarantined == {
        103: "nonfinite_measure:lat",
        105: "ts_out_of_bounds",
        107: "ts_out_of_bounds",
    }

    back = spark.read.parquet(lake)
    assert back.filter(F.col("id").isin(103, 105, 107)).count() == 0
    # every surviving row is consumable by the windowed + exact tiers
    assert back.filter(
        F.col("event_time").isNull()
        | (F.col("event_time") < F.lit("1990-01-01").cast("timestamp"))
        | (F.col("event_time") >= F.lit("2035-01-01").cast("timestamp"))
    ).count() == 0
    assert back.filter(
        F.isnan("price_per_m2") | F.isnan("lat") | F.isnan("lng")
    ).count() == 0
    # nothing else was dropped: clean + quarantined partitions the input
    silver_n = silver_transform(bronze).count()
    assert back.count() + len(quarantined) == silver_n


def _parquet_bronze(spark, tmp_path, df):
    """The bronze frame as a file scan, so stage input metrics count it."""
    path = str(tmp_path / "bronze")
    df.write.parquet(path)
    return spark.read.schema(LISTING_SCHEMA).parquet(path)


def _group_input_records(spark, group: str) -> int:
    """Summed inputRecords of the completed stages of a job group's jobs."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    total = 0
    for job_id in sc.statusTracker().getJobIdsForGroup(group):
        for sid in sc.statusTracker().getJobInfo(job_id).stageIds:
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - a skipped stage never ran
                continue
            if st.status().toString() == "COMPLETE":
                total += st.inputRecords()
    return total


def test_quarantine_sinks_scan_once_and_release(spark, tmp_path):
    """Lake and quarantine are filters of ONE silver evaluation: the
    bronze input is read once (not once per sink), and the frame
    persisted for the two writes is released, also when the second
    write fails."""
    crawl = crawl_to_dataframe(spark, limit_rows=200, fetcher=make_fake_api(200), sleep_s=0)
    bronze = _parquet_bronze(spark, tmp_path, crawl)
    n_bronze = bronze.count()
    before = persistent_rdd_ids(spark)
    sc = spark.sparkContext
    sc.setJobGroup("quarantine-sinks", "write_lake_with_quarantine")
    try:
        write_lake_with_quarantine(bronze, str(tmp_path / "lake"), str(tmp_path / "q"), mode="overwrite")
    finally:
        sc._jsc.clearJobGroup()
    # the bronze rows once; each sink's read of the cache adds one input
    # record per cached column batch (one batch per partition here),
    # a handful next to the second full scan the shared frame replaces
    assert n_bronze <= _group_input_records(spark, "quarantine-sinks") < 2 * n_bronze
    assert persistent_rdd_ids(spark) == before

    # second sink fails: its path is a regular file
    occupied = tmp_path / "occupied"
    occupied.write_text("not a directory")
    with pytest.raises(Exception):
        write_lake_with_quarantine(bronze, str(tmp_path / "lake2"), str(occupied))
    assert (tmp_path / "lake2" / "_SUCCESS").exists()  # the first sink was written
    assert persistent_rdd_ids(spark) == before


def _listing(i: int, post_time: int, lat: float = 21.0) -> tuple:
    return (i, f"t{i}", "b", 1000 * i, 50, 20.0 * i, "R", "D", "W", "S", lat, 105.8, None, 1010, post_time, 1)


def test_quarantine_split_partitions_one_silver_evaluation(spark, tmp_path):
    """Two copies of one id with EQUAL post_time, one with a NaN
    latitude (quarantine) and one finite (lake): the total tie-break
    picks the same winner whatever the scan order, so the id lands in
    exactly one sink, and lake + quarantine hold every silver id once."""
    t = 1765504156000
    tie = 7
    others = [_listing(i, t) for i in range(1, 6)]
    nan_copy, finite_copy = _listing(tie, t, float("nan")), _listing(tie, t, 21.5)
    winners = set()
    for n, order in enumerate(([nan_copy, finite_copy], [finite_copy, nan_copy])):
        # one bronze file, the two copies first and in the given order
        d = tmp_path / f"order{n}"
        bronze = _parquet_bronze(spark, d, spark.createDataFrame(order + others, LISTING_SCHEMA).coalesce(1))
        lake, qdir = str(d / "lake"), str(d / "q")
        write_lake_with_quarantine(bronze, lake, qdir, mode="overwrite")
        lake_rows = spark.read.parquet(lake).select("id", "lat").collect()
        q_ids = [r["id"] for r in spark.read.parquet(qdir).select("id").collect()]
        lake_ids = [r["id"] for r in lake_rows]
        assert (lake_ids + q_ids).count(tie) == 1
        assert len(lake_ids) + len(q_ids) == silver_transform(bronze).select("id").distinct().count() == 6
        winners.update(r["lat"] for r in lake_rows if r["id"] == tie)
    # NaN sorts last, so the finite copy wins in both scan orders
    assert winners == {21.5}
