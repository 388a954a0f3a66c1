"""Gold layer build: materialized tables equal their source queries
and round-trip through parquet; plus the CSV sink parity row
(SURVEY.md §2.1) — header + quoted multi-line text survives."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from bigdata_project_spark import gold
from bigdata_project_spark.gold import GOLD_TABLES, build_gold
from bigdata_project_spark.registry import REGISTRY, _ensure_loaded

_ensure_loaded()


def test_build_gold_roundtrip(spark, sf_dir, tmp_path):
    paths = build_gold(spark, sf_dir, str(tmp_path / "gold"))
    assert set(paths) == set(GOLD_TABLES.values())
    key = lambda row: tuple(str(v) for v in row)  # noqa: E731  (rollup rows contain None)
    for query_name, table in GOLD_TABLES.items():
        back = spark.read.parquet(paths[table])
        src = REGISTRY[query_name].fn(spark, sf_dir)
        assert sorted(map(tuple, back.collect()), key=key) == sorted(map(tuple, src.collect()), key=key), table


def _job_ids(spark) -> set[int]:
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    jobs = jsc.statusStore().jobsList(None)
    return {jobs.apply(i).jobId() for i in range(jobs.size())}


def test_build_gold_jobs_run_in_callers_job_group(spark, sf_dir, tmp_path):
    """The concurrent builds run on pool threads; every job they submit
    still carries the caller's job group (so cancelling the group
    cancels the gold build)."""
    sc = spark.sparkContext
    before = _job_ids(spark)
    sc.setJobGroup("gold-build", "build_gold")
    try:
        build_gold(spark, sf_dir, str(tmp_path / "gold"))
    finally:
        sc._jsc.clearJobGroup()
    gold_jobs = _job_ids(spark) - before
    assert gold_jobs
    assert gold_jobs <= set(sc.statusTracker().getJobIdsForGroup("gold-build"))


def test_build_gold_failure_raises_after_other_tables(spark, sf_dir, tmp_path, monkeypatch):
    """A failing table raises from build_gold, and does not stop the
    other tables from being written."""
    tables = {"no_such_query": "gold_broken", **GOLD_TABLES}
    monkeypatch.setattr(gold, "GOLD_TABLES", tables)
    out = tmp_path / "gold"
    with pytest.raises(KeyError, match="no_such_query"):
        build_gold(spark, sf_dir, str(out))
    for table in GOLD_TABLES.values():
        assert os.path.exists(out / table / "_SUCCESS"), table
    assert not os.path.exists(out / "gold_broken")


def test_csv_sink_multiline_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "one line", 5.0), (2, "two\nlines, with comma", None), (3, 'quote " inside', 7.5)],
        ["id", "description", "score"],
    )
    out = str(tmp_path / "csv")
    df.coalesce(1).write.option("header", True).option("escape", '"').csv(out)
    back = (
        spark.read.option("header", True)
        .option("multiLine", True)
        .option("escape", '"')
        .schema(df.schema)
        .csv(out)
    )
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))
    # null round-trips as empty string -> null (reference CSV convention)
    assert back.filter(F.col("score").isNull()).count() == 1
