"""Gold serving layer (README.md:28-41: HDFS processed data +
'fast querying & analytics' store feeding Grafana/Superset).

Materializes curated gold tables from the registry's queries into a
parquet serving area. Dashboards (or a `spark.sql` thrift endpoint,
or a document-store export via foreachBatch) read these instead of
recomputing; the build is idempotent (overwrite per table).

The tables are independent, so they are built concurrently: one
driver thread per table, each building its query and submitting its
write. A gold table is a handful of small jobs, dominated by
driver-side planning and scheduling, which the threads overlap; the
scheduler shares the executors between the jobs. Each thread carries
the caller's job group, local properties and session tags, so
cancelling the caller's group or tag cancels the gold jobs too.
Failure: every table is attempted, the other writes run to
completion, and the first failure (in GOLD_TABLES order) is raised
once all have finished; the tables that were written stay written
(each write is an overwrite, so a rebuild replaces them).
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import SparkSession
from pyspark.util import inheritable_thread_target

from bigdata_project_spark.registry import REGISTRY, _ensure_loaded

# query name -> gold table name
GOLD_TABLES = {
    "events_rate_per_type_day": "gold_event_rates_daily",
    "join_revenue_per_nation": "gold_revenue_per_nation",
    "join_range_price_bands": "gold_price_bands",
    "agg_rollup_region_nation": "gold_supplier_rollup",
    "window_top3_per_segment": "gold_top_customers",
    "text_stats_quality": "gold_doc_quality",
}


def build_gold(spark: SparkSession, sf_dir: str, out_dir: str) -> dict[str, str]:
    """Materialize every gold table concurrently; returns table -> path.
    Raises the first failure after every table was attempted."""
    _ensure_loaded()
    paths = {table: f"{out_dir}/{table}" for table in GOLD_TABLES.values()}

    @inheritable_thread_target(spark)
    def build(query_name: str) -> None:
        df = REGISTRY[query_name].fn(spark, sf_dir)
        df.write.mode("overwrite").parquet(paths[GOLD_TABLES[query_name]])

    with ThreadPoolExecutor(len(GOLD_TABLES)) as pool:
        futures = [pool.submit(build, query_name) for query_name in GOLD_TABLES]
    for f in futures:
        f.result()
    return paths
