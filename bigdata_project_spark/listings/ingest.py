"""Listing ingest + silver transform (SURVEY.md §2.1-2.2, §3).

Re-expresses the reference's crawl-ETL (EP1, CrawlData.py:103-146) as
a distributed pipeline: landing-zone JSON/CSV -> `spark.read` with an
enforced schema (bronze) -> project/derive/clean (silver) ->
`partitionBy("ingest_date")` parquet (gold/lake). The network-bound
crawl loop itself is an ingest-edge concern kept outside the engine
(SURVEY §2.1: at scale the crawler writes a landing zone that these
readers consume).

Exact-parity notes (SURVEY §7 hard parts):
- price_per_m2 guard replicates Python truthiness (`price and area
  and area > 0`, CrawlData.py:67-69): price==0 or area==0 -> null;
- images = len(ad.images or []) (CrawlData.py:87): Spark's
  size(NULL) = -1, so coalesce to an empty array first;
- CSV needs multiLine+escape: 292/317 corpus descriptions contain
  newlines (a multiLine CSV scan is not splittable — at scale the
  JSON/parquet path is the production one, CSV kept for parity).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from bigdata_project_spark.listings.schema import LISTING_SCHEMA


def read_listings_json(spark: SparkSession, path: str) -> DataFrame:
    """Per-record JSON files (CrawlData.py:129-134 wrote one pretty
    JSON object per listing; Spark's JSON source handles multiline
    objects one-file-per-record with multiLine=true)."""
    return spark.read.schema(LISTING_SCHEMA).option("multiLine", True).json(path)


def read_listings_csv(spark: SparkSession, path: str) -> DataFrame:
    """Run-level CSV with header + quoted multi-line text fields
    (csv.DictWriter output, CrawlData.py:97-100)."""
    return (
        spark.read.schema(LISTING_SCHEMA)
        .option("header", True)
        .option("multiLine", True)
        .option("escape", '"')
        .csv(path)
    )


def extract_from_api(raw: DataFrame) -> DataFrame:
    """Normalize the nested upstream API payload -> flat listing record
    — the distributed form of `extract_one` (CrawlData.py:60-88):
    struct-field projection + rename, guarded derive, malformed drop.
    """
    ad = F.col("ad")
    price, area = ad["price"], ad["area"]
    return raw.filter(ad.isNotNull()).select(  # guard: payload without "ad" dropped (:62-63)
        ad["list_id"].alias("id"),
        ad["subject"].alias("title"),
        ad["body"].alias("description"),
        price.alias("price"),
        area.alias("area_m2"),
        # Python-truthiness parity (:67-69): 0 is falsy -> null
        F.when(
            price.isNotNull() & (price != 0) & area.isNotNull() & (area > 0),
            price.cast("double") / area,
        ).alias("price_per_m2"),
        ad["region_name"].alias("region"),
        ad["area_name"].alias("district"),
        ad["ward_name"].alias("ward"),
        ad["street_name"].alias("street"),
        ad["latitude"].alias("lat"),
        ad["longitude"].alias("lng"),
        ad["property_type"].alias("property_type"),
        ad["category"].alias("category"),
        ad["list_time"].alias("post_time"),
        # len(ad.images or []) parity (:87): size(NULL) is -1 in Spark
        F.size(F.coalesce(ad["images"], F.array().cast("array<string>"))).alias("images"),
    )


def silver_transform(df: DataFrame) -> DataFrame:
    """Clean/standardize a bronze listing frame (EP1 steps 4-5 +
    the declared streaming 'Clean data / Transformations' stage,
    README.md:20-21): drop malformed, dedup by id, event-time column
    from epoch millis.

    Dedup keeps, per id, the latest post_time (cross-crawl re-posts
    keep the newest copy); copies with equal post_time are ordered by
    every remaining column, ascending with NULLs first and NaN last
    (Spark's ordering), so the winner is the same whatever order the
    scan yields the copies in. Only copies equal in every column (one
    row, however many times it was read) remain interchangeable."""
    tie_break = [F.col(c).asc_nulls_first() for c in df.columns if c not in ("id", "post_time")]
    by_latest = W.partitionBy("id").orderBy(F.desc_nulls_last("post_time"), *tie_break)
    deduped = (
        df.filter(F.col("id").isNotNull())
        .withColumn("_rn", F.row_number().over(by_latest))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    return deduped.withColumn("event_time", F.timestamp_millis(F.col("post_time"))).withColumn(
        "ingest_date", F.to_date(F.col("event_time"))
    )


def silver_flagged(df: DataFrame) -> DataFrame:
    """silver_transform plus the quarantine reason column (NULL on
    clean rows): the r7 audit gates as a split (round 8), the one frame
    both sinks of the quarantine gate are filtered from
    (quarantine.split_flagged). Rows with out-of-window/NULL event
    time (watermark poison; the range where bucketing idioms disagree)
    or NaN/Inf in a declared measure (exact-sum tier poison) get a
    reason. Same gate the registered silver_quarantine_split query
    summarizes over the testbed."""
    from bigdata_project_spark.quarantine import REASON_COL, quarantine_reason

    # only the DOUBLE measures can hold NaN/Inf — price/area_m2 are
    # LongType by schema and cannot be non-finite
    reason = quarantine_reason(
        F.col("event_time"),
        {
            "price_per_m2": F.col("price_per_m2"),
            "lat": F.col("lat"),
            "lng": F.col("lng"),
        },
    )
    return silver_transform(df).withColumn(REASON_COL, reason)


def write_lake(df: DataFrame, path: str, mode: str = "append") -> None:
    """Gold sink: date-partitioned parquet lake (the scalable form of
    the reference's data_input/house/{date}/ layout, CrawlData.py:111-113
    + the declared HDFS sink, README.md:28-33)."""
    df.write.mode(mode).partitionBy("ingest_date").parquet(path)


def write_lake_with_quarantine(df: DataFrame, path: str, quarantine_path: str,
                               mode: str = "append") -> None:
    """Gold sink with the quarantine side output: clean rows land in
    the date-partitioned lake, flagged rows (with quarantine_reason)
    in a flat side table for triage/restore.

    Both sinks are filters of one silver evaluation: the flagged
    silver frame (bronze scan + the id dedup exchange + the reason
    column) is persisted, filled once and read by both writes, so the
    input is scanned once and shuffled once. Without the persist each write would re-run the
    scans and the dedup exchange. The cache lives only inside this
    call and is released in a `finally`, also when a write fails. Cost
    at scale: silver is held at persist()'s default level
    (MEMORY_AND_DISK_DESER), so
    a 100 TB silver spills to the executors' local disks between the
    two writes — one write and one read of silver on local disk,
    instead of a second scan of the landing zone and a second full
    shuffle. Output file count: a cached plan keeps its output
    partitioning (AQE does not coalesce it while
    spark.sql.optimizer.canChangeCachedPlanOutputPartitioning is off,
    its default), so the lake gets up to one file per shuffle
    partition and date."""
    from bigdata_project_spark.quarantine import split_flagged

    flagged = silver_flagged(df).persist()
    try:
        clean, quarantined = split_flagged(flagged)
        write_lake(clean, path, mode=mode)
        quarantined.write.mode(mode).parquet(quarantine_path)
    finally:
        flagged.unpersist()
