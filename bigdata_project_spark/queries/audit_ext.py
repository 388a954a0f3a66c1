"""Data-quality auditing + remaining scalar/window families (round
4): referential-integrity checks, column profiling, fixed-bucket
histograms, string formatting, and lag-cumsum sessionization.

These are the queries a warehouse runs ABOUT its data rather than on
it — the QA layer every 100 TB ingest needs before anything
downstream trusts the tables. All deterministic, all DuckDB-oracled.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bigdata_project_spark.registry import query
from bigdata_project_spark.tables import load


@query(
    "qa_referential_integrity",
    oracle="""
    SELECT 'lineitem->orders' AS fk, (
        SELECT COUNT(*) FROM lineitem WHERE NOT EXISTS (
            SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)) AS n_orphans
    UNION ALL
    SELECT 'lineitem->part', (
        SELECT COUNT(*) FROM lineitem WHERE NOT EXISTS (
            SELECT 1 FROM part WHERE p_partkey = l_partkey))
    UNION ALL
    SELECT 'lineitem->supplier', (
        SELECT COUNT(*) FROM lineitem WHERE NOT EXISTS (
            SELECT 1 FROM supplier WHERE s_suppkey = l_suppkey))
    UNION ALL
    SELECT 'orders->customer', (
        SELECT COUNT(*) FROM orders WHERE NOT EXISTS (
            SELECT 1 FROM customer WHERE c_custkey = o_custkey))
    """,
    tags=("qa", "join", "anti"),
)
def qa_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Foreign-key orphan audit across the star schema: one row per
    relationship with its dangling-reference count (all four are 0 on
    healthy data — the query exists to prove it stays 0 after every
    ingest). Each check is a LEFT ANTI join against the referenced
    key set; the dimension-sided ones broadcast, and at 100 TB the
    orders key set for the lineitem check is exactly the semi-join
    AQE already optimizes. The four counts union into one audit
    report so a scheduler runs/alerts on a single query."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    p = load(spark, sf_dir, "part")
    s = load(spark, sf_dir, "supplier")

    def orphans(fact: DataFrame, fk: str, dim: DataFrame, pk: str, label: str) -> DataFrame:
        return (
            fact.join(dim.select(pk), fact[fk] == dim[pk], "left_anti")
            .agg(F.count("*").alias("n_orphans"))
            .select(F.lit(label).alias("fk"), "n_orphans")
        )

    return (
        orphans(li, "l_orderkey", o, "o_orderkey", "lineitem->orders")
        .unionAll(orphans(li, "l_partkey", p, "p_partkey", "lineitem->part"))
        .unionAll(orphans(li, "l_suppkey", s, "s_suppkey", "lineitem->supplier"))
        .unionAll(orphans(o, "o_custkey", c, "c_custkey", "orders->customer"))
    )


@query(
    "qa_column_profile",
    oracle="""
    WITH agg AS (
        SELECT COUNT(*) AS n,
               COUNT(o_custkey) AS nn_cust, COUNT(DISTINCT o_custkey) AS nd_cust,
               COUNT(o_orderstatus) AS nn_status, COUNT(DISTINCT o_orderstatus) AS nd_status,
               COUNT(o_orderpriority) AS nn_prio, COUNT(DISTINCT o_orderpriority) AS nd_prio,
               COUNT(o_totalprice) AS nn_price, COUNT(DISTINCT o_totalprice) AS nd_price
        FROM orders
    )
    SELECT 'o_custkey' AS col, n, nn_cust AS n_nonnull, nd_cust AS n_distinct FROM agg
    UNION ALL SELECT 'o_orderstatus', n, nn_status, nd_status FROM agg
    UNION ALL SELECT 'o_orderpriority', n, nn_prio, nd_prio FROM agg
    UNION ALL SELECT 'o_totalprice', n, nn_price, nd_price FROM agg
    """,
    tags=("qa", "agg", "profile"),
)
def qa_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema profiling: row count, non-null count, and exact
    distinct count per column, in ONE scan — the table-health
    snapshot a catalog shows next to each column. Spark computes all
    the aggregates in a single pass (multiple count-distincts expand
    to one Expand + aggregate, still one scan of the fact) and
    unpivots the 1-row result to (col, n, n_nonnull, n_distinct) rows
    with stack() — no per-column re-scan, which is the difference
    between a profile costing one pass and costing #columns passes at
    100 TB."""
    o = load(spark, sf_dir, "orders")
    agg = o.agg(
        F.count("*").alias("n"),
        F.count("o_custkey").alias("nn_cust"),
        F.count_distinct("o_custkey").alias("nd_cust"),
        F.count("o_orderstatus").alias("nn_status"),
        F.count_distinct("o_orderstatus").alias("nd_status"),
        F.count("o_orderpriority").alias("nn_prio"),
        F.count_distinct("o_orderpriority").alias("nd_prio"),
        F.count("o_totalprice").alias("nn_price"),
        F.count_distinct("o_totalprice").alias("nd_price"),
    )
    return agg.select(
        F.expr(
            "stack(4, "
            "'o_custkey', n, nn_cust, nd_cust, "
            "'o_orderstatus', n, nn_status, nd_status, "
            "'o_orderpriority', n, nn_prio, nd_prio, "
            "'o_totalprice', n, nn_price, nd_price) "
            "AS (col, n, n_nonnull, n_distinct)"
        )
    )


@query(
    "agg_histogram_fixed",
    oracle="""
    SELECT LEAST(CAST(floor(o_totalprice / 50000) AS INT), 9) AS bucket,
           COUNT(*) AS n_orders,
           MIN(o_totalprice) AS min_price,
           MAX(o_totalprice) AS max_price
    FROM orders
    GROUP BY 1
    """,
    tags=("agg", "histogram"),
)
def agg_histogram_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width price histogram (10 x 50k buckets, top bucket
    open-ended): the distribution snapshot dashboards render without
    pulling rows. The bucket id is floor of one double division —
    IEEE-identical cross-engine, no width_bucket dependency — so the
    histogram is a plain group-by that map-side combines to at most
    10 partial rows per task; min/max per bucket ride in the same
    aggregate."""
    o = load(spark, sf_dir, "orders")
    bucket = F.least(F.floor(F.col("o_totalprice") / 50000).cast("int"), F.lit(9))
    return o.groupBy(bucket.alias("bucket")).agg(
        F.count("*").alias("n_orders"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
    )


@query(
    "scalar_string_format",
    oracle="""
    SELECT p_partkey,
           lpad(p_brand, 12, '.') AS brand_padded,
           rpad(p_type, 10, '_') AS type_padded,
           repeat(left(p_name, 3), 2) AS name_echo,
           reverse(p_type) AS type_rev,
           ascii(p_name) AS first_byte,
           chr(CAST(p_partkey % 26 + 65 AS INT)) AS row_letter,
           CAST(instr(p_name, ' ') AS INT) AS space_at,
           right(p_name, 4) AS name_tail
    FROM part
    WHERE p_partkey <= 200
    """,
    tags=("scalar", "string"),
)
def scalar_string_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String formatting family: pad/repeat/reverse/slice/ascii/chr/
    position — the report-formatting surface. All JVM built-ins
    inside codegen (one projection, zero shuffle); every function
    here has byte-identical semantics in DuckDB so the row set
    hash-matches without normalization."""
    p = load(spark, sf_dir, "part").filter(F.col("p_partkey") <= 200)
    return p.select(
        "p_partkey",
        F.lpad("p_brand", 12, ".").alias("brand_padded"),
        F.rpad("p_type", 10, "_").alias("type_padded"),
        F.repeat(F.substring("p_name", 1, 3), 2).alias("name_echo"),
        F.reverse("p_type").alias("type_rev"),
        F.ascii("p_name").alias("first_byte"),
        F.chr((F.col("p_partkey") % 26 + 65).cast("int")).alias("row_letter"),
        F.instr("p_name", " ").cast("int").alias("space_at"),
        F.substring("p_name", -4, 4).alias("name_tail"),
    )


@query(
    "window_session_numbering",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    numbered AS (
        SELECT user_id, ts,
               CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no
        FROM flagged
    )
    SELECT user_id, session_no,
           COUNT(*) AS n_events,
           epoch_us(MIN(ts)) AS start_us,
           epoch_us(MAX(ts)) AS end_us
    FROM numbered
    GROUP BY user_id, session_no
    """,
    tags=("events", "window", "session"),
)
def window_session_numbering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization by lag + running sum — the portable pattern
    (gap > 30 min starts a new session; the cumulative count of
    session starts IS the session id) that works on any engine
    without a session_window primitive, and whose per-user session
    numbers are stable identifiers a downstream join can use
    (session_window's struct keys are not). Complements
    events_session_30m, which exercises Spark's native session
    window.

    Scale: both windows share ONE partitioning (user_id) and ONE sort
    (ts, event_id) — Catalyst plans a single Exchange+Sort and runs
    the lag and the running sum in consecutive Window operators on
    the same sorted partitions. event_id breaks timestamp ties so the
    numbering is engine-deterministic."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            F.lag("ts").over(w).isNull()
            | (F.col("ts") > F.lag("ts").over(w) + F.expr("INTERVAL 30 MINUTES")),
            1,
        )
        .otherwise(0)
        .alias("new_session"),
    )
    numbered = flagged.select(
        "user_id",
        "ts",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("session_no"),
    )
    return numbered.groupBy("user_id", "session_no").agg(
        F.count("*").alias("n_events"),
        F.unix_micros(F.min("ts")).alias("start_us"),
        F.unix_micros(F.max("ts")).alias("end_us"),
    )


@query(
    "qa_key_uniqueness",
    oracle="""
    SELECT 'orders.o_orderkey' AS pk, COUNT(*) AS n_rows,
           COUNT(DISTINCT o_orderkey) AS n_keys,
           COUNT(*) - COUNT(DISTINCT o_orderkey) AS n_dup_rows
    FROM orders
    UNION ALL
    SELECT 'customer.c_custkey', COUNT(*), COUNT(DISTINCT c_custkey),
           COUNT(*) - COUNT(DISTINCT c_custkey) FROM customer
    UNION ALL
    SELECT 'part.p_partkey', COUNT(*), COUNT(DISTINCT p_partkey),
           COUNT(*) - COUNT(DISTINCT p_partkey) FROM part
    UNION ALL
    SELECT 'supplier.s_suppkey', COUNT(*), COUNT(DISTINCT s_suppkey),
           COUNT(*) - COUNT(DISTINCT s_suppkey) FROM supplier
    UNION ALL
    SELECT 'events.event_id', COUNT(*), COUNT(DISTINCT event_id),
           COUNT(*) - COUNT(DISTINCT event_id) FROM events
    UNION ALL
    SELECT 'documents.doc_id', COUNT(*), COUNT(DISTINCT doc_id),
           COUNT(*) - COUNT(DISTINCT doc_id) FROM documents
    UNION ALL
    SELECT 'lineitem.(l_orderkey,l_linenumber)', COUNT(*),
           COUNT(DISTINCT l_orderkey * 1000 + l_linenumber),
           COUNT(*) - COUNT(DISTINCT l_orderkey * 1000 + l_linenumber)
    FROM lineitem
    """,
    tags=("qa", "uniqueness", "audit"),
)
def qa_key_uniqueness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Primary-key uniqueness audit across the lake — the third leg of
    the QA layer (orphans: qa_referential_integrity; distributions:
    qa_column_profile; identity: here). One row per declared key with
    row count, distinct-key count, and the duplicate surplus; the
    composite lineitem key is packed into a single integer
    (l_linenumber < 1000 by TPC-H construction) so the distinct
    aggregates stay single-column in both engines.

    Scale: each leg is one count-distinct aggregate — Spark expands
    it to a two-phase partial/final hash agg on the key; the seven
    one-row results union driver-free. No joins, no windows."""
    defs = [
        ("orders", "o_orderkey", "orders.o_orderkey"),
        ("customer", "c_custkey", "customer.c_custkey"),
        ("part", "p_partkey", "part.p_partkey"),
        ("supplier", "s_suppkey", "supplier.s_suppkey"),
        ("events", "event_id", "events.event_id"),
        ("documents", "doc_id", "documents.doc_id"),
    ]
    parts = []
    for table, key, label in defs:
        t = load(spark, sf_dir, table)
        parts.append(
            t.agg(
                F.count("*").alias("n_rows"),
                F.countDistinct(key).alias("n_keys"),
            ).select(
                F.lit(label).alias("pk"),
                "n_rows",
                "n_keys",
                (F.col("n_rows") - F.col("n_keys")).alias("n_dup_rows"),
            )
        )
    li = load(spark, sf_dir, "lineitem")
    packed = F.col("l_orderkey") * 1000 + F.col("l_linenumber")
    parts.append(
        li.agg(
            F.count("*").alias("n_rows"),
            F.countDistinct(packed).alias("n_keys"),
        ).select(
            F.lit("lineitem.(l_orderkey,l_linenumber)").alias("pk"),
            "n_rows",
            "n_keys",
            (F.col("n_rows") - F.col("n_keys")).alias("n_dup_rows"),
        )
    )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@query(
    "qa_skew_histogram",
    oracle="""
    WITH k AS (
        SELECT 'events.user_id' AS tbl_key, user_id AS k, COUNT(*) AS n
        FROM events GROUP BY 1, 2
        UNION ALL
        SELECT 'lineitem.l_orderkey', l_orderkey, COUNT(*)
        FROM lineitem GROUP BY 1, 2
    )
    SELECT tbl_key,
           LENGTH(BIN(n)) - 1 AS bucket_log2,
           COUNT(*) AS n_keys,
           MIN(n) AS min_count,
           MAX(n) AS max_count
    FROM k
    GROUP BY 1, 2
    """,
    tags=("qa", "skew", "agg"),
)
def qa_skew_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-skew early warning: a log2 histogram of per-key row
    counts for the two hottest join/agg keys. The ops question this
    answers before a 100 TB run: 'is any key so hot that the shuffle
    partition holding it will straggle or spill?' — a bucket far to
    the right of the median bucket is the salting / AQE-skew-join
    trigger (operators/skew.py is the mitigation this query tells
    you to deploy).

    The bucket is floor(log2(n)) computed EXACTLY as integer bit
    length (length of the binary string minus one) — no float log on
    either engine, so bucket edges can't drift by an ulp. Two-level
    aggregation: per-key counts (the usual map-side-combined
    shuffle), then a histogram over the much smaller key-count table.
    """
    ev = (
        load(spark, sf_dir, "events")
        .select(F.lit("events.user_id").alias("tbl_key"), F.col("user_id").alias("k"))
    )
    li = (
        load(spark, sf_dir, "lineitem")
        .select(F.lit("lineitem.l_orderkey").alias("tbl_key"), F.col("l_orderkey").alias("k"))
    )
    per_key = ev.unionAll(li).groupBy("tbl_key", "k").agg(F.count("*").alias("n"))
    return (
        per_key.withColumn("bucket_log2", (F.length(F.bin("n")) - 1).cast("long"))
        .groupBy("tbl_key", "bucket_log2")
        .agg(
            F.count("*").alias("n_keys"),
            F.min("n").alias("min_count"),
            F.max("n").alias("max_count"),
        )
        .orderBy("tbl_key", "bucket_log2")
    )


@query(
    "qa_benford_leading_digit",
    oracle="""
    WITH cents AS (
        SELECT CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS c
        FROM orders WHERE o_totalprice > 0
    ), digits AS (
        SELECT CAST(substring(CAST(c AS VARCHAR), 1, 1) AS BIGINT) AS d FROM cents
    )
    SELECT d AS leading_digit,
           COUNT(*) AS n,
           CAST(COUNT(*) AS DOUBLE) / (SELECT COUNT(*) FROM cents) AS share
    FROM digits GROUP BY 1
    """,
    tags=("qa", "audit", "benford"),
)
def qa_benford_leading_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law audit of order totals: the distribution of
    leading digits, the classic forensic screen for fabricated or
    truncated monetary data (organic amounts lean heavily on leading
    1s and 2s; uniform leading digits are a red flag). The engine
    emits exact digit counts + shares; judging them against the
    Benford curve is the analyst's last step.

    Exactness: the leading digit is the first character of the
    CENTS integer's decimal string — integer-to-string is exact and
    identical in both engines, unlike float log10 (libm boundary
    ulps) or float floor-division (DuckDB's // rounds 9.5e6/1e6 to
    10). One map + one 9-group aggregate; `share` is one double
    division.
    """
    cents = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 0)
        .select(F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("c"))
    )
    digits = cents.select(
        F.substring(F.col("c").cast("string"), 1, 1).cast("long").alias("leading_digit")
    )
    total = cents.agg(F.count("*").alias("total"))
    return (
        digits.groupBy("leading_digit")
        .agg(F.count("*").alias("n"))
        .join(F.broadcast(total))
        .select(
            "leading_digit",
            "n",
            (F.col("n").cast("double") / F.col("total")).alias("share"),
        )
        .orderBy("leading_digit")
    )


@query(
    "qa_drift_split_halves",
    oracle="""
    WITH b AS (
        SELECT event_type,
               CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00' THEN 0 ELSE 1 END AS half
        FROM events
    ), c AS (
        SELECT event_type,
               CAST(SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_first,
               CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_second
        FROM b GROUP BY event_type
    )
    SELECT event_type, n_first, n_second,
           CAST(n_first AS DOUBLE) / (SELECT SUM(n_first) FROM c) AS share_first,
           CAST(n_second AS DOUBLE) / (SELECT SUM(n_second) FROM c) AS share_second
    FROM c
    """,
    tags=("qa", "drift", "audit"),
)
def qa_drift_split_halves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift audit: event-type mix in the first half of
    the month vs the second — the pre-flight for 'did the upstream
    schema/traffic change under me' before retraining or backfilling.
    The engine emits exact counts and per-half shares; a PSI/chi-2
    judgment on top is analyst-side (their log/division chains are
    not portably bit-exact, the counts are).

    Shares are each ONE double division of exact integers —
    IEEE-identical cross-engine. One scan, one 5-group aggregate,
    two 1-row totals broadcast back."""
    ev = load(spark, sf_dir, "events").select(
        "event_type",
        F.when(F.col("ts") < "2024-01-16", F.lit(0)).otherwise(F.lit(1)).alias("half"),
    )
    c = ev.groupBy("event_type").agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).alias("n_first"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).alias("n_second"),
    )
    totals = c.agg(
        F.sum("n_first").alias("t1"), F.sum("n_second").alias("t2")
    )
    return (
        c.join(F.broadcast(totals))
        .select(
            "event_type",
            "n_first",
            "n_second",
            (F.col("n_first").cast("double") / F.col("t1")).alias("share_first"),
            (F.col("n_second").cast("double") / F.col("t2")).alias("share_second"),
        )
        .orderBy("event_type")
    )


@query(
    "qa_derived_column_contract",
    oracle="""
    SELECT 'documents.n_chars = length(text)' AS contract,
           COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN n_chars <> LENGTH(text) THEN 1 ELSE 0 END) AS BIGINT) AS n_violations,
           MIN(CASE WHEN n_chars <> LENGTH(text) THEN doc_id END) AS first_bad_id
    FROM documents
    """,
    tags=("qa", "contract", "audit"),
)
def qa_derived_column_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derived-column contract audit: a stored denormalized column
    (documents.n_chars) re-derived from its source (length(text)) and
    counted for drift — the check that catches a writer whose derive
    logic silently changed (truncation, encoding, trimming) AFTER the
    column was materialized. Zero violations is the contract; the
    first offending id makes a red audit actionable.

    One scan, pure map + global aggregate; the violation flag is
    integer comparison only."""
    d = load(spark, sf_dir, "documents")
    bad = F.col("n_chars") != F.length("text")
    return d.agg(
        F.lit("documents.n_chars = length(text)").alias("contract"),
        F.count("*").alias("n_rows"),
        F.sum(F.when(bad, 1).otherwise(0)).alias("n_violations"),
        F.min(F.when(bad, F.col("doc_id"))).alias("first_bad_id"),
    )


@query(
    "qa_join_skew_forecast",
    oracle="""
    WITH c AS (
        SELECT user_id, COUNT(*) AS n_rows,
               COUNT(*) * COUNT(*) AS pairs
        FROM events GROUP BY user_id
    ),
    tot AS (SELECT CAST(SUM(pairs) AS BIGINT) AS total_pairs, COUNT(*) AS n_keys FROM c),
    top AS (
        SELECT user_id, n_rows, pairs,
               ROW_NUMBER() OVER (ORDER BY pairs DESC, user_id) AS rank
        FROM c
    )
    SELECT t.rank, t.user_id, t.n_rows,
           t.pairs AS pairs_contribution,
           CAST(t.pairs AS DOUBLE) / tot.total_pairs AS share_of_join,
           tot.total_pairs, tot.n_keys
    FROM top t CROSS JOIN tot
    WHERE t.rank <= 5
    """,
    tags=("qa", "skew", "join", "audit"),
)
def qa_join_skew_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-skew forecast: predict a self-join's per-key cost BEFORE
    running it. For the user_id self-join shape (sessionization,
    audience overlap, market-basket pairs), key u contributes exactly
    count(u)² output pairs — so the per-key histogram alone reveals
    the total join cardinality and which hot keys dominate it. The
    report: the 5 worst keys, each with its exact pair contribution
    and share of the whole join, plus the join's total predicted
    pairs and key count. A share >> 1/n_keys says "salt this key or
    let AQE split it" — decided from a cheap aggregate instead of a
    blown-up shuffle at 100 TB.

    Determinism: counts and pair products are exact integers; the
    share is one double division; top-5 ties break on user_id.

    Scale: one map-side combined count per key; the top-5 rides
    TakeOrderedAndProject (never a global row_number over the key
    table); the 1-row totals aggregate broadcasts onto 5 rows."""
    ev = load(spark, sf_dir, "events")
    c = ev.groupBy("user_id").agg(F.count("*").alias("n_rows"))
    c = c.select("user_id", "n_rows", (F.col("n_rows") * F.col("n_rows")).alias("pairs"))
    tot = c.agg(
        F.sum("pairs").alias("total_pairs"), F.count("*").alias("n_keys")
    )
    top = c.orderBy(F.desc("pairs"), F.asc("user_id")).limit(5)
    ranked = top.withColumn(
        "rank",
        F.row_number().over(Window.orderBy(F.desc("pairs"), F.asc("user_id"))),
    )
    return ranked.join(F.broadcast(tot)).select(
        "rank",
        "user_id",
        "n_rows",
        F.col("pairs").alias("pairs_contribution"),
        (F.col("pairs").cast("double") / F.col("total_pairs")).alias("share_of_join"),
        "total_pairs",
        "n_keys",
    )


_NF_LI_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


def _nf_sql_row(table: str, col: str) -> str:
    return f"""
    SELECT '{table}' AS table_name, '{col}' AS column_name,
           COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN isnan({col}) THEN 1 ELSE 0 END) AS BIGINT) AS n_nan,
           CAST(SUM(CASE WHEN {col} = 'Infinity'::DOUBLE THEN 1 ELSE 0 END) AS BIGINT) AS n_posinf,
           CAST(SUM(CASE WHEN {col} = '-Infinity'::DOUBLE THEN 1 ELSE 0 END) AS BIGINT) AS n_neginf,
           CAST(SUM(CASE WHEN {col} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null
    FROM {table}"""


@query(
    "qa_nonfinite_values",
    oracle=" UNION ALL ".join(
        [_nf_sql_row("events", "value")] + [_nf_sql_row("lineitem", c) for c in _NF_LI_COLS]
    ),
    tags=("qa", "agg", "profiling"),
)
def qa_nonfinite_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-finite-value audit over every double measure column: one
    row per (table, column) with NaN / +Inf / -Inf / NULL counts.

    This is a load-bearing precondition check, not a profiling
    nicety: the engine's exact-double-sum discipline (dsum) routes
    aggregation through DECIMAL so Spark and any replaying engine
    produce bit-identical totals regardless of partitioning — and
    DECIMAL cannot represent non-finite values. The engines disagree
    on the failure mode: DuckDB raises on CAST(NaN/Inf AS DECIMAL)
    but Spark (even under ANSI) silently NULLs it, so dsum/davg/dcast
    carry an explicit raise_error guard (exact._finite_or_error) to
    fail loudly instead of shaving totals invisibly. At 100 TB one
    bad double must fail the job, so this audit runs at the
    bronze -> silver boundary and gates the exact-sum tier; rows it
    flags are quarantined upstream (see SCALE.md "Non-finite
    doubles"; the gate -> quarantine -> green loop is tested
    end-to-end in tests/test_degenerate_input.py).

    Scale: one map-side combined aggregate pass per table (all four
    lineitem columns' metrics computed in a single scan, unpivoted
    driver-free with stack); output is O(#columns) rows."""

    def flags(c: str) -> list:
        col = F.col(c)
        return [
            F.sum(F.when(F.isnan(col), 1).otherwise(0)).alias(f"{c}_nan"),
            F.sum(F.when(col == float("inf"), 1).otherwise(0)).alias(f"{c}_pinf"),
            F.sum(F.when(col == float("-inf"), 1).otherwise(0)).alias(f"{c}_ninf"),
            F.sum(F.when(col.isNull(), 1).otherwise(0)).alias(f"{c}_null"),
        ]

    ev = (
        load(spark, sf_dir, "events")
        .agg(F.count("*").alias("n_rows"), *flags("value"))
        .select(
            F.lit("events").alias("table_name"),
            F.lit("value").alias("column_name"),
            "n_rows",
            F.col("value_nan").alias("n_nan"),
            F.col("value_pinf").alias("n_posinf"),
            F.col("value_ninf").alias("n_neginf"),
            F.col("value_null").alias("n_null"),
        )
    )
    li_aggs = [a for c in _NF_LI_COLS for a in flags(c)]
    stack_args = ", ".join(
        f"'{c}', {c}_nan, {c}_pinf, {c}_ninf, {c}_null" for c in _NF_LI_COLS
    )
    li = (
        load(spark, sf_dir, "lineitem")
        .agg(F.count("*").alias("n_rows"), *li_aggs)
        .select(
            F.lit("lineitem").alias("table_name"),
            F.col("n_rows"),
            F.expr(
                f"stack({len(_NF_LI_COLS)}, {stack_args}) AS (column_name, n_nan, n_posinf, n_neginf, n_null)"
            ),
        )
        .select(
            "table_name", "column_name", "n_rows", "n_nan", "n_posinf", "n_neginf", "n_null"
        )
    )
    return ev.unionByName(li)


@query(
    "qa_nonfinite_embeddings",
    oracle="""
    SELECT 'embeddings' AS table_name, 'embedding' AS column_name,
           COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN len(list_filter(embedding, x -> isnan(x))) > 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_vec_nan,
           CAST(SUM(CASE WHEN len(list_filter(embedding, x -> isinf(x))) > 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_vec_inf,
           CAST(SUM(CASE WHEN embedding IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_vec_null,
           CAST(SUM(CASE WHEN embedding IS NOT NULL
                          AND len(list_filter(embedding, x -> x <> 0.0)) = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_vec_zero
    FROM embeddings
    """,
    tags=("qa", "agg", "profiling", "similarity"),
)
def qa_nonfinite_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-health audit for the similarity tier: counts of
    embedding vectors containing NaN, containing ±Inf, NULL vectors,
    and all-zero vectors (round 7 — completes the non-finite posture
    of qa_nonfinite_values for the ANN/kNN family).

    Why load-bearing: a NaN entry makes every cosine against that
    vector NaN; NaN sorts GREATEST in both engines, so one poisoned
    vector silently occupies rank 1 of every top-k it reaches — worse
    than a crash. Zero vectors make cosine 0/0 (the r6 zero-norm
    guards exclude them explicitly). At 100 TB this audit runs at the
    embedding-ingest boundary and gates the similarity tier the same
    way qa_nonfinite_values gates the exact-sum tier: rows flagged
    here are quarantined upstream.

    Scale: ONE map-side combined pass, no explode — per-row flags via
    array EXISTS (JVM higher-order functions), then a single global
    aggregate; output is one row."""
    e = load(spark, sf_dir, "embeddings")
    emb = F.col("embedding")
    has_nan = F.exists(emb, lambda x: F.isnan(x))
    has_inf = F.exists(emb, lambda x: F.abs(x) == F.lit(float("inf")))
    # coalesce(exists, false): an all-NULL-element vector yields NULL
    # from EXISTS under three-valued logic, but DuckDB's list_filter
    # drops NULL-predicate elements (len 0 -> zero-vector) — treat the
    # no-nonzero-evidence case as zero-vector in both engines (ADVICE
    # r7: the divergence was real but untested)
    is_zero = emb.isNotNull() & ~F.coalesce(
        F.exists(emb, lambda x: x != 0.0), F.lit(False)
    )
    return e.agg(
        F.count("*").alias("n_rows"),
        F.sum(F.when(has_nan, 1).otherwise(0)).alias("n_vec_nan"),
        F.sum(F.when(has_inf, 1).otherwise(0)).alias("n_vec_inf"),
        F.sum(F.when(emb.isNull(), 1).otherwise(0)).alias("n_vec_null"),
        F.sum(F.when(is_zero, 1).otherwise(0)).alias("n_vec_zero"),
    ).select(
        F.lit("embeddings").alias("table_name"),
        F.lit("embedding").alias("column_name"),
        "n_rows",
        "n_vec_nan",
        "n_vec_inf",
        "n_vec_null",
        "n_vec_zero",
    )


# declared validity window for event-time columns: wide enough for any
# legitimate business data in this domain, tight enough to catch parser
# garbage (pre-epoch seconds-vs-micros confusions, year-9999 sentinels)
_TS_VALID_LO = "1990-01-01 00:00:00"
_TS_VALID_HI = "2035-01-01 00:00:00"


def _ts_sql_row(table: str, col: str) -> str:
    return f"""
    SELECT '{table}' AS table_name, '{col}' AS column_name,
           COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN {col} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
           CAST(SUM(CASE WHEN {col} < TIMESTAMP '{_TS_VALID_LO}' THEN 1 ELSE 0 END) AS BIGINT) AS n_before,
           CAST(SUM(CASE WHEN {col} >= TIMESTAMP '{_TS_VALID_HI}' THEN 1 ELSE 0 END) AS BIGINT) AS n_after,
           epoch_us(min({col})) AS min_ts_us,
           epoch_us(max({col})) AS max_ts_us
    FROM {table}"""


_TS_AUDIT_COLS = (("events", "ts"), ("orders", "o_orderdate"), ("lineitem", "l_shipdate"))


@query(
    "qa_timestamp_bounds",
    oracle=" UNION ALL ".join(_ts_sql_row(t, c) for t, c in _TS_AUDIT_COLS),
    tags=("qa", "agg", "profiling"),
)
def qa_timestamp_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time validity audit: per timestamp column, NULL count,
    rows before/after the declared validity window, and observed
    min/max (round 7 — completes the corrupt-data-is-gated posture
    for the TIME dimension, alongside qa_nonfinite_values for double
    measures and qa_nonfinite_embeddings for vectors).

    Why load-bearing: pre-epoch timestamps are the one place the
    engine's two bucketing idioms disagree with each other — Spark's
    window()/date_trunc FLOOR while unix_micros-div arithmetic
    TRUNCATES toward zero (probed round 7: 1969-12-31 22:30 buckets
    to 22:00 vs 23:00) — and a seconds-vs-micros parser confusion
    lands exactly there. Far-future sentinels (9999-12-31) similarly
    poison watermarks: one such event silently evicts every
    legitimate row from a watermarked stream. The audit runs at the
    bronze -> silver boundary; rows it flags are quarantined before
    any windowed tier sees them, so every bucketing idiom operates
    inside the range where they all agree.

    Scale: one map-side combined aggregate pass per table, O(#cols)
    output rows, no shuffle beyond the 1-row partials."""
    out = []
    for table, col in _TS_AUDIT_COLS:
        c = F.col(col)
        out.append(
            load(spark, sf_dir, table).agg(
                F.count("*").alias("n_rows"),
                F.sum(F.when(c.isNull(), 1).otherwise(0)).alias("n_null"),
                F.sum(F.when(c < F.lit(_TS_VALID_LO).cast("timestamp"), 1).otherwise(0)).alias("n_before"),
                F.sum(F.when(c >= F.lit(_TS_VALID_HI).cast("timestamp"), 1).otherwise(0)).alias("n_after"),
                F.unix_micros(F.min(c)).alias("min_ts_us"),
                F.unix_micros(F.max(c)).alias("max_ts_us"),
            ).select(
                F.lit(table).alias("table_name"),
                F.lit(col).alias("column_name"),
                "n_rows", "n_null", "n_before", "n_after", "min_ts_us", "max_ts_us",
            )
        )
    res = out[0]
    for df in out[1:]:
        res = res.unionByName(df)
    return res


@query(
    "silver_quarantine_split",
    oracle=f"""
    WITH flagged AS (
        SELECT event_type,
               CASE WHEN ts IS NULL
                         OR ts <  TIMESTAMP '{_TS_VALID_LO}'
                         OR ts >= TIMESTAMP '{_TS_VALID_HI}'
                    THEN 'ts_out_of_bounds'
                    WHEN isnan(value) OR isinf(value)
                    THEN 'nonfinite_measure:value'
                    ELSE 'clean' END AS reason,
               event_id
        FROM events
    )
    SELECT event_type, reason, COUNT(*) AS n_rows,
           MIN(event_id) AS min_event_id, MAX(event_id) AS max_event_id
    FROM flagged
    GROUP BY event_type, reason
    """,
    tags=("qa", "pipeline", "quarantine"),
)
def silver_quarantine_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bronze -> silver quarantine gate's registered surface: per
    (event_type, routing decision) row counts with an event_id range
    for triage. Routing mirrors bigdata_project_spark.quarantine
    exactly — 'ts_out_of_bounds' (NULL / pre-1990 / post-2035 event
    time, checked FIRST), 'nonfinite_measure:value' (NaN/Inf; NULL
    passes — in-contract for the exact-sum tier), else 'clean'.

    The listings pipeline applies the same gate as a SPLIT
    (quarantine.quarantine_reason inside listings.silver_flagged — e2e
    test writes the side output); this summary form is what the
    pipeline owner monitors, and the driver's degenerate twins
    (nonfinite/null-injected events) exercise the non-clean branches
    that the pristine testbed cannot.

    Scale: one map-side CASE inside codegen + one grouped count on
    (event_type, reason) — low-cardinality keys, map-side combined."""
    from bigdata_project_spark.quarantine import quarantine_reason

    ev = load(spark, sf_dir, "events")
    reason = F.coalesce(
        quarantine_reason(F.col("ts"), {"value": F.col("value")}), F.lit("clean")
    )
    return (
        ev.select("event_type", reason.alias("reason"), "event_id")
        .groupBy("event_type", "reason")
        .agg(
            F.count("*").alias("n_rows"),
            F.min("event_id").alias("min_event_id"),
            F.max("event_id").alias("max_event_id"),
        )
    )


_K_ANON = 5


@query(
    "qa_k_anonymity",
    oracle=f"""
    WITH g AS (
        SELECT c_nationkey, c_mktsegment, COUNT(*) AS group_size
        FROM customer
        GROUP BY c_nationkey, c_mktsegment
    )
    SELECT c_nationkey, c_mktsegment, group_size,
           CAST(group_size < {_K_ANON} AS INT) AS at_risk
    FROM g
    """,
    tags=("qa", "privacy", "agg"),
)
def qa_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity release audit (k = _K_ANON = 5) over the quasi-
    identifier pair (nation, market segment): any equivalence class
    smaller than k re-identifies its members by linkage, so a privacy-
    gated corpus release suppresses or generalizes those rows first
    (the PII scrub removes DIRECT identifiers — `corpus_pii_scrub` —
    but quasi-identifier linkage is the attack that survives scrubbing,
    and this is its standard audit).

    Scale: one grouped count on low-cardinality keys (map-side
    combined), one codegen comparison — the audit is as cheap as any
    profile pass and runs at the same release boundary as
    qa_column_profile."""
    k = F.lit(_K_ANON)
    return (
        load(spark, sf_dir, "customer")
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(F.count("*").alias("group_size"))
        .select(
            "c_nationkey",
            "c_mktsegment",
            "group_size",
            (F.col("group_size") < k).cast("int").alias("at_risk"),
        )
    )


@query(
    "corpus_k_anonymize_release",
    oracle=f"""
    WITH g1 AS (
        SELECT c_nationkey, c_mktsegment, COUNT(*) AS n
        FROM customer GROUP BY c_nationkey, c_mktsegment
    ),
    r1 AS (
        SELECT c.c_custkey, c.c_nationkey, c.c_mktsegment,
               CASE WHEN g1.n >= {_K_ANON} THEN 0 ELSE 1 END AS lvl
        FROM customer c
        JOIN g1 ON g1.c_nationkey = c.c_nationkey
               AND g1.c_mktsegment = c.c_mktsegment
    ),
    g2 AS (
        SELECT c_nationkey, COUNT(*) AS n FROM r1 WHERE lvl = 1
        GROUP BY c_nationkey
    ),
    r2 AS (
        SELECT r1.c_custkey, r1.c_nationkey, r1.c_mktsegment,
               CASE WHEN r1.lvl = 0 THEN 0
                    WHEN g2.n >= {_K_ANON} THEN 1 ELSE 2 END AS lvl
        FROM r1 LEFT JOIN g2 ON g2.c_nationkey = r1.c_nationkey
    ),
    g3 AS (SELECT COUNT(*) AS n FROM r2 WHERE lvl = 2),
    rel AS (
        SELECT c_custkey,
               CASE WHEN lvl <= 1 THEN CAST(c_nationkey AS VARCHAR)
                    ELSE '*' END AS qi_nation,
               CASE WHEN lvl = 0 THEN c_mktsegment ELSE '*' END AS qi_segment,
               lvl
        FROM r2
        WHERE NOT (lvl = 2 AND (SELECT n FROM g3) < {_K_ANON})
    ),
    audit AS (
        SELECT qi_nation, qi_segment, COUNT(*) AS group_size
        FROM rel GROUP BY qi_nation, qi_segment
    )
    SELECT r.c_custkey, r.qi_nation, r.qi_segment,
           CAST(r.lvl AS INT) AS generalization_level,
           a.group_size,
           CAST(a.group_size < {_K_ANON} AS INT) AS at_risk
    FROM rel r
    JOIN audit a ON a.qi_nation = r.qi_nation AND a.qi_segment = r.qi_segment
    """,
    tags=("qa", "privacy", "release", "rewrite"),
)
def corpus_k_anonymize_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACT on the `qa_k_anonymity` audit (round 9): produce a release
    that IS k-anonymous (k = {_K_ANON}) via multi-level local
    recoding over the quasi-identifier pair (nation, market segment),
    then re-audit the released rows inside the same query so the
    output carries its own proof (every released class's group_size,
    with at_risk = 0 everywhere — gated by test and oracle):

    - level 0: rows whose (nation, segment) class already has >= k
      members release both QI values unchanged;
    - level 1: rows in smaller classes generalize segment to '*';
      their class becomes (nation, '*'), sized over level-1 rows;
    - level 2: if (nation, '*') is still < k, nation generalizes to
      '*' too — one corpus-wide ('*', '*') class;
    - record suppression, the standard last resort: if even the
      ('*', '*') class is < k its rows are DROPPED, so the released
      set is k-anonymous unconditionally, not just on friendly data.

    Classes of different generalization levels cannot collide: a
    released level-0 segment is a real segment name, never '*'.

    Scale: three grouped counts on low-cardinality QI keys (map-side
    combined; g1 <= |nations| x |segments| rows, g2 <= |nations|,
    g3 is 1 row) broadcast back onto the fact scan, and the re-audit
    is one more broadcast of <= |g1|+|g2|+1 class rows — the fact
    table is scanned once and never shuffled on a high-cardinality
    key."""
    k = _K_ANON
    cust = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_mktsegment"
    )
    g1 = cust.groupBy("c_nationkey", "c_mktsegment").agg(F.count("*").alias("n1"))
    r1 = cust.join(F.broadcast(g1), ["c_nationkey", "c_mktsegment"]).select(
        "c_custkey",
        "c_nationkey",
        "c_mktsegment",
        F.when(F.col("n1") >= k, 0).otherwise(1).alias("lvl1"),
    )
    g2 = (
        r1.filter(F.col("lvl1") == 1)
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("n2"))
    )
    r2 = r1.join(F.broadcast(g2), "c_nationkey", "left").select(
        "c_custkey",
        "c_nationkey",
        "c_mktsegment",
        F.when(F.col("lvl1") == 0, 0)
        .when(F.col("n2") >= k, 1)
        .otherwise(2)
        .alias("lvl"),
    )
    g3 = r2.filter(F.col("lvl") == 2).agg(F.count("*").alias("n3"))
    rel = (
        r2.join(F.broadcast(g3))  # 1-row corpus total, broadcast by construction
        .filter(~((F.col("lvl") == 2) & (F.col("n3") < k)))
        .select(
            "c_custkey",
            F.when(F.col("lvl") <= 1, F.col("c_nationkey").cast("string"))
            .otherwise(F.lit("*"))
            .alias("qi_nation"),
            F.when(F.col("lvl") == 0, F.col("c_mktsegment"))
            .otherwise(F.lit("*"))
            .alias("qi_segment"),
            F.col("lvl").cast("int").alias("generalization_level"),
        )
    )
    audit = rel.groupBy("qi_nation", "qi_segment").agg(
        F.count("*").alias("group_size")
    )
    return rel.join(F.broadcast(audit), ["qi_nation", "qi_segment"]).select(
        "c_custkey",
        "qi_nation",
        "qi_segment",
        "generalization_level",
        "group_size",
        (F.col("group_size") < k).cast("int").alias("at_risk"),
    )
