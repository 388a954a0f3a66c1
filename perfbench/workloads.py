"""The benchmark's workloads: fixed work lists run against the engine's public entry points.

Each workload is one batch job in a fresh session: one closed-loop
client, ops run one after another. An op is timed from its first
call into the engine until its outputs exist and the engine's caches
are released (`build`, `execute`, `release`); checking the outputs
(`verify`) happens after the clock stops and runs no Spark job, so
the traced run's job windows hold only the op's own jobs.
"""

from __future__ import annotations

import math
import os
import time
import traceback
from dataclasses import dataclass, field

import oracle

# k-means training (one of ROADMAP item 3's many-small-job loops), an
# availableNow stream with foreachBatch and cross-batch state
# (count-min counters over three micro-batches), and the Python-decode
# (mapInPandas) + iterative-clustering path. The other item 3 targets
# and the semantic-dedup stream are left out to fit the run-time budget,
# and vocab_unigram_token_count because its run time is too unsteady
# (METRICS.md).
CORPUS_QUERIES = (
    "sim_ivf_trained_cells",
    "stream_countmin_incremental",
    "multimodal_dhash_dedup_keeper",
)


@dataclass
class OpResult:
    name: str
    seconds: float = 0.0
    ok: bool = False
    digest: str = ""
    error: str = ""
    spans: dict[str, float] = field(default_factory=dict)


@dataclass
class PassResult:
    ops: list[OpResult]
    makespan_s: float
    rows_per_s: float
    extra: dict[str, float] = field(default_factory=dict)


def run_op(spark, tracer, name, build, execute, verify, registry: bool = False) -> OpResult:
    """Time one op; an exception or a wrong output marks it failed.
    `registry` marks a registry builder, whose jobs before `execute` are
    counted as builder jobs in the traced run."""
    from bigdata_project_spark.caching import release_cached

    res = OpResult(name)
    out = None
    with tracer.op(name):
        t0 = time.perf_counter()
        try:
            with tracer.span("build"):
                df = build()
            res.spans["build"] = time.perf_counter() - t0
            if registry:
                tracer.mark_build_done()
            t1 = time.perf_counter()
            with tracer.span("execute"):
                out = execute(df)
            res.spans["execute"] = time.perf_counter() - t1
            if execute is collect:
                # only a collected DataFrame ran its own plan; reading a
                # written one's would plan it again
                tracer.observe_df(df)
            tracer.before_release()
            with tracer.span("release"):
                release_cached(spark, sweep_all=True)
            tracer.after_release()
        except Exception:  # noqa: BLE001 - a failing op is counted, the run goes on
            res.error = traceback.format_exc(limit=3).strip().splitlines()[-1]
        res.seconds = time.perf_counter() - t0
        if not res.error:
            with tracer.span("verify"):
                try:
                    res.ok, res.digest = verify(out)
                except Exception:  # noqa: BLE001
                    res.error = "verify: " + traceback.format_exc(limit=3).strip().splitlines()[-1]
            if not res.ok and not res.error:
                res.error = f"wrong output {res.digest}"
    return res


def collect(df):
    return df.columns, df.collect()


# -- corpus_curation -----------------------------------------------------------


def corpus_oracle(tables_dir: str, cache_path: str) -> dict[str, str]:
    """Expected result hash per query, from the DuckDB oracle (untimed)."""
    from bigdata_project_spark.registry import REGISTRY, _ensure_loaded

    _ensure_loaded()
    return oracle.cached_sql_hashes(tables_dir, {q: REGISTRY[q].oracle for q in CORPUS_QUERIES}, cache_path)


def corpus_curation(spark, tracer, tables_dir: str, corpus_rows: int, expected: dict[str, str]) -> PassResult:
    from bigdata_project_spark.registry import REGISTRY

    def verify_for(q):
        def verify(out):
            columns, rows = out
            digest = oracle.spark_hash(rows, columns)
            return digest == expected[q], digest

        return verify

    ops = [run_op(spark, tracer, q, lambda q=q: REGISTRY[q].fn(spark, tables_dir), collect, verify_for(q), True)
           for q in CORPUS_QUERIES]
    makespan = sum(o.seconds for o in ops)
    extra = {"registry.build_s": sum(o.spans.get("build", 0.0) for o in ops)}
    return PassResult(ops, makespan, corpus_rows / makespan, extra)


# -- listings_etl ---------------------------------------------------------------


def gold_oracle(tables_dir: str, cache_path: str) -> dict[str, str]:
    """Expected hash of every gold table, from the DuckDB oracle (untimed)."""
    from bigdata_project_spark.gold import GOLD_TABLES
    from bigdata_project_spark.registry import REGISTRY, _ensure_loaded

    _ensure_loaded()
    return oracle.cached_sql_hashes(tables_dir, {t: REGISTRY[q].oracle for q, t in GOLD_TABLES.items()}, cache_path)


def _dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, parquet files) under a directory."""
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(root, n))
            files += n.endswith(".parquet")
    return total, files


def listings_etl(spark, tracer, corpus: dict, tables_dir: str, out_dir: str, gold_expected: dict[str, str]) -> PassResult:
    from pyspark.sql import functions as F

    from bigdata_project_spark import gold
    from bigdata_project_spark.listings.ingest import read_listings_csv, read_listings_json, write_lake_with_quarantine

    truth = corpus["truth"]
    lake = os.path.join(out_dir, "lake")
    quarantine = os.path.join(out_dir, "quarantine")
    gold_dir = os.path.join(out_dir, "gold")
    con = oracle.connect()

    def ingest():
        return read_listings_json(spark, corpus["json_dir"]).unionByName(read_listings_csv(spark, corpus["csv_path"]))

    def verify_lake(_):
        ids = [r[0] for r in con.sql(f"SELECT id FROM read_parquet('{lake}/*/*.parquet') ORDER BY id").fetchall()]
        reasons = dict(con.sql(
            f"SELECT quarantine_reason, count(*) FROM read_parquet('{quarantine}/*.parquet') GROUP BY 1"
        ).fetchall())
        expected_reasons = {k: v for k, v in truth["quarantine"].items() if v}
        return ids == truth["lake_ids"] and reasons == expected_reasons, f"{len(ids)} lake, {sorted(reasons.items())}"

    def analytic():
        return (
            spark.read.parquet(lake)
            .groupBy("district")
            .agg(
                F.count("*").alias("rows"),
                F.count("price_per_m2").alias("priced"),
                F.avg("price_per_m2").alias("avg_price_per_m2"),
            )
        )

    def verify_analytic(out):
        _, rows = out
        got = {r["district"]: r for r in rows}
        ok = set(got) == set(truth["per_district"])
        for d, (n, nulls, ppm_sum) in truth["per_district"].items():
            r = got.get(d)
            if r is None or r["rows"] != n or r["rows"] - r["priced"] != nulls:
                ok = False
            elif r["priced"]:
                ok &= math.isclose(r["avg_price_per_m2"], ppm_sum / r["priced"], rel_tol=1e-9)
        return ok, f"{len(rows)} districts"

    def verify_gold(_):
        got = {
            table: oracle.sql_hash(con, f"SELECT * FROM read_parquet('{gold_dir}/{table}/*.parquet')")
            for table in gold_expected
        }
        bad = sorted(t for t in got if got[t] != gold_expected[t])
        return not bad, f"{len(got)} tables" + (f", wrong: {bad}" if bad else "")

    try:
        ops = [
            run_op(spark, tracer, "ingest_to_lake", ingest,
                   lambda df: write_lake_with_quarantine(df, lake, quarantine), verify_lake),
            run_op(spark, tracer, "lake_price_per_m2", analytic, collect, verify_analytic),
            run_op(spark, tracer, "build_gold", lambda: None,
                   lambda _: gold.build_gold(spark, tables_dir, gold_dir), verify_gold),
        ]
        lake_bytes, lake_files = _dir_bytes(lake)
        q_bytes, q_files = _dir_bytes(quarantine)
        gold_bytes, _ = _dir_bytes(gold_dir)
        flagged = lake_rows = 0
        if ops[0].ok:
            flagged = con.sql(f"SELECT count(*) FROM read_parquet('{quarantine}/*.parquet')").fetchone()[0]
            lake_rows = con.sql(f"SELECT count(*) FROM read_parquet('{lake}/*/*.parquet')").fetchone()[0]
    finally:
        con.close()
    rows_in = corpus["input_rows"]
    extra = {
        "listings.read_s": ops[0].spans.get("build", 0.0),
        "listings.write_s": ops[0].spans.get("execute", 0.0),
        "listings.rows_in": rows_in,
        "listings.dedup_drop_ratio": (rows_in - lake_rows - flagged) / rows_in,
        "listings.files_written": lake_files + q_files,
        "listings.lake_bytes_per_input_byte": (lake_bytes + q_bytes) / corpus["input_bytes"],
        "quarantine.rows_flagged": flagged,
        "quarantine.flag_ratio": flagged / max(1, lake_rows + flagged),
        "gold.build_s": ops[2].spans.get("execute", 0.0),
        "gold.output_mb": gold_bytes / 2**20,
    }
    makespan = sum(o.seconds for o in ops)
    return PassResult(ops, makespan, rows_in / ops[0].seconds, extra)

