"""Layered benchmark of the engine: one workload per run, one JSON result line.

    python3 perfbench/run.py --workload {listings_etl,corpus_curation} \\
        --seed N --seconds S --trace {0,1} [--size {full,toy}]

Run from the repository root. Each run is one batch job in a fresh
process: generate the seeded inputs, then set up (start the engine's
session, import the query registry, run one untimed warm-up pass of
the workload's fixed work list), then time warm passes of that work
list until `--seconds` have passed and at least MIN_PASSES have run.
Every output of every pass, the warm-up's too, is checked against the
DuckDB oracle or the generator's truth; the oracle's answers are
computed between the registry import and the warm-up and are not
set-up time.

`--trace 0` prints the end-to-end metrics (medians over the timed
passes); `--trace 1` alternates untraced passes with passes traced by
spans and Spark counters and prints the per-layer metrics.
The last line of stdout is the JSON result; the line before it is a
human-readable report. All files are written under `.perfbench_work/`
in the current directory and removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time

SIZES = {
    # tables scale factor, listings records
    "full": (0.01, 2000),
    "toy": (0.001, 300),
}
# The relational tables are the same in every run, like the testbed's
# fixed seed-42 ones; the run seed generates the listings corpus. The
# corpus_curation query order is fixed too: with a seeded order per
# pass, an op's time depended on its position in the pass (METRICS.md).
TABLES_SEED = 42
# the timed passes are at least this many, so that the reported median
# is never a single pass; the warm passes after the cold warm-up still
# get faster pass by pass (METRICS.md)
MIN_PASSES = 2


def _host_env(work: str) -> None:
    """Size the engine to this host and keep every file under `work`.

    Spark gets half the usable cores as task slots (and shuffle
    partitions); the other half is left to the JVM's compiler and GC
    threads, the Python driver and the Python workers, which otherwise
    compete with the task threads for the same cores."""
    cpus = os.cpu_count() or 1
    if hasattr(os, "sched_getaffinity"):
        cpus = len(os.sched_getaffinity(0))
    cpus = max(1, cpus // 2)
    ram_gb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") / 2**30
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{max(1, min(8, int(ram_gb // 4)))}g"
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # -XX:-UsePerfData keeps the JVMs (spark-submit's launcher and the
    # driver) from writing their perf-data files to the system temp
    # directory
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell"
    # Python workers import the package by name
    root = os.getcwd()
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p)
    tempfile.tempdir = tmp


def _peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver JVM plus this Python process."""

    def hwm(pid) -> float:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
        raise RuntimeError(f"no VmHWM for pid {pid}")

    return hwm("self") + hwm(spark.sparkContext._gateway.proc.pid)


def _cpu_ticks() -> tuple[int, int]:
    """(stolen, all) CPU ticks of the host since boot: the share stolen
    by the hypervisor while the passes ran says how busy the host was."""
    with open("/proc/stat") as f:
        ticks = [int(v) for v in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def _start_session():
    from bigdata_project_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _import_registry() -> None:
    from bigdata_project_spark.registry import _ensure_loaded

    _ensure_loaded()


def _stop_jvm() -> None:
    """End the engine's JVM (it exits when its stdin closes) and wait for it."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=120)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["listings_etl", "corpus_curation"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="full")
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "bigdata_project_spark")):
        print(f"no engine package under {root}; run from the repository root", file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    # a terminated run still stops the JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    _host_env(work)
    sys.path.insert(0, root)
    try:
        result, report = _run(args, work)
    finally:
        _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print(report)
    print(json.dumps(result))
    return 0


def _run(args, work: str) -> tuple[dict, str]:
    import gen_tables
    import workloads
    from tracing import NullTracer, Tracer

    # inputs first, before the engine starts
    sf, n_records = SIZES[args.size]
    tables_dir = os.path.join(work, "tables")
    table_rows = gen_tables.generate(tables_dir, sf, TABLES_SEED)
    info: dict = {"size": args.size, "seed": args.seed, "tables_sf": sf}
    if args.workload == "listings_etl":
        import gen_listings

        corpus = gen_listings.generate(os.path.join(work, "listings"), n_records, args.seed)
        info["corpus"] = {k: corpus[k] for k in ("json_files", "csv_rows", "input_rows", "input_bytes")}

    # set-up: session start, registry import, untimed warm-up pass; the
    # oracle between the import and the warm-up is not set-up time
    t = time.perf_counter()
    spark = _start_session()
    session_s = time.perf_counter() - t
    t = time.perf_counter()
    _import_registry()
    import_s = time.perf_counter() - t
    cache_path = os.path.join(os.getcwd(), ".perfbench_cache", "oracle.json")
    if args.workload == "corpus_curation":
        expected = workloads.corpus_oracle(tables_dir, cache_path)
        corpus_rows = table_rows["documents"] + table_rows["embeddings"]
    else:
        gold_expected = workloads.gold_oracle(tables_dir, cache_path)

    def one_pass(tracer, label):
        if args.workload == "corpus_curation":
            return workloads.corpus_curation(spark, tracer, tables_dir, corpus_rows, expected)
        out_dir = os.path.join(work, f"out-{label}")
        try:
            return workloads.listings_etl(spark, tracer, corpus, tables_dir, out_dir, gold_expected)
        finally:
            shutil.rmtree(out_dir, ignore_errors=True)

    tracer = Tracer(spark) if args.trace else None
    try:
        t = time.perf_counter()
        warmup = one_pass(NullTracer(), "warmup")
        warmup_s = time.perf_counter() - t
        # timed passes; a traced run puts a traced pass between every two
        # untraced ones, so that the passes' JIT speed-up cancels out of
        # trace.overhead_s, the difference of their medians
        plain, traced = [], []
        ticks0 = _cpu_ticks()
        t0 = time.perf_counter()
        while True:
            plain.append(one_pass(NullTracer(), f"p{len(plain)}"))
            if time.perf_counter() - t0 >= args.seconds and len(plain) >= MIN_PASSES and (tracer is None or traced):
                break
            if tracer:
                traced.append(one_pass(tracer, f"t{len(traced)}"))
        ticks1 = _cpu_ticks()
        peak_rss_mb = _peak_rss_mb(spark)
    finally:
        if tracer:
            tracer.close()
        spark.stop()

    setup_s = session_s + import_s + warmup_s
    ops = [o for p in (warmup, *plain, *traced) for o in p.ops]
    failed = [o for o in ops if not o.ok]
    info.update(
        passes=len(plain),
        traced_passes=len(traced),
        pass_makespans=[round(p.makespan_s, 3) for p in plain],
        host_steal_share=round((ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1]), 4),
        setup_parts={"session_s": round(session_s, 3), "import_s": round(import_s, 3), "warmup_s": round(warmup_s, 3)},
        failed_ratio=len(failed) / len(ops),
        failed_ops={o.name: o.error for o in failed},
        warmup_op_seconds={o.name: round(o.seconds, 3) for o in warmup.ops},
        op_seconds={o.name: [round(p.ops[i].seconds, 3) for p in plain] for i, o in enumerate(plain[0].ops)},
        output_digest={o.name: o.digest for o in (traced or plain)[-1].ops},
    )
    if args.trace:
        overhead_s = statistics.median(p.makespan_s for p in traced) - statistics.median(p.makespan_s for p in plain)
        metrics = _per_layer(tracer, traced, session_s, peak_rss_mb, overhead_s)
        _write_trace(tracer, args)
    else:
        metrics = {
            "makespan_s": (statistics.median(p.makespan_s for p in plain), "s"),
            "rows_per_s": (statistics.median(p.rows_per_s for p in plain), "rows/s"),
            "setup_s": (setup_s, "s"),
        }
    result = {
        "correct": not failed,
        "attempted": len(ops),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    report = " ".join(f"{k}={v:.6g}{u}" for k, (v, u) in metrics.items())
    return result, f"{args.workload}: {report} | " + json.dumps(info, ensure_ascii=False)


# per-layer metric -> unit; every one is printed on every workload (0
# where the workload does not reach the layer)
PER_LAYER = {
    "session.start_s": "s", "session.peak_rss_mb": "MB",
    "registry.build_s": "s", "registry.build_jobs": "count",
    "tables.input_mb": "MB", "tables.input_rows": "rows",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms", "catalyst.planning_ms": "ms",
    "catalyst.plan_kb": "KB",
    "scheduler.jobs": "count", "scheduler.stages": "count", "scheduler.tasks": "count",
    "executor.run_s": "s", "executor.cpu_s": "s", "executor.gc_s": "s", "executor.core_util": "ratio",
    "executor.task_skew": "ratio",
    "shuffle.write_mb": "MB", "shuffle.read_mb": "MB", "shuffle.spill_mb": "MB", "shuffle.fetch_wait_s": "s",
    "python.total_s": "s", "python.boot_s": "s", "python.sent_mb": "MB", "python.recv_mb": "MB",
    "caching.release_s": "s", "caching.persisted_rdds": "count", "caching.leaked_rdds": "count",
    "streaming.batches": "count", "streaming.batch_p50_ms": "ms", "streaming.input_rows": "rows",
    "streaming.state_rows": "rows",
    "listings.read_s": "s", "listings.rows_in": "rows", "listings.dedup_drop_ratio": "ratio",
    "listings.write_s": "s", "listings.files_written": "count", "listings.lake_bytes_per_input_byte": "ratio",
    "quarantine.rows_flagged": "rows", "quarantine.flag_ratio": "ratio",
    "gold.build_s": "s", "gold.output_mb": "MB",
    "trace.overhead_s": "s",
}


def _write_trace(tracer, args) -> None:
    """Spans and per-op counters of a traced run, for reading by hand."""
    out = os.path.join(os.getcwd(), ".perfbench_out")
    os.makedirs(out, exist_ok=True)
    t0 = tracer.spans[0]["start"] if tracer.spans else 0.0
    spans = [dict(s, start=s["start"] - t0, end=s["end"] - t0) for s in tracer.spans]
    doc = {"spans": spans, "self_s": tracer.self_times(), "ops": tracer.ops}
    with open(os.path.join(out, f"trace-{args.workload}-{args.seed}.json"), "w") as f:
        json.dump(doc, f, indent=1)


def _per_layer(tracer, passes, session_s, peak_rss_mb, overhead_s) -> dict[str, tuple[float, str]]:
    """Per-pass means of the traced passes' per-op counters; skew is the
    worst op's."""
    n = len(passes)
    layer: dict[str, float] = {}
    for op in tracer.ops:
        for k, v in op["counters"].items():
            layer[k] = max(layer.get(k, 1.0), v) if k == "executor.task_skew" else layer.get(k, 0.0) + v / n
    for p in passes:
        for k, v in p.extra.items():
            layer[k] = layer.get(k, 0.0) + v / n
    makespan = statistics.mean(p.makespan_s for p in passes)
    layer["session.start_s"] = session_s
    layer["session.peak_rss_mb"] = peak_rss_mb
    layer["executor.core_util"] = layer.get("executor.run_s", 0.0) / (makespan * tracer.cores)
    layer["streaming.batch_p50_ms"] = tracer.batch_p50_ms()
    layer["trace.overhead_s"] = overhead_s
    return {k: (float(layer.get(k, 0.0)), u) for k, u in PER_LAYER.items()}


if __name__ == "__main__":
    sys.exit(main())
