"""Benchmark of the lambda engine: one workload per run.

    python3 perfbench/run.py --workload <llm_curation|lambda_stream>
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The corpus is generated into
``perfbench/.work`` (or ``$PERFBENCH_WORK``) on first use; every file a
run writes stays under that directory. The last line of standard output is one JSON object:
``correct``, ``attempted``, ``failed`` and ``metrics`` (the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``).
The line before it is the full report: percentiles with sample counts,
per-op timings, the ambient-noise canary and the host. Exit code 0 only
when every op was correct. See perfbench/README.md for the definitions.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import importlib.util
import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.environ.get("PERFBENCH_WORK") or os.path.join(HERE, ".work")
WORKLOADS = ("llm_curation", "lambda_stream")

END_TO_END = {  # name -> unit
    "setup_s": "s", "query_p50_s": "s", "query_tail_s": "s", "pass_s": "s",
    "freshness_p50_s": "s", "freshness_tail_s": "s", "serve_p50_s": "s",
    "serve_tail_s": "s", "drain_rows_per_s": "rows/s", "peak_rss_mb": "MB",
}
# per-layer metrics and their units, in layer order
PER_LAYER = {
    "engine.session_start_s": "s", "engine.warmup_s": "s",
    "engine.artifact_build_s": "s",
    "operators.build_s": "s", "operators.eager_jobs": "count",
    "catalyst.analysis_s": "s", "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "driver.jobs": "count", "driver.gap_s": "s",
    "executor.run_s": "s", "executor.cpu_s": "s", "executor.gc_s": "s",
    "executor.tasks": "count", "executor.busy_frac": "fraction",
    "executor.task_skew": "ratio",
    "shuffle.write_bytes": "B", "shuffle.read_bytes": "B",
    "shuffle.fetch_wait_s": "s", "shuffle.spill_disk_bytes": "B",
    "functions.udf_rows": "count", "functions.udf_bytes": "B",
    "functions.udf_s": "s", "functions.candidates": "count",
    "functions.candidate_yield": "fraction",
    "sources.latest_offset_s": "s", "sources.get_batch_s": "s",
    "generator.lag_max_s": "s", "generator.backlog_files_max": "count",
    "streaming.batches": "count", "streaming.batch_s": "s",
    "streaming.add_batch_s": "s", "streaming.query_planning_s": "s",
    "streaming.wal_commit_s": "s", "streaming.commit_offsets_s": "s",
    "streaming.queue_wait_s": "s", "streaming.rows_per_batch": "count",
    "state.rows_total": "count", "state.memory_bytes": "B",
    "state.commit_s": "s",
    "sinks.write_s": "s", "sinks.files_written": "count",
    "serving.read_s": "s", "serving.store_dirs": "count",
    "oracle.checked": "count", "oracle.mismatches": "count",
}


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=0.01,
                    help="corpus scale factor (the smoke test uses 0.001)")
    ap.add_argument("--omit-file", action="store_true",
                    help="leave one dropped file out of the lambda_stream "
                         "recompute: a deliberately wrong expectation")
    return ap.parse_args(argv)


def configure_env(run_dir: str, trace: bool) -> None:
    """Keep every file Spark, the engine and Python workers write inside
    the run directory, and give workers the engine on their path."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p)
    os.environ.setdefault("SPARK_GRAFT_CPUS",
                          str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} "
                                         f"-Dderby.system.home={tmp} "
                                         "-XX:-UsePerfData",
        "spark.sql.streaming.numRecentProgressUpdates": "10000",
    }
    if trace:
        confs.update({"spark.eventLog.enabled": "true",
                      "spark.eventLog.compress": "false",
                      "spark.eventLog.dir": os.path.join(run_dir, "eventlog")})
        os.makedirs(confs["spark.eventLog.dir"])
    args = []
    for k, v in confs.items():
        args += ["--conf", f'"{k}={v}"']
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])


def table_rows(sf_dir: str) -> dict[str, int]:
    import pyarrow.parquet as pq
    return {t: pq.ParquetFile(f"{sf_dir}/{t}.parquet").metadata.num_rows
            for t in ("documents", "embeddings", "events")}


def stop_jvm() -> None:
    """End the JVM this process launched and wait until it has exited."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
    SparkContext._gateway = None


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    sys.path[:0] = [ROOT, HERE]
    # found, not imported: the engine must first see the environment
    # that keeps its scratch files inside the run directory
    if importlib.util.find_spec("full_stack_big_data_spark") is None:
        print("perfbench: the engine package full_stack_big_data_spark is "
              "not in this checkout", file=sys.stderr)
        return 2
    run_dir = os.path.join(WORK, "runs", f"{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        return run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def run(args: argparse.Namespace, run_dir: str) -> int:
    configure_env(run_dir, bool(args.trace))
    import corpus
    from common import (CANARY, HostSampler, Tracer, canary, cpu_ticks,
                        steal_frac)

    sf_dir = os.path.join(WORK, "corpus", f"sf{args.sf:g}")
    t0 = time.perf_counter()
    corpus.build(sf_dir, args.sf)
    corpus_s = time.perf_counter() - t0
    clock = HostSampler().start()
    ticks = cpu_ticks()
    tracer = Tracer(bool(args.trace))

    t_setup = time.time()
    from full_stack_big_data_spark.engine.session import get_spark
    from full_stack_big_data_spark.operators.registry import load_all
    reg = load_all()
    t0 = time.perf_counter()
    with tracer.span("engine.session", op="setup"):
        spark = get_spark(app_name=f"perfbench-{args.workload}")
    session_start_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    cores = spark.sparkContext.defaultParallelism
    host = {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "pyspark": spark.version,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "seed": args.seed, "sf": args.sf, "workload": args.workload,
        "trace": args.trace, "seconds": args.seconds,
    }
    layer: dict[str, float] = {"engine.session_start_s": session_start_s}
    try:
        if args.workload == "llm_curation":
            from batch import BatchWorkload, passes_for
            w = BatchWorkload(spark, reg, sf_dir,
                              os.path.join(WORK, "oracle", f"sf{args.sf:g}"),
                              table_rows(sf_dir), tracer, clock, args.seed)
            t0 = time.perf_counter()
            with tracer.span("engine.warmup", op="setup"):
                w.check_pass()
            oracle_s = sum(clock.steady(a, b) for a, b in w.oracle_spans)
            layer["engine.warmup_s"] = time.perf_counter() - t0 - sum(
                b - a for a, b in w.oracle_spans)
            layer["engine.artifact_build_s"] = corpus_s
            t_timed = time.time()
            w.timed(passes_for(args.seconds))
            canary_s = w.canary_s
            e2e = w.end_to_end()
            checked = len(w.check_s)
        else:
            from stream import StreamWorkload
            oracle_s = 0.0  # the lambda diff runs after the timed phase
            w = StreamWorkload(spark, reg, sf_dir, run_dir, tracer, clock,
                               args.seed, args.seconds,
                               omit_file=args.omit_file)
            t0 = time.perf_counter()
            with tracer.span("engine.artifacts", op="setup"):
                w.generate()
            layer["engine.artifact_build_s"] = corpus_s + (
                time.perf_counter() - t0)
            t0 = time.perf_counter()
            with tracer.span("engine.warmup", op="setup"):
                w.start()
                w.warm_up()
                canary_s = [canary(spark, reg, sf_dir)]
            layer["engine.warmup_s"] = time.perf_counter() - t0
            t_timed = time.time()
            w.timed()
            w.reconcile()
            canary_s.append(canary(spark, reg, sf_dir))
            e2e = w.end_to_end()
            checked = len(w.diff)
        spark.stop()  # flushes the event log
        if args.trace:
            layer.update(w.per_layer(os.path.join(run_dir, "eventlog"),
                                     cores))
    finally:
        spark.stop()
        peak_rss_mb = clock.stop()
        stop_jvm()

    # set-up up to the first timed op, in steady seconds, less the time
    # the oracle spent checking the warm-up pass
    setup_s = clock.steady(t_setup, t_timed) - oracle_s

    q, fr, sv = e2e["query"], e2e["freshness"], e2e["serve"]
    values = {
        "setup_s": setup_s, "query_p50_s": q["p50"], "query_tail_s": q["tail"],
        "pass_s": e2e["pass_s"], "freshness_p50_s": fr["p50"],
        "freshness_tail_s": fr["tail"], "serve_p50_s": sv["p50"],
        "serve_tail_s": sv["tail"],
        "drain_rows_per_s": e2e["drain_rows_per_s"],
        "peak_rss_mb": peak_rss_mb,
    }
    layer["oracle.checked"] = float(checked)
    layer["oracle.mismatches"] = float(len(w.mismatches))
    correct = w.failed == 0
    report = {
        "host": host,
        "end_to_end": values,
        "samples": {"query": q, "freshness": fr, "serve": sv},
        "error_rate": w.failed / max(1, w.attempted),
        "mismatches": w.mismatches,
        "setup": {"wall_s": t_timed - t_setup, "oracle_s": oracle_s,
                  "stolen_share": clock.stolen_share(t_setup, t_timed)},
        "wall": e2e["wall"],
        "canary": {"op": CANARY, "secs": canary_s,
                   "spread": max(canary_s) / min(canary_s)},
        "cpu_steal_frac": steal_frac(ticks, cpu_ticks()),
        "code": code_digest(),
        "shape": {k: v for k, v in e2e.items()
                  if k in ("passes", "batches", "ops", "check_s",
                           "reader_lag_max_s")},
    }
    results = os.path.join(WORK, "results")
    os.makedirs(results, exist_ok=True)
    if args.trace:
        report["per_layer"] = layer
        report["self_time_s"] = tracer.self_times()
        report["tracing_overhead"] = overhead(results, args.workload,
                                              values, host)
        with open(os.path.join(results, f"spans-{args.workload}-"
                               f"{args.seed}.json"), "w") as f:
            json.dump(tracer.spans, f)
        # a layer the workload never enters did no work: it reads zero
        metrics = {k: {"value": layer.get(k, 0.0), "unit": u}
                   for k, u in PER_LAYER.items()}
    else:
        with open(os.path.join(results, f"e2e-{args.workload}-"
                               f"{args.seed}.json"), "w") as f:
            json.dump({"values": values, "sf": args.sf,
                       "seconds": args.seconds, "code": report["code"]}, f)
        metrics = {k: {"value": values[k], "unit": u}
                   for k, u in END_TO_END.items()}
    print(json.dumps({"report": report}))
    print(json.dumps({"correct": correct, "attempted": w.attempted,
                      "failed": w.failed, "metrics": metrics}))
    return 0 if correct else 1


def code_digest() -> str:
    """Digest of the engine's and the benchmark's Python sources: which
    code a result was measured on (a checkout need not be a git repo)."""
    h = hashlib.sha256()
    for top in ("full_stack_big_data_spark", "perfbench"):
        for path in sorted(glob.glob(os.path.join(ROOT, top, "**", "*.py"),
                                     recursive=True)):
            rel = os.path.relpath(path, ROOT)
            if rel.startswith(os.path.join("perfbench", "tests")):
                continue
            h.update(rel.encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def overhead(results: str, workload: str, traced: dict, host: dict) -> dict:
    """Traced / untraced - 1 per end-to-end metric, against the median of
    the untraced runs of this workload recorded in the same work
    directory on the same code, scale and run length."""
    from common import median
    runs = []
    for path in glob.glob(os.path.join(results, f"e2e-{workload}-*.json")):
        with open(path) as f:
            r = json.load(f)
        if (r.get("code"), r.get("sf"), r.get("seconds")) == (
                code_digest(), host["sf"], host["seconds"]):
            runs.append(r["values"])
    if not runs:
        return {"untraced_runs": 0}
    out = {"untraced_runs": len(runs)}
    for k, v in traced.items():
        base = median([r[k] for r in runs])
        out[k] = v / base - 1.0 if base else None
    return out


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
