"""The ``llm_curation`` workload: curation kernels run as batch passes.

Set-up runs every op once and collects its result: that untimed pass is
the warm-up, so codegen, Python workers and per-process artifacts are in
place before the first timed op. The same results are checked against
each op's registry DuckDB oracle (``oracle.compare``; the oracle's
answers are memoized per corpus); the oracle's own time is kept out of
``setup_s`` and reported apart. A fixed number of
timed passes then run every op through the noop sink, in an order the
seed fixes, with ``release_scoped_cache`` between ops so each one is a
cold-cache plan.
"""

from __future__ import annotations

import hashlib
import os
import random
import time

import pyarrow.feather as feather

from pyspark.sql import Observation, functions as F

from full_stack_big_data_spark.engine.session import release_scoped_cache
from full_stack_big_data_spark.functions import observability
from full_stack_big_data_spark.oracle import compare, duckdb_connect

from common import CANARY, canary, median, noop, timing, union_length
from layers import new_group, read_event_log, task_skew

# the op that answers a batch of queries against the corpus: the
# workload's serving read (HOF cosine)
SERVE = "ann_brute_topk"
# registry ops, in check-pass order: the pandas-UDF payload path, the
# text kernels, content-hash dedup, the MinHash-LSH and edit-distance
# candidate joins, the serving read, the Arrow cosine near-dup join and
# the zero-copy cosine kNN graph
OPS = ("multimodal_features", "text_quality", "dedup_exact",
       "dedup_minhash_lsh", "dedup_editdistance", SERVE,
       "embedding_neardup", "emb_knn_graph")
INPUT_TABLE = {"multimodal_features": "documents",
               "text_quality": "documents", "dedup_exact": "documents",
               "dedup_minhash_lsh": "documents",
               "dedup_editdistance": "documents",
               SERVE: "embeddings", "embedding_neardup": "embeddings",
               "emb_knn_graph": "embeddings"}
# one timed pass per this many seconds of --seconds (three at the
# benchmark's 15 s; a pass takes ~7.5 s on a quiet 4-core host). The
# pass count depends on --seconds only, never on how fast the passes
# run, so every run of a given length takes the same number of samples.
PASS_BUDGET_S = 5.0


def passes_for(seconds: float) -> int:
    return max(1, round(seconds / PASS_BUDGET_S))


class _Collected:
    """A result already collected as an Arrow table. ``compare`` reads
    the engine's side with ``toArrow()`` and the oracle's with
    ``execute(sql).arrow()``; this answers both."""

    def __init__(self, table):
        self._table = table

    def toArrow(self):
        return self._table

    arrow = toArrow


class _MemoOracle:
    """The DuckDB oracle, its answers memoized on disk.

    An answer depends only on the corpus and the oracle SQL, so it is
    computed once per corpus and work directory and read back after."""

    def __init__(self, sf_dir: str, memo_dir: str):
        self.sf_dir, self.memo_dir = sf_dir, memo_dir
        with open(os.path.join(sf_dir, "_COMPLETE")) as f:
            self.corpus = f.read()
        self._con = None
        os.makedirs(memo_dir, exist_ok=True)

    def execute(self, sql: str) -> _Collected:
        key = hashlib.sha256((self.corpus + sql).encode()).hexdigest()
        path = os.path.join(self.memo_dir, f"{key[:24]}.arrow")
        if not os.path.exists(path):
            if self._con is None:
                self._con = duckdb_connect(self.sf_dir)
            feather.write_feather(self._con.execute(sql).arrow(),
                                  path + ".tmp")
            os.replace(path + ".tmp", path)
        return _Collected(feather.read_table(path))

    def close(self) -> None:
        if self._con is not None:
            self._con.close()


class BatchWorkload:
    def __init__(self, spark, reg, sf_dir: str, memo_dir: str,
                 table_rows: dict[str, int], tracer, clock, seed: int):
        self.spark, self.reg, self.sf_dir = spark, reg, sf_dir
        self.memo_dir = memo_dir
        self.table_rows = table_rows
        self.tracer, self.clock = tracer, clock
        self.seed = seed
        self.records: list[dict] = []      # one per timed op
        self.canary_s: list[float] = []
        self.passes: list[tuple[float, float]] = []  # epoch span per pass
        self.mismatches: list[str] = []
        self.attempted = 0
        self.failed = 0
        self.check_s: dict[str, float] = {}
        self.oracle_spans: list[tuple[float, float]] = []
        self._seq = 0

    # -- set-up: the warm-up pass, checked against the oracle -------------
    def check_pass(self) -> None:
        """Collect every op once (the warm-up) and compare each result
        with its DuckDB oracle. The oracle's spans are recorded so that
        set-up time can leave them out."""
        con = _MemoOracle(self.sf_dir, self.memo_dir)
        try:
            for name in (CANARY, *OPS):
                t0 = time.perf_counter()
                with self.tracer.span("warmup.collect", op=f"check:{name}"):
                    table = self.reg[name].builder(
                        self.spark, self.sf_dir).toArrow()
                release_scoped_cache(self.spark)
                self.check_s[name] = time.perf_counter() - t0
                o0 = time.time()
                with self.tracer.span("oracle.check", op=f"check:{name}"):
                    res = compare(name, _Collected(table),
                                  self.reg[name].oracle, con)
                self.oracle_spans.append((o0, time.time()))
                self.attempted += 1
                if not res.ok:
                    self.failed += 1
                    self.mismatches.append(f"{name}: {res.detail}")
        finally:
            con.close()

    # -- timed passes -----------------------------------------------------
    def _run_op(self, name: str, pass_no: int) -> dict:
        self._seq += 1
        op_id = f"{name}#{self._seq}"
        sc = self.spark.sparkContext
        sc.setJobGroup(op_id, op_id)
        traced = self.tracer.enabled
        rec = {"op": name, "id": op_id, "pass": pass_no, "phases": {},
               "rows_out": None, "candidates": None}
        if traced:
            observability.enable()
        rec["start"] = time.time()
        t0 = time.perf_counter()
        with self.tracer.span("op", op=op_id):
            with self.tracer.span("operators.build"):
                df = self.reg[name].builder(self.spark, self.sf_dir)
            rec["build_s"] = time.perf_counter() - t0
            rec["build_end"] = time.time()
            if traced:
                ob = Observation(f"rows_{self._seq}")
                df = df.observe(ob, F.count(F.lit(1)).alias("rows"))
                with self.tracer.span("catalyst.plan"):
                    qe = df._jdf.queryExecution()
                    qe.executedPlan()
                    ph = qe.tracker().phases()
                    for k in ("analysis", "optimization", "planning"):
                        if ph.contains(k):
                            rec["phases"][k] = (
                                ph.get(k).get().durationMs() / 1e3)
            with self.tracer.span("action.noop"):
                noop(df)
            if traced:
                rec["rows_out"] = int(ob.get["rows"])
        rec["wall"] = time.perf_counter() - t0
        rec["end"] = time.time()
        if traced:
            counts = observability.candidate_counts()
            rec["candidates"] = sum(counts.values()) if counts else None
            observability.disable()
        sc.setJobGroup("", "")
        release_scoped_cache(self.spark)
        return rec

    def timed(self, passes: int) -> None:
        """``passes`` whole passes. Each runs every op once, in an order
        drawn from the seed, after one canary run."""
        for pass_no in range(passes):
            order = list(OPS)
            random.Random(self.seed * 1000 + pass_no).shuffle(order)
            self.canary_s.append(canary(self.spark, self.reg, self.sf_dir))
            release_scoped_cache(self.spark)
            t0 = time.time()
            for name in order:
                self.attempted += 1
                try:
                    self.records.append(self._run_op(name, pass_no))
                except Exception as exc:  # counted, never hidden
                    self.failed += 1
                    self.mismatches.append(f"{name}: {exc!r}"[:500])
            self.passes.append((t0, time.time()))

    # -- metrics ----------------------------------------------------------
    def end_to_end(self) -> dict:
        """Timings in steady seconds (see ``HostSampler``); the wall
        times they come from are in ``wall``."""
        steady = self.clock.steady
        recs = self.records
        for r in recs:
            r["steady"] = r["wall"] * (
                1.0 - self.clock.stolen_share(r["start"], r["end"]))
        by_op: dict[str, list[float]] = {}
        for r in recs:
            by_op.setdefault(r["op"], []).append(r["steady"])
        rows = sum(self.table_rows[INPUT_TABLE[r["op"]]] for r in recs)
        pass_steady = [steady(a, b) for a, b in self.passes]
        return {
            "query": timing([r["steady"] for r in recs]),
            # a pass's makespan, estimated from every sample: the sum of
            # the per-op medians
            "pass_s": sum(median(v) for v in by_op.values()),
            # input is complete when a pass starts, so a result is fresh
            # once the whole pass has committed
            "freshness": timing(pass_steady),
            "serve": timing(by_op[SERVE]),
            "drain_rows_per_s": rows / sum(r["steady"] for r in recs),
            "passes": len(self.passes),
            "ops": {k: median(v) for k, v in by_op.items()},
            "check_s": self.check_s,
            "wall": {"query": timing([r["wall"] for r in recs]),
                     "passes": [b - a for a, b in self.passes]},
        }

    def per_layer(self, log_dir: str, cores: int) -> dict:
        groups = read_event_log(log_dir)
        recs = self.records
        n = len(recs)
        tot = {k: 0.0 for k in ("eager", "jobs", "gap", "run", "cpu", "gc",
                                "tasks", "sw", "sr", "fw", "spill", "urows",
                                "ubytes", "us")}
        stage_runs: dict[int, list[int]] = {}
        for r in recs:
            g = groups.get(r["id"]) or new_group()
            tot["eager"] += sum(1 for s, _ in g["jobs"] if s < r["build_end"])
            tot["jobs"] += len(g["jobs"])
            tot["gap"] += r["wall"] - union_length(g["jobs"], r["start"],
                                                   r["end"])
            tot["run"] += g["run_ms"] / 1e3
            tot["cpu"] += g["cpu_ns"] / 1e9
            tot["gc"] += g["gc_ms"] / 1e3
            tot["tasks"] += g["tasks"]
            tot["sw"] += g["shuffle_write"]
            tot["sr"] += g["shuffle_read"]
            tot["fw"] += g["fetch_wait_ms"] / 1e3
            tot["spill"] += g["spill_disk"]
            tot["urows"] += g["udf_rows"]
            tot["ubytes"] += g["udf_bytes"]
            tot["us"] += g["udf_s"]
            stage_runs.update(g["stage_runs"])
        phased = [r for r in recs if r["phases"]]
        cand = [r for r in recs if r["candidates"]]
        ncand = sum(r["candidates"] for r in cand)
        wall = sum(r["wall"] for r in recs)

        def per_op(key: str) -> float:
            return tot[key] / n

        def phase(k: str) -> float:
            return sum(r["phases"].get(k, 0.0) for r in phased) / max(
                1, len(phased))

        return {
            "operators.build_s": sum(r["build_s"] for r in recs) / n,
            "operators.eager_jobs": per_op("eager"),
            "catalyst.analysis_s": phase("analysis"),
            "catalyst.optimization_s": phase("optimization"),
            "catalyst.planning_s": phase("planning"),
            "driver.jobs": per_op("jobs"),
            "driver.gap_s": per_op("gap"),
            "executor.run_s": per_op("run"),
            "executor.cpu_s": per_op("cpu"),
            "executor.gc_s": per_op("gc"),
            "executor.tasks": per_op("tasks"),
            "executor.busy_frac": tot["run"] / (cores * wall),
            "executor.task_skew": task_skew(stage_runs, cores),
            "shuffle.write_bytes": per_op("sw"),
            "shuffle.read_bytes": per_op("sr"),
            "shuffle.fetch_wait_s": per_op("fw"),
            "shuffle.spill_disk_bytes": per_op("spill"),
            "functions.udf_rows": per_op("urows"),
            "functions.udf_bytes": per_op("ubytes"),
            "functions.udf_s": per_op("us"),
            "functions.candidates": ncand / max(1, len(cand)),
            "functions.candidate_yield": (
                sum(r["rows_out"] or 0 for r in cand) / ncand
                if ncand else 0.0),
            "serving.read_s": median([r["wall"] for r in recs
                                      if r["op"] == SERVE]),
        }
