"""The ``lambda_stream`` workload: the paper's lambda loop, live.

Two file feeds run at once on the same cores:

- documents drive the stateful speed-layer word count
  (``wordcount_stream.start_update_query``, memory sink in update mode);
- events drive the serving store through
  ``rollup.write_batch_partials`` in ``foreachBatch``.

A seeded generator builds every file during set-up (rows resampled from
the corpus), then only renames them into the watched directories on a
fixed schedule: an open loop, one file per feed every two seconds, whose own
lateness is recorded. One reader alternates ``serve_hourly`` interval
queries with lookups on the speed-layer sink, also as an open loop: a
fixed number of reads, one due every 1/``READ_HZ`` s, each timed from
when it was due. After the open loop a fixed backlog is dropped at once
and timed until committed, three times over. The served views are then reconciled against a batch recompute over exactly
the dropped files; any disagreement is a failed op.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import threading
import time

import numpy as np
import pyarrow.parquet as pq

from full_stack_big_data_spark.operators.wordcount import word_counts
from full_stack_big_data_spark.streaming import rollup, wordcount_stream
from full_stack_big_data_spark.streaming.audit import ProgressCollector

from common import canary, median, timing, union_length
from layers import read_event_log, task_skew

DOC_ROWS, EVENT_ROWS = 200, 2000       # rows per dropped file
# files per second, per feed, the two feeds offset by half a period:
# about half the speed layer's capacity on a 4-core host, so the open
# loop measures latency at a sustainable rate and the drain measures
# capacity
RATE_HZ = 0.5
# serving reads due per second: about half the reader's capacity, so
# reads contend with both feeds without queueing behind each other
READ_HZ = 1.5
WARM_FILES, BACKLOG_FILES = 2, 12      # per feed
DRAINS = 3                             # backlog drops after the open loop
SPEED_SINK = "wc_speed"
FEEDS = ("docs", "events")


def _epoch(iso: str) -> float:
    return dt.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


class StreamWorkload:
    def __init__(self, spark, reg, sf_dir: str, run_dir: str, tracer, clock,
                 seed: int, seconds: float, omit_file: bool = False):
        self.spark, self.reg, self.sf_dir = spark, reg, sf_dir
        self.tracer, self.clock = tracer, clock
        self.seed, self.seconds = seed, seconds
        self.omit_file = omit_file
        self.dir = {k: os.path.join(run_dir, k) for k in (
            "stage_docs", "stage_events", "docs", "events", "ckpt_docs",
            "ckpt_events", "rollup")}
        for d in self.dir.values():
            os.makedirs(d, exist_ok=True)
        self.rows = {"docs": DOC_ROWS, "events": EVENT_ROWS}
        self.n_open = max(1, int(seconds * RATE_HZ))
        self.files: dict[str, list[str]] = {f: [] for f in FEEDS}
        self.dropped: dict[str, list[dict]] = {f: [] for f in FEEDS}
        self.reads: list[dict] = []
        self.sink_write_s: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.mismatches: list[str] = []
        self.recomputes: list[tuple[float, float]] = []  # epoch spans
        self.collector: ProgressCollector | None = None
        self.snapshot: dict[str, list[dict]] = {}

    # -- set-up -----------------------------------------------------------
    def generate(self) -> None:
        """Pre-build every file the run will drop, from the seed."""
        rng = np.random.default_rng(self.seed)
        src = {"docs": pq.read_table(f"{self.sf_dir}/documents.parquet"),
               "events": pq.read_table(f"{self.sf_dir}/events.parquet")}
        n_files = WARM_FILES + self.n_open + DRAINS * BACKLOG_FILES
        for feed in FEEDS:
            tbl, n = src[feed], self.rows[feed]
            for i in range(n_files):
                idx = rng.integers(0, tbl.num_rows, n)
                path = os.path.join(self.dir[f"stage_{feed}"],
                                    f"{feed}-{i:05d}.parquet")
                pq.write_table(tbl.take(idx), path)
                self.files[feed].append(path)
        self.schema = {
            "docs": self.spark.read.parquet(self.files["docs"][0]).schema,
            "events": self.spark.read.parquet(self.files["events"][0]).schema}

    def _sink(self, batch_df, batch_id: int) -> None:
        t0 = time.perf_counter()
        with self.tracer.span("sinks.write", op=f"events#b{batch_id}"):
            rollup.write_batch_partials(batch_df, batch_id,
                                        self.dir["rollup"])
        self.sink_write_s.append(time.perf_counter() - t0)

    def start(self) -> None:
        if self.tracer.enabled:
            self.collector = ProgressCollector()
            self.spark.streams.addListener(self.collector)
        rs = self.spark.readStream
        docs = rs.schema(self.schema["docs"]).parquet(self.dir["docs"])
        events = rs.schema(self.schema["events"]).parquet(self.dir["events"])
        self.q = {
            "docs": wordcount_stream.start_update_query(
                docs, SPEED_SINK, self.dir["ckpt_docs"]),
            "events": events.writeStream.foreachBatch(self._sink)
            .option("checkpointLocation", self.dir["ckpt_events"]).start()}

    def _drop(self, feed: str, i: int, due: float, phase: str) -> None:
        src = self.files[feed][i]
        with self.tracer.span("generator.drop", op=f"{feed}#{i}"):
            os.rename(src, os.path.join(self.dir[feed],
                                        os.path.basename(src)))
        self.dropped[feed].append({"i": i, "due": due, "at": time.time(),
                                   "phase": phase})

    def _progress(self, feed: str) -> list[dict]:
        if feed in self.snapshot:
            return self.snapshot[feed]
        if self.collector is not None:
            qid = str(self.q[feed].id)
            ps = [p for p in self.collector.progress if p["id"] == qid]
        else:
            ps = [json.loads(p.json) for p in self.q[feed].recentProgress]
        return sorted((p for p in ps if p["numInputRows"] > 0),
                      key=lambda p: p["batchId"])

    def _wait_committed(self, timeout: float = 60.0) -> None:
        deadline = time.time() + timeout
        while time.time() < deadline:
            if all(sum(p["numInputRows"] for p in self._progress(f))
                   >= len(self.dropped[f]) * self.rows[f] for f in FEEDS):
                return
            time.sleep(0.05)
        raise TimeoutError("stream did not commit every dropped file")

    def warm_up(self) -> None:
        for feed in FEEDS:
            for i in range(WARM_FILES):
                self._drop(feed, i, time.time(), "warm")
        self._wait_committed()
        canary(self.spark, self.reg, self.sf_dir)  # first run is cold
        for k in (0, 1):
            self._read(k, random.Random(self.seed))
        self.attempted += len(self.reads)
        self.failed += sum(1 for r in self.reads if not r["ok"])
        self.reads.clear()

    # -- timed phase ------------------------------------------------------
    def _read(self, k: int, rng: random.Random,
              due: float | None = None) -> None:
        """One serving read: an hourly-rollup interval query (even k) or
        a speed-layer word lookup (odd k), timed from ``due``."""
        t0 = time.time()
        ok = True
        try:
            if k % 2 == 0:
                with self.tracer.span("serving.read", op=f"read#{k}"):
                    lo = dt.datetime(2024, 1, 1) + dt.timedelta(
                        hours=rng.randrange(0, 30 * 24 - 6))
                    rollup.serve_hourly(self.spark, self.dir["rollup"]) \
                        .where(f"hour >= '{lo}' AND hour < "
                               f"'{lo + dt.timedelta(hours=6)}'").collect()
            else:
                with self.tracer.span("speed.lookup", op=f"read#{k}"):
                    words = ", ".join(f"'{w}'" for w in rng.sample(
                        ("spark", "stream", "batch", "query", "value",
                         "window", "join", "data"), 3))
                    self.spark.sql(
                        f"SELECT word, max(cnt) AS cnt FROM {SPEED_SINK} "
                        f"WHERE word IN ({words}) GROUP BY word").collect()
        except Exception as exc:  # a failed read is a failed op
            ok = False
            self.mismatches.append(f"read {k}: {exc!r}"[:500])
        self.reads.append({"kind": "serve" if k % 2 == 0 else "lookup",
                           "due": t0 if due is None else due, "start": t0,
                           "end": time.time(), "ok": ok})

    def _reader(self) -> None:
        """A fixed number of reads, one due every 1/READ_HZ seconds of the
        open loop. A read that comes due while the one before it still
        runs starts when that one ends, and its wait counts in its
        latency. The count never depends on how fast reads run, so every
        run takes the same samples."""
        self.spark.sparkContext.setJobGroup("reader", "serving reads")
        rng = random.Random(self.seed + 1)
        for k in range(int(self.seconds * READ_HZ)):
            due = self.t_open + k / READ_HZ
            time.sleep(max(0.0, due - time.time()))
            self._read(k, rng, due)

    def timed(self) -> None:
        schedule = sorted(
            (i / RATE_HZ + (0.5 / RATE_HZ if feed == "events" else 0.0),
             feed, WARM_FILES + i)
            for feed in FEEDS for i in range(self.n_open))
        reader = threading.Thread(target=self._reader)
        self.t_open = time.time()
        reader.start()
        try:
            for offset, feed, i in schedule:
                due = self.t_open + offset
                time.sleep(max(0.0, due - time.time()))
                self._drop(feed, i, due, "open")
            time.sleep(max(0.0, self.t_open + self.seconds - time.time()))
        finally:
            reader.join()
        self.t_close = time.time()
        self._wait_committed()
        self.t_drops = []
        for j in range(DRAINS):
            first = WARM_FILES + self.n_open + j * BACKLOG_FILES
            self.t_drops.append(time.time())
            for feed in FEEDS:
                for i in range(first, first + BACKLOG_FILES):
                    self._drop(feed, i, self.t_drops[-1], f"backlog{j}")
            self._wait_committed()
        for q in self.q.values():
            q.stop()
        if self.collector is not None:
            self.collector.drain()
            self.spark.streams.removeListener(self.collector)
        self.run_ids = {str(q.runId) for q in self.q.values()}
        self.snapshot = {f: self._progress(f) for f in FEEDS}

    # -- the lambda diff --------------------------------------------------
    def reconcile(self, reps: int = 3) -> None:
        """Batch recompute over exactly the dropped files, compared with
        the speed-layer sink and the served rollup. Timed ``reps`` times:
        the batch layer's pass."""
        dropped = {f: [os.path.join(self.dir[f], os.path.basename(
            self.files[f][d["i"]])) for d in self.dropped[f]] for f in FEEDS}
        if self.omit_file:  # deliberately wrong expectation (self-test)
            dropped["docs"] = dropped["docs"][:-1]
        read = self.spark.read
        for _ in range(reps):
            t0 = time.time()
            with self.tracer.span("oracle.recompute", op="reconcile"):
                batch_wc = word_counts(read.schema(self.schema["docs"])
                                       .parquet(*dropped["docs"])).collect()
                batch_hourly = rollup.hourly_partials(
                    read.schema(self.schema["events"])
                    .parquet(*dropped["events"])).collect()
            self.recomputes.append((t0, time.time()))
        speed = self.spark.sql(f"SELECT word, max(cnt) AS cnt FROM "
                               f"{SPEED_SINK} GROUP BY word").collect()
        served = rollup.serve_hourly(self.spark, self.dir["rollup"]).collect()
        views = {"word_counts": (batch_wc, speed),
                 "hourly_partials": (batch_hourly, served)}
        self.diff = {}
        for name, (want, got) in views.items():
            nkey = 2 if name == "hourly_partials" else 1
            w = {tuple(r)[:nkey]: tuple(r) for r in want}
            g = {tuple(r)[:nkey]: tuple(r) for r in got}
            keys = set(w) | set(g)
            bad = sum(1 for k in keys if w.get(k) != g.get(k))
            self.diff[name] = bad
            self.attempted += 1
            if bad:
                self.failed += 1
                self.mismatches.append(f"lambda diff {name}: {bad} keys")
        self.attempted += len(self.reads)
        self.failed += sum(1 for r in self.reads if not r["ok"])

    # -- metrics ----------------------------------------------------------
    def _file_batches(self, feed: str) -> list[tuple[dict, dict]]:
        """(dropped file, progress of the batch that took it), mapping
        files to batches by cumulative numInputRows."""
        out, cum, it = [], 0, iter(self._progress(feed))
        p = None
        for k, d in enumerate(self.dropped[feed]):
            need = (k + 1) * self.rows[feed]
            while cum < need:
                p = next(it)
                cum += p["numInputRows"]
            out.append((d, p))
        return out

    @staticmethod
    def _span(p: dict) -> tuple[float, float]:
        start = _epoch(p["timestamp"])
        return start, start + p["durationMs"]["triggerExecution"] / 1e3

    def _open_batches(self) -> list[dict]:
        return [p for f in FEEDS for p in self._progress(f)
                if self.t_open <= _epoch(p["timestamp"]) < self.t_close]

    def end_to_end(self) -> dict:
        """Timings in steady seconds (see ``HostSampler``); the wall
        times they come from are in ``wall``."""
        steady = self.clock.steady
        fresh, fresh_wall, drain_end = [], [], [0.0] * DRAINS
        for feed in FEEDS:
            for d, p in self._file_batches(feed):
                end = self._span(p)[1]
                if d["phase"] == "open":
                    fresh.append(steady(d["due"], end))
                    fresh_wall.append(end - d["due"])
                elif d["phase"].startswith("backlog"):
                    j = int(d["phase"][len("backlog"):])
                    drain_end[j] = max(drain_end[j], end)
        batches = self._open_batches()
        backlog_rows = BACKLOG_FILES * sum(self.rows.values())
        return {
            "query": timing([steady(*self._span(p)) for p in batches]),
            "pass_s": median([steady(a, b) for a, b in self.recomputes]),
            "freshness": timing(fresh),
            "serve": timing([steady(r["due"], r["end"])
                             for r in self.reads]),
            "reader_lag_max_s": max((r["start"] - r["due"]
                                     for r in self.reads), default=0.0),
            "drain_rows_per_s": median([
                backlog_rows / steady(t, e) for e, t in zip(drain_end,
                                                            self.t_drops)]),
            "batches": len(batches),
            "wall": {
                "query": timing([p["durationMs"]["triggerExecution"] / 1e3
                                 for p in batches]),
                "freshness": timing(fresh_wall),
                "serve": timing([r["end"] - r["due"]
                                 for r in self.reads]),
                "recompute": [b - a for a, b in self.recomputes]},
        }

    def per_layer(self, log_dir: str, cores: int) -> dict:
        groups = read_event_log(log_dir)
        batches = self._open_batches()
        nb = max(1, len(batches))
        jobs, stage_runs = [], {}
        tot = dict.fromkeys(("run", "cpu", "gc", "tasks", "sw", "sr", "fw",
                             "spill"), 0.0)
        for gid in self.run_ids:
            g = groups.get(gid)
            if g is None:
                continue
            jobs += g["jobs"]
            tot["run"] += g["run_ms"] / 1e3
            tot["cpu"] += g["cpu_ns"] / 1e9
            tot["gc"] += g["gc_ms"] / 1e3
            tot["tasks"] += g["tasks"]
            tot["sw"] += g["shuffle_write"]
            tot["sr"] += g["shuffle_read"]
            tot["fw"] += g["fetch_wait_ms"] / 1e3
            tot["spill"] += g["spill_disk"]
            stage_runs.update(g["stage_runs"])
        all_batches = [p for f in FEEDS for p in self._progress(f)]
        nall = max(1, len(all_batches))
        gaps = [(e - s) - union_length(jobs, s, e)
                for s, e in map(self._span, batches)]
        busy = sum(p["durationMs"]["triggerExecution"]
                   for p in all_batches) / 1e3

        def dur(key: str) -> float:
            return sum(p["durationMs"].get(key, 0) for p in batches) / (
                1e3 * nb)

        waits, lag, backlog = [], [], []
        commits = []
        for feed in FEEDS:
            for d, p in self._file_batches(feed):
                if d["phase"] == "open":
                    waits.append(_epoch(p["timestamp"]) - d["at"])
                    lag.append(d["at"] - d["due"])
                    commits.append((d["at"], self._span(p)[1]))
        for at, _ in commits:
            backlog.append(sum(1 for a, c in commits if a <= at < c))
        state = [so for p in self._progress("docs")
                 for so in p.get("stateOperators", [])]
        last_state = self._progress("docs")[-1].get("stateOperators") or [{}]
        rollup_files = [f for _, _, fs in os.walk(self.dir["rollup"])
                        for f in fs if f.endswith(".parquet")]
        serves = [r["end"] - r["start"] for r in self.reads
                  if r["kind"] == "serve"]
        return {
            "driver.jobs": len([j for j in jobs
                                if self.t_open <= j[0] < self.t_close]) / nb,
            "driver.gap_s": sum(gaps) / nb,
            "executor.run_s": tot["run"] / nall,
            "executor.cpu_s": tot["cpu"] / nall,
            "executor.gc_s": tot["gc"] / nall,
            "executor.tasks": tot["tasks"] / nall,
            "executor.busy_frac": tot["run"] / (cores * busy),
            "executor.task_skew": task_skew(stage_runs, cores),
            "shuffle.write_bytes": tot["sw"] / nall,
            "shuffle.read_bytes": tot["sr"] / nall,
            "shuffle.fetch_wait_s": tot["fw"] / nall,
            "shuffle.spill_disk_bytes": tot["spill"] / nall,
            "sources.latest_offset_s": dur("latestOffset"),
            "sources.get_batch_s": dur("getBatch"),
            "generator.lag_max_s": max(lag) if lag else 0.0,
            "generator.backlog_files_max": float(max(backlog or [0])),
            "streaming.batches": float(len(batches)),
            "streaming.batch_s": dur("triggerExecution"),
            "streaming.add_batch_s": dur("addBatch"),
            "streaming.query_planning_s": dur("queryPlanning"),
            "streaming.wal_commit_s": dur("walCommit"),
            "streaming.commit_offsets_s": dur("commitOffsets"),
            "streaming.queue_wait_s": median(waits),
            "streaming.rows_per_batch": sum(
                p["numInputRows"] for p in batches) / nb,
            "state.rows_total": float(last_state[0].get("numRowsTotal", 0)),
            "state.memory_bytes": float(
                last_state[0].get("memoryUsedBytes", 0)),
            "state.commit_s": sum(so.get("commitTimeMs", 0)
                                  for so in state) / 1e3 / max(1, len(state)),
            "sinks.write_s": median(self.sink_write_s),
            "sinks.files_written": float(len(rollup_files)),
            "serving.read_s": median(serves),
            "serving.store_dirs": float(sum(
                1 for d in os.listdir(self.dir["rollup"])
                if d.startswith("batch_id="))),
        }
