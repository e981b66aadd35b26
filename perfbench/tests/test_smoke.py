"""Smoke self-test of the benchmark at sf0.001.

    python3 -m pytest perfbench/tests -q

Runs the benchmark command in subprocesses, exactly as it is run for
measurement, on the tiny corpus with a two-second timed phase. Each
session uses its own work directory, so smoke results never mix with
measurement results.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import corpus  # noqa: E402
from run import END_TO_END, PER_LAYER, WORKLOADS  # noqa: E402

SEED = 7


@pytest.fixture(scope="session")
def work(tmp_path_factory):
    return str(tmp_path_factory.mktemp("perfbench-work"))


def bench(work: str, workload: str, trace: int, *extra: str
          ) -> tuple[int, dict]:
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload",
         workload, "--seed", str(SEED), "--seconds", "2", "--trace",
         str(trace), "--sf", "0.001", *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
        env={**os.environ, "PERFBENCH_WORK": work})
    lines = proc.stdout.strip().splitlines()
    assert lines, proc.stderr[-3000:]
    return proc.returncode, json.loads(lines[-1])


@pytest.mark.parametrize("workload", WORKLOADS)
@pytest.mark.parametrize("trace", (0, 1))
def test_every_metric_is_emitted_with_its_unit(work, workload, trace):
    code, res = bench(work, workload, trace)
    assert code == 0 and res["correct"] and res["failed"] == 0
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    want = PER_LAYER if trace else END_TO_END
    assert {k: m["unit"] for k, m in res["metrics"].items()} == want
    for name, m in res["metrics"].items():
        assert isinstance(m["value"], float) and m["value"] == m["value"], (
            name, m)


def test_wrong_expectation_registers_as_failure(work):
    """One dropped file left out of the batch recompute must show up in
    the lambda diff, count as a failed op and fail the command."""
    code, res = bench(work, "lambda_stream", 0, "--omit-file")
    assert code != 0
    assert res["correct"] is False and res["failed"] >= 1


def test_spans_chain_each_op_to_its_layer_calls(work):
    code, _ = bench(work, "llm_curation", 1)
    assert code == 0
    with open(os.path.join(work, "results",
                           f"spans-llm_curation-{SEED}.json")) as f:
        spans = json.load(f)
    ops = [s for s in spans if s["name"] == "op"]
    assert ops
    for op in ops:
        kids = {s["name"] for s in spans if s["parent"] == op["id"]}
        assert {"operators.build", "catalyst.plan", "action.noop"} <= kids
        assert all(s["op"] == op["op"] for s in spans
                   if s["parent"] == op["id"])
        assert op["start"] <= op["end"]


def test_corpus_matches_the_reference_test_data(work):
    """Where the engine's reference test data is present, the generated
    corpus has its schemas and row counts, table by table."""
    from full_stack_big_data_spark.engine.catalog import DEFAULT_SF_DIR
    ref = os.path.join(os.path.dirname(DEFAULT_SF_DIR), "sf0.001")
    if not os.path.isdir(ref):
        pytest.skip("no reference test data on this host")
    out = os.path.join(work, "corpus", "sf0.001")
    corpus.build(out, 0.001)
    for t in corpus.TABLES:
        want = pq.ParquetFile(f"{ref}/{t}.parquet")
        got = pq.ParquetFile(f"{out}/{t}.parquet")
        assert got.schema_arrow.remove_metadata() == \
            want.schema_arrow.remove_metadata(), t
        assert got.schema.to_arrow_schema() == \
            want.schema.to_arrow_schema(), t
        assert got.metadata.num_rows == want.metadata.num_rows, t
