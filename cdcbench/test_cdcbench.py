"""The benchmark's own checks: the correctness gate rejects a corrupted
state, and a tiny run of every workload prints every declared metric with
its unit.

    python3 -m pytest cdcbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from cdcbench import gate, inputs  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


@pytest.fixture(scope="module")
def spark():
    from debezium_connector_cassandra_spark.session import get_spark

    return get_spark(app_name="cdcbench-test", master="local[2]", shuffle_partitions=4)


def test_gate_rejects_corrupted_state(spark, tmp_path):
    from pyspark.sql import functions as F

    from debezium_connector_cassandra_spark.streaming.runner import CdcRunner

    log = inputs.gen_log(3, 600, n_convs=10, max_turns=8, events_per_segment=200)
    inputs.write_segments(log, str(tmp_path / "log"))
    runner = CdcRunner(spark, str(tmp_path / "log"), str(tmp_path / "target"), n_buckets=4)
    runner.run()
    want = gate.oracle_state_digest(log)
    assert gate.state_digest(runner.target.read_transcripts()) == want

    # rewrite one cell through the table's own copy-on-write commit
    state = runner.target.state
    victim = state.read().orderBy("conv_id", "turn_idx").first()
    hit = (F.col("conv_id") == victim["conv_id"]) & (F.col("turn_idx") == victim["turn_idx"])
    corrupted = state.read().withColumn(
        "text", F.when(hit, F.lit("corrupted")).otherwise(F.col("text"))
    )
    state.overwrite_buckets(corrupted.localCheckpoint(), list(range(4)))
    assert gate.state_digest(runner.target.read_transcripts()) != want


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_tiny_run_prints_every_declared_metric(workload, trace):
    out = subprocess.run(
        [sys.executable, "cdcbench/run.py", "--workload", workload, "--seed", "5",
         "--seconds", "1", "--trace", str(trace), "--tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    declared = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {n: m["unit"] for n, m in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in declared
    }
    for m in declared:  # and the human-readable table names each one
        assert any(line.split()[:1] == [m["name"]] and line.endswith(m["unit"]) for line in lines)
    if not trace:
        assert all(m["value"] > 0 for m in result["metrics"].values())
