"""The shared batch core under the four front-ends (CdcRunner, CdcStream,
MultiTableRunner, MultiTableStream): Spark jobs per steady-state batch, the
single bucket-hash source, and the options a stream front-end refuses or
now honours."""

import shutil
import sys

import pytest
from pyspark.sql import functions as F

from debezium_connector_cassandra_spark.lake.table import LakeTable, bucket_expr
from debezium_connector_cassandra_spark.model import MULTI_TABLE_LOG_SCHEMA
from debezium_connector_cassandra_spark.plans.apply import CdcTarget
from debezium_connector_cassandra_spark.sources.generator import (
    gen_mutation_log,
    gen_multi_table_log,
    read_mutation_log,
    write_mutation_log,
)
from debezium_connector_cassandra_spark.streaming.batch_core import BatchCore
from debezium_connector_cassandra_spark.streaming.multi_table import (
    MultiTableRunner,
    MultiTableStream,
)
from debezium_connector_cassandra_spark.streaming.runner import CdcRunner
from debezium_connector_cassandra_spark.streaming.schema_evolution import SchemaChange
from debezium_connector_cassandra_spark.streaming.stream import CdcStream

from .test_multi_table import SPECS
from .test_range_markers import _marker_rows

PKG = "debezium_connector_cassandra_spark"
FRONT_ENDS = ("CdcRunner", "CdcStream", "MultiTableRunner", "MultiTableStream")
STREAM_TWIN = {"CdcStream": "CdcRunner", "MultiTableStream": "MultiTableRunner"}
# upper bounds on Spark jobs per steady-state batch of the fixture below
# (AQE off), as measured when the four front-ends came to share one core;
# CdcRunner's 8 is unchanged from before. Fewer is fine; more means a job
# crept back into the batch path.
MAX_JOBS = {"CdcRunner": 8, "CdcStream": 8, "MultiTableRunner": 29, "MultiTableStream": 29}


def _count_jobs(spark, group: str, fn) -> int:
    """Spark jobs ``fn`` starts, tagged with a job group of their own.

    Adaptive execution is off while ``fn`` runs: AQE submits query stages
    as jobs from a thread pool and sometimes folds several into one, so the
    same batch's count jitters by up to two per apply. Without it the count
    is the plan's own: one job per action, plus broadcasts."""
    sc = spark.sparkContext
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture
def apply_spy(monkeypatch):
    """Record the ``stats`` every engine call of apply_batch receives (the
    function is replaced wherever an engine module imported it by name)."""
    from debezium_connector_cassandra_spark.plans import apply as apply_mod

    orig = apply_mod.apply_batch
    seen: list = []

    def spy(target, batch, *args, **kwargs):
        seen.append(kwargs.get("stats", args[1] if len(args) > 1 else None))
        return orig(target, batch, *args, **kwargs)

    for mod in list(sys.modules.values()):
        if getattr(mod, "__name__", "").startswith(PKG) and getattr(
            mod, "apply_batch", None
        ) is orig:
            monkeypatch.setattr(mod, "apply_batch", spy)
    return seen


@pytest.fixture(scope="module")
def job_logs(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("jobs")
    single = str(root / "log")
    write_mutation_log(
        gen_mutation_log(
            spark, 600, n_convs=20, max_turns=12, events_per_segment=300,
            n_log_partitions=2, seed=5,
        ),
        single,
    )
    multi = str(root / "mt_log")
    write_mutation_log(
        gen_multi_table_log(
            spark, SPECS, n_events=600, n_convs=15, max_turns=12,
            events_per_segment=300, n_log_partitions=2, seed=5,
        ),
        multi,
    )
    return root, single, multi


def _steady_batch(spark, job_logs, front_end: str) -> int:
    """Jobs for segment 1 after segment 0 went through the batch runner."""
    root, single, multi = job_logs
    target = str(root / f"t-{front_end}")
    shutil.rmtree(target, ignore_errors=True)
    if front_end.startswith("Cdc"):
        runner = CdcRunner(spark, single, target, n_buckets=4)
        runner.run_batch([0])
        if front_end == "CdcRunner":
            return _count_jobs(spark, front_end, lambda: runner.run_batch([1]))
        df = read_mutation_log(spark, single).where(F.col("segment_id") == 1)
        stream = CdcStream(runner)
        return _count_jobs(spark, front_end, lambda: stream._handle_batch(df, 1))
    runner = MultiTableRunner(spark, multi, target, SPECS, n_buckets=4)
    runner.run_batch([0])
    if front_end == "MultiTableRunner":
        return _count_jobs(spark, front_end, lambda: runner.run_batch([1]))
    df = (
        spark.read.schema(MULTI_TABLE_LOG_SCHEMA)
        .parquet(multi)
        .where(F.col("segment_id") == 1)
    )
    stream = MultiTableStream(runner)
    return _count_jobs(spark, front_end, lambda: stream._handle_batch(df, 1))


@pytest.fixture(scope="module")
def jobs_per_batch():
    return {}


@pytest.mark.parametrize("front_end", FRONT_ENDS)
def test_jobs_per_steady_state_batch(spark, job_logs, jobs_per_batch, apply_spy, front_end):
    """Every front-end hands apply_batch the pre-scan's stats with the
    touched bucket pairs (no fallback stats or bucket-discovery job), and a
    stream front-end runs no more Spark jobs per batch than its batch twin
    on the same segment."""
    jobs = jobs_per_batch[front_end] = _steady_batch(spark, job_logs, front_end)
    print(f"{front_end}: {jobs} jobs per steady-state batch")
    assert apply_spy, "no apply ran"
    for stats in apply_spy:
        assert stats is not None and "bucket_pairs" in stats, front_end
    assert jobs <= MAX_JOBS[front_end]
    twin = STREAM_TWIN.get(front_end)
    if twin is not None:
        if twin not in jobs_per_batch:
            jobs_per_batch[twin] = _steady_batch(spark, job_logs, twin)
        assert jobs <= jobs_per_batch[twin], jobs_per_batch


# conv_id -> (bucket of 8, bucket of 2): pinned values of the one bucket
# function, pmod(xxhash64(key), n)
SAMPLE_BUCKETS = {
    "": (4, 0),
    "c1": (2, 0),
    "conv-000017": (6, 0),
    "日本語-é": (0, 0),
    "'quoted'": (3, 1),
    '"dq"': (0, 0),
    "`bt`": (3, 1),
    "a.b": (1, 1),
    "x' OR '1'='1": (5, 1),
}


def test_bucket_hash_has_one_source(spark, tmp_path):
    """bucket_expr, the bucket LakeTable.overwrite_buckets writes each key
    to and the pre-scan's (state, tombstone-store) bucket pairs agree on
    sample keys, empty, unicode and quoted-looking ones included."""
    keys = list(SAMPLE_BUCKETS)
    df = spark.createDataFrame([(k,) for k in keys], "conv_id string")
    got = df.select(
        "conv_id", bucket_expr("conv_id", 8).alias("b8"), bucket_expr("conv_id", 2).alias("b2")
    ).collect()
    assert {r["conv_id"]: (r["b8"], r["b2"]) for r in got} == SAMPLE_BUCKETS

    table = LakeTable.create(spark, str(tmp_path / "t"), df.schema, "conv_id", 8)
    table.overwrite_buckets(df, list(range(8)))
    for b in range(8):
        written = {r["conv_id"] for r in table.read(buckets=[b]).collect()}
        assert written == {k for k, (b8, _) in SAMPLE_BUCKETS.items() if b8 == b}

    # 8 state buckets -> 2 tombstone-store buckets; one segment per key
    target = CdcTarget.create(spark, str(tmp_path / "tgt"), n_buckets=8)
    log = spark.createDataFrame(
        [(i, 0, 16 * i, 100, "i", k) for i, k in enumerate(keys)],
        "segment_id long, log_partition int, position long, writetime long, "
        "op string, conv_id string",
    )
    rows = BatchCore(spark, str(tmp_path / "no-log")).prescan(log, target)
    assert {keys[r["segment_id"]]: r["bucket_pairs"] for r in rows} == {
        k: [pair] for k, pair in SAMPLE_BUCKETS.items()
    }


def _runner(spark, tmp_path, **kwargs):
    return CdcRunner(spark, str(tmp_path / "log"), str(tmp_path / "t"), n_buckets=4, **kwargs)


@pytest.mark.parametrize(
    "option",
    [
        {"export_changes": True},
        {"export_changes": True, "tracing": True},
        {"commit_log_transfer": object()},
        {"schema_changes": (SchemaChange(2, "ADD COLUMN c string", 5),)},
    ],
    ids=lambda o: "+".join(o),
)
def test_stream_refuses_options_needing_whole_segments(spark, tmp_path, option):
    """A stream never sees a complete segment, so options that act on one
    are refused, not silently ignored."""
    with pytest.raises(ValueError, match=next(iter(option))):
        CdcStream(_runner(spark, tmp_path, **option))
    if "export_changes" in option and "tracing" not in option:
        mt = MultiTableRunner(
            spark, str(tmp_path / "mt_log"), str(tmp_path / "mt"), SPECS[:1], export_changes=True
        )
        with pytest.raises(ValueError, match="export_changes"):
            MultiTableStream(mt)


def test_stream_honours_decode_chain_options(spark, tmp_path):
    """validate_writetimes and excluded_fields ride the shared decode chain,
    so a stream micro-batch honours them like the batch runner."""
    dup = [
        (0, 0, "i", "c1", 1, 100, ("user", "a", None, None), None, None),
        (0, 16, "u", "c1", 1, 100, ("user", "b", None, None), None, None),
    ]
    stream = CdcStream(_runner(spark, tmp_path / "v", validate_writetimes=True))
    with pytest.raises(ValueError, match="duplicate writetime"):
        stream._handle_batch(_marker_rows(spark, dup), 0)

    runner = _runner(spark, tmp_path / "x", excluded_fields=("text",))
    CdcStream(runner)._handle_batch(_marker_rows(spark, dup[:1]), 0)
    (row,) = runner.target.read_transcripts().collect()
    assert row["role"] == "user" and row["text"] is None
    # the stream's batch landed offsets, 'streamed' lineage and a _metrics row
    assert runner.checkpointed_offsets() == {0: (0, 0)}
    assert [r["status"] for r in runner.lineage.read().collect()] == ["streamed"]
    assert [r["n_applied"] for r in runner.metrics.read().collect()] == [1]
