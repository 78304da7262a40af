"""The benchmark workloads. Each drives a public front-end the way a user
does and records one sample per operation:

- ``tail``: an open-loop live tail onto a preloaded target with the
  changes export and the transcript assembly on; an operation is one
  segment, from its due time to its ``_offsets`` commit.
- ``queries``: warm sweeps of the headline ``__spark_entry__`` queries; an
  operation is one query, and the latency sample of a sweep is its
  geometric-mean query time.

Each workload sets up several times, checks its outputs against an oracle
after measuring, and counts a check failure against the operations it
covers.
"""

from __future__ import annotations

import math
import os
import statistics
import time
from dataclasses import dataclass, field

import pandas as pd

from bench import HEADLINE_QUERIES
from cdcbench import gate, inputs
from cdcbench.layers import lake_files, tombstone_rows


@dataclass
class Op:
    events: int  # change events applied, or 1 per query
    ok: bool = True


@dataclass
class Context:
    spark: object
    work: str  # fresh per run
    cache: gate.DigestCache
    seed: int
    tracer: object | None = None
    setup_s: list[float] = field(default_factory=list)
    ops: list[Op] = field(default_factory=list)
    latency_ms: list[float] = field(default_factory=list)  # samples behind latency_ms_p50
    measured_s: float = 0.0
    batches: list[dict] = field(default_factory=list)  # run() results of measured batches
    new_files: dict[str, int] = field(default_factory=dict)  # lake files measured batches wrote
    layer: dict[str, float] = field(default_factory=dict)  # per-layer values
    failures: list[str] = field(default_factory=list)

    def traced(self, on: bool) -> None:
        if self.tracer is not None:
            self.tracer.active = on


class Tail:
    """Open-loop live tail onto a preloaded target, export and assembly on.
    Pre-decoded segments are renamed from a staging dir into the log at
    fixed due times spread over the run; before each ``run(max_batches=1)``
    every overdue segment becomes visible, so under load several share one
    batch. Per-batch fixed cost dominates; there is no decode."""

    name = "tail"

    def __init__(self, tiny: bool):
        # a few large preload segments, then many small live ones
        self.preload = (2, 200) if tiny else (4, 1000)  # (segments, events each)
        self.live_events = 50 if tiny else 100
        self.n_live = 12 if tiny else 50
        self.log_args = dict(n_convs=50 if tiny else 200, max_turns=40, op_weights=(75, 19, 3, 1, 2))

    def runner(self, ctx: Context, log_path: str, target: str):
        from debezium_connector_cassandra_spark.streaming.runner import CdcRunner

        return CdcRunner(
            ctx.spark,
            log_path,
            target,
            segments_per_batch=1 << 30,  # one batch takes every visible segment
            n_buckets=32,
            export_changes=True,
            maintain_assembly=True,
        )

    def setup(self, ctx: Context) -> None:
        n_segs, per_seg = self.preload
        n_pre = n_segs * per_seg
        preload = inputs.gen_log(ctx.seed, n_pre, events_per_segment=per_seg, **self.log_args)
        live = inputs.gen_log(
            ctx.seed, self.n_live * self.live_events, first_id=n_pre,
            events_per_segment=self.live_events, **self.log_args,
        )
        self.log = pd.concat([preload, live], ignore_index=True)
        self.log_path = os.path.join(ctx.work, "log")
        self.preload_path = os.path.join(ctx.work, "preload_log")  # for the baseline
        self.staging = os.path.join(ctx.work, "staging")
        self.target = os.path.join(ctx.work, "target")
        inputs.write_segments(preload, self.log_path)
        inputs.write_segments(preload, self.preload_path)
        self.live = inputs.write_segments(live, self.staging)
        # preload: one batch; it also warms the JIT and Spark's caches
        self.runner(ctx, self.log_path, self.target).run()
        for _ in range(5):  # set-up = reopening a runner on the existing target
            t0 = time.perf_counter()
            self.live_runner = self.runner(ctx, self.log_path, self.target)
            ctx.setup_s.append(time.perf_counter() - t0)

    def measure(self, ctx: Context, seconds: float) -> None:
        runner = self.live_runner
        commits: list[float] = []
        append_small = runner.offsets.append_small

        def stamped(rows):  # observe each _offsets commit from outside
            version = append_small(rows)
            commits.append(time.perf_counter())
            return version

        runner.offsets.append_small = stamped
        files_before = lake_files(self.target)
        waits: list[float] = []
        backlog_end = 0
        ctx.traced(True)
        t0 = time.perf_counter()
        interval = seconds / self.n_live
        due = {seg: t0 + (k + 1) * interval for k, seg in enumerate(self.live)}
        pending = list(self.live)
        done = 0
        while done < len(self.live):
            while pending and due[pending[0]] <= time.perf_counter():
                seg = pending.pop(0)
                os.rename(
                    os.path.join(self.staging, f"segment_id={seg}"),
                    os.path.join(self.log_path, f"segment_id={seg}"),
                )
                if not pending:  # schedule over: what is still waiting
                    backlog_end = len(self.live) - done
            if len(self.live) - len(pending) == done:  # nothing visible yet
                time.sleep(max(due[pending[0]] - time.perf_counter(), 0))
                continue
            t_batch = time.perf_counter()
            res = runner.run(max_batches=1)[0]
            ctx.batches.append(res)
            for seg in res["segments"]:
                waits.append((t_batch - due[seg]) * 1000)
                ctx.ops.append(Op(self.live_events))
                ctx.latency_ms.append((commits[-1] - due[seg]) * 1000)
                done += 1
        ctx.measured_s = time.perf_counter() - t0
        ctx.traced(False)
        runner.offsets.append_small = append_small
        ctx.layer["streaming.queue_wait_ms_p50"] = statistics.median(waits)
        ctx.layer["streaming.backlog_segments_end"] = backlog_end
        ctx.new_files = {
            p: n for p, n in lake_files(self.target).items() if p not in files_before
        }

    def check(self, ctx: Context) -> None:
        from debezium_connector_cassandra_spark.operators.transcript import (
            assemble_transcripts,
        )

        runner = self.live_runner
        key = f"tail-{ctx.seed}-{'x'.join(map(str, self.preload))}-{self.n_live}x{self.live_events}"
        want = ctx.cache.get(key, lambda: gate.oracle_state_digest(self.log))
        state = runner.target.read_transcripts()
        got = gate.state_digest(state)
        if got != want:
            ctx.failures.append(f"state {got} != oracle {want}")
        cols = ["conv_id", "n_turns", "last_turn", "total_chars", "transcript"]
        maintained = gate.digest(runner.read_assembly().toPandas(), cols)
        rebuilt = gate.digest(assemble_transcripts(state).select(*cols).toPandas(), cols)
        if maintained != rebuilt:
            ctx.failures.append(f"assembly {maintained} != rebuilt from state {rebuilt}")
        # one envelope per event plus a tombstone record per row/partition delete
        want_changes = len(self.log) + int(self.log["op"].isin(["d", "p"]).sum())
        got_changes = runner.changes.read().count()
        if got_changes != want_changes:
            ctx.failures.append(f"changes export rows {got_changes} != {want_changes}")
        ctx.layer["lake.tombstone_rows_end"] = tombstone_rows(runner.target)
        if ctx.failures:
            for op in ctx.ops:
                op.ok = False

    def preload_drain(self, ctx: Context, target: str) -> tuple[int, float]:
        """The preload input drained into a fresh target: (events, seconds).
        The single-core baseline runs it at two core counts."""
        runner = self.runner(ctx, self.preload_path, os.path.join(ctx.work, target))
        t0 = time.perf_counter()
        runner.run()
        return self.preload[0] * self.preload[1], time.perf_counter() - t0


class Queries:
    """Warm sweeps of the 13 headline entry queries (noop sink) over a
    seeded events table of sf0.1's size. The cold first pass is the set-up;
    it also checks every query's rows against its DuckDB oracle. One sweep
    gives one latency sample, its geometric-mean query time: it pools all
    13 queries and weighs each the same, where the sweep's total (which
    ``throughput_per_s`` reports) is dominated by the slowest."""

    name = "queries"

    def __init__(self, tiny: bool):
        self.n_events = 2_000 if tiny else 100_000  # the row count of sf0.1's events
        self.names = HEADLINE_QUERIES[:3] if tiny else HEADLINE_QUERIES

    def setup(self, ctx: Context) -> None:
        import __spark_entry__ as em

        self.sf_dir = os.path.join(ctx.work, "sf")
        inputs.write_events(ctx.seed, self.n_events, self.sf_dir)
        self.queries = em.queries()
        key = f"queries-{ctx.seed}-{self.n_events}-{len(self.names)}"
        want = ctx.cache.get(key, self._oracle_digests)
        self.bad: set[str] = set()
        cold_s = 0.0
        for name in self.names:  # the digests are not timed
            t0 = time.perf_counter()
            rows = self.queries[name](ctx.spark, self.sf_dir).toPandas()
            cold_s += time.perf_counter() - t0
            got = gate.digest(rows)
            if got != want[name]:
                self.bad.add(name)
                ctx.failures.append(f"{name}: {got} != oracle {want[name]}")
        ctx.setup_s.append(cold_s)

    def _oracle_digests(self) -> dict:
        import duckdb

        import __spark_entry__ as em

        oracles = em.oracle_sql()
        con = duckdb.connect()
        try:
            path = os.path.join(self.sf_dir, "events.parquet").replace("'", "''")
            con.execute(f"CREATE VIEW events AS SELECT * FROM '{path}'")
            return {n: gate.digest(con.sql(oracles[n]).df()) for n in self.names}
        finally:
            con.close()

    def _run(self, ctx: Context, name: str) -> None:
        tracer = ctx.tracer
        if tracer is None:
            self.queries[name](ctx.spark, self.sf_dir).write.mode("overwrite").format(
                "noop"
            ).save()
            return
        # traced: construction, planning and execution as separate spans;
        # the noop write plans its own command again (tracing overhead)
        with tracer.span(f"entry.{name}.construct"):
            df = self.queries[name](ctx.spark, self.sf_dir)
        with tracer.span(f"entry.{name}.plan"):
            df._jdf.queryExecution().executedPlan()
        with tracer.span(f"entry.{name}.execute"):
            df.write.mode("overwrite").format("noop").save()

    def measure(self, ctx: Context, seconds: float) -> None:
        ctx.traced(True)
        t0 = time.perf_counter()
        while not ctx.ops or time.perf_counter() < t0 + seconds:
            log_ms = 0.0
            for name in self.names:
                t1 = time.perf_counter()
                self._run(ctx, name)
                log_ms += math.log((time.perf_counter() - t1) * 1000)
                ctx.ops.append(Op(1, name not in self.bad))
            ctx.latency_ms.append(math.exp(log_ms / len(self.names)))
        ctx.measured_s = time.perf_counter() - t0
        ctx.traced(False)

    def check(self, ctx: Context) -> None:
        """Rows were checked on the cold pass in ``setup``; the failing
        queries' measured executions already count as failed."""


WORKLOADS = {w.name: w for w in (Tail, Queries)}
