"""Per-layer metrics of a traced run, from its spans, its Spark event log
and the files its lake tables gained.

Values are per batch on the ingest workloads and per sweep on
``queries``, except where a name says otherwise (``_end``, ``_p50``,
``entry.*`` per query, ``traced.*`` and ``baseline.*`` per run).
``.ms`` is inclusive wall time, ``.self_ms`` excludes child spans and
``.jobs`` counts the Spark jobs a span started itself.
"""

from __future__ import annotations

import os
import statistics
from collections import defaultdict

import pyarrow.parquet as pq

from cdcbench.trace import OPERATORS, parse_event_log, skew

# state-table copy-on-write: where the lazy apply plan executes
OVERWRITE_STATS = ("jobs", "tasks", "cpu_ms", "shuffle_bytes", "spill_bytes")


def lake_files(root: str) -> dict[str, int]:
    """Every file under a lake root, with its size."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            out[p] = os.path.getsize(p)
    return out


def lake_writes(new_files: dict[str, int], n_batches: int, n_events: int) -> dict[str, float]:
    """Write amplification from the files a run added (copy-on-write never
    rewrites a file in place, so every new path is a write)."""
    parquet = [p for p in new_files if p.endswith(".parquet")]
    state_rows = sum(
        pq.read_metadata(p).num_rows for p in parquet if f"{os.sep}state{os.sep}data{os.sep}" in p
    )
    nbytes = sum(new_files.values())
    per = max(n_batches, 1)
    return {
        "lake.bytes_written_per_batch": nbytes / per,
        "lake.files_written_per_batch": len(parquet) / per,
        "lake.commits_per_batch": sum(
            1 for p in new_files if f"{os.sep}_manifests{os.sep}" in p and p.endswith(".json")
        ) / per,
        "lake.rows_rewritten_per_batch": state_rows / per,
        "lake.write_bytes_per_event": nbytes / n_events if n_events else 0.0,
    }


def tombstone_rows(target) -> int:
    """Rows in a target's tombstone store, from parquet footers (no job)."""
    m = target.tombstones.manifest()
    return sum(
        pq.read_metadata(os.path.join(target.tombstones.path, f)).num_rows
        for files in m["buckets"].values()
        for f in files
    )


def per_layer(ctx, workload, e2e: dict, event_log: str) -> None:
    """Fill ``ctx.layer``. Stops ``ctx.spark`` to close its event log."""
    L = ctx.layer
    ctx.spark.stop()
    events = parse_event_log(event_log)
    tracer = ctx.tracer
    dur = tracer.durations()
    ids = defaultdict(list)
    for s in tracer.spans:
        ids[s["name"]].append(s["id"])
    n_batches = len(ids["streaming.run_batch"])
    n_sweeps = len(ctx.ops) // len(getattr(workload, "names", [None]))
    units = max(n_batches or n_sweeps, 1)

    def ms(name: str, self_time: bool = False) -> float:
        return sum(dur[i][1 if self_time else 0] for i in ids[name]) / units

    def ev(name: str, key: str) -> float:
        return sum(events.get(i, {}).get(key, 0) for i in ids[name]) / units

    L["sources.read_mutation_log.ms"] = ms("sources.read_mutation_log")
    L["sources.read_mutation_log.jobs"] = ev("sources.read_mutation_log", "jobs")
    L["sources.read_mutation_log.calls"] = len(ids["sources.read_mutation_log"]) / units
    L["sources.discover_segments.ms"] = ms("sources.discover_segments")
    L["streaming.batches"] = n_batches
    for name in ("streaming.run_batch", "plans.apply_batch", "operators.refresh_assembly"):
        L[f"{name}.self_ms"] = ms(name, self_time=True)
        L[f"{name}.jobs"] = ev(name, "jobs")
    op_names = {f"operators.{fn}" for _, fn in OPERATORS}
    for name in sorted(op_names):
        L[f"{name}.ms"] = ms(name)
    top = [
        s["id"] for s in tracer.spans
        if s["name"] in op_names
        and (s["parent"] is None or tracer.spans[s["parent"]]["name"] not in op_names)
    ]
    L["operators.construct_ms"] = sum(dur[i][0] for i in top) / units
    L["functions.with_envelope.ms"] = ms("functions.with_envelope")
    L["functions.explode_batch_mutations.ms"] = ms("functions.explode_batch_mutations")
    L["lake.manifest.calls"] = tracer.counts["lake.manifest"] / units
    small = [n for n in ids if n.endswith("append_small")]
    L["lake.append_small.ms"] = sum(ms(n) for n in small)
    L["lake.append_small.calls"] = sum(len(ids[n]) for n in small) / units
    L["lake.overwrite_buckets.ms"] = ms("lake.overwrite_buckets")
    for key in OVERWRITE_STATS:
        L[f"lake.overwrite_buckets.{key}"] = ev("lake.overwrite_buckets", key)
    L["lake.overwrite_buckets.skew"] = skew(
        [t for i in ids["lake.overwrite_buckets"] for t in events.get(i, {}).get("stage_task_ms", {}).values()]
    )
    L["lake.assembly.overwrite_buckets.ms"] = ms("lake.assembly.overwrite_buckets")
    L["lake.assembly.overwrite_buckets.jobs"] = ev("lake.assembly.overwrite_buckets", "jobs")
    L["lake.changes.write_segments.ms"] = ms("lake.changes.write_segments")
    L["lake.changes.write_segments.jobs"] = ev("lake.changes.write_segments", "jobs")
    L.update(lake_writes(ctx.new_files, n_batches, sum(o.events for o in ctx.ops)))
    if ctx.batches:
        L["lake.buckets_rewritten_per_batch"] = statistics.mean(
            b["n_buckets_rewritten"] for b in ctx.batches
        )
    L["spark.jobs"] = sum(e["jobs"] for e in events.values()) / units
    L["spark.tasks"] = sum(e["tasks"] for e in events.values()) / units
    for name in getattr(workload, "names", []):
        for phase in ("construct", "plan", "execute"):
            spans = ids[f"entry.{name}.{phase}"]
            L[f"entry.{name}.{phase}_ms"] = statistics.median(dur[i][0] for i in spans) if spans else 0.0
    for k, v in e2e.items():
        L[f"traced.{k}"] = v


def single_core_baseline(ctx, workload, cpus: int, start_spark):
    """The preload input drained into a fresh target at the run's core
    count, then at ``local[1]``; ``baseline.speedup_over_local1`` is their
    ratio over the ``local[1]`` base. Each drain gets a new session started
    the same way, with no event log, after the tracer is uninstalled. Both
    reuse the run's JVM, so both are warm. The process-scaling protocol
    needs 16 pinned CPUs and is not run. Returns the session to stop."""
    rates = []
    for k, n in enumerate((cpus, 1)):
        ctx.spark.stop()
        ctx.spark = start_spark(f"cdcbench-local{n}", f"local[{n}]", ctx.work, None)
        events, secs = workload.preload_drain(ctx, f"target_baseline{k}")
        rates.append(events / secs)
    ctx.layer["baseline.localN_events_per_s"] = rates[0]
    ctx.layer["baseline.local1_events_per_s"] = rates[1]
    ctx.layer["baseline.speedup_over_local1"] = rates[0] / rates[1]
    return ctx.spark
