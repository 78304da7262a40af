"""Outside-in tracing for the traced benchmark run.

Spans are recorded from the benchmark's own files: the module attributes
and class methods the front-ends call are replaced by timing wrappers, so
the engine itself carries no instrumentation. Every span tags the Spark
jobs it starts with its own job group; the Spark event log of the traced
run then attributes jobs, tasks, executor CPU, shuffle and spill bytes to
spans.

Operator and function spans (``operators.*``, ``functions.*``) time plan
CONSTRUCTION only: Spark plans are lazy, so their execution lands in the
span that runs the action, mostly ``lake.overwrite_buckets``.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

GROUP_PREFIX = "cdcbench-span-"

# (span name, module, attribute, class attribute or None). Function targets
# are replaced in every loaded engine module that imported them by name.
SPAN_TARGETS = [
    ("streaming.run", "streaming.runner", "CdcRunner", "run"),
    ("streaming.run_batch", "streaming.runner", "CdcRunner", "run_batch"),
    ("sources.read_mutation_log", "sources.generator", "read_mutation_log", None),
    ("sources.discover_segments", "sources.log_scan", "discover_segments", None),
    ("plans.apply_batch", "plans.apply", "apply_batch", None),
    ("functions.with_envelope", "functions.decode", "with_envelope", None),
    ("functions.explode_batch_mutations", "functions.decode", "explode_batch_mutations", None),
    ("operators.refresh_assembly", "operators.transcript", "refresh_assembly", None),
    ("lake.overwrite_buckets", "lake.table", "LakeTable", "overwrite_buckets"),
    ("lake.append_small", "lake.table", "LakeTable", "append_small"),
    ("lake.changes.write_segments", "lake.changes", "ChangesExport", "write_segments"),
]
OPERATORS = [
    ("lww", "reduce_events"),
    ("lww", "finalize_state"),
    ("lww", "merge_states"),
    ("lww", "kill_state"),
    ("lww", "drop_invisible"),
    ("tombstones", "tomb_wt_for_keys"),
    ("tombstones", "extract_tombstones"),
    ("tombstones", "union_tombstones"),
    ("tombstones", "rows_to_tombstones"),
    ("tombstones", "tombstones_to_rows"),
]
SPAN_TARGETS += [(f"operators.{fn}", f"operators.{mod}", fn, None) for mod, fn in OPERATORS]
# LakeTable writes: spans on tables other than the state say which table
PER_TABLE = {"lake.overwrite_buckets", "lake.append_small"}
# counted, not timed: called many times per batch
COUNT_TARGETS = [("lake.manifest", "lake.table", "LakeTable", "manifest")]
PKG = "debezium_connector_cassandra_spark"


def _table_name(args) -> str:
    """Lake table a LakeTable method was called on: the path's last part."""
    return os.path.basename(str(getattr(args[0], "path", "")).rstrip("/"))


class Tracer:
    """In-memory spans with parent links; job-group tagging per span."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.counts: dict[str, int] = defaultdict(int)
        self.active = False
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    # -- spans --------------------------------------------------------------
    def _set_group(self, sid: int | None) -> None:
        self.sc.setLocalProperty(
            "spark.jobGroup.id", None if sid is None else f"{GROUP_PREFIX}{sid}"
        )

    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "name": name, "parent": parent, "start": time.perf_counter()}
        self.spans.append(rec)
        self._stack.append(sid)
        self._set_group(sid)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)

    # -- patching -----------------------------------------------------------
    def _wrap(self, name: str, fn):
        tracer = self

        def wrapper(*args, **kwargs):
            span_name = name
            if name in PER_TABLE and _table_name(args) != "state":
                # state writes keep the plain name; other tables say theirs
                span_name = name.replace("lake.", f"lake.{_table_name(args)}.", 1)
            with tracer.span(span_name):
                return fn(*args, **kwargs)

        wrapper.__wrapped__ = fn
        return wrapper

    def _counter(self, name: str, fn):
        tracer = self

        def wrapper(*args, **kwargs):
            if tracer.active:
                tracer.counts[name] += 1
            return fn(*args, **kwargs)

        wrapper.__wrapped__ = fn
        return wrapper

    def _replace(self, owner, attr: str, new) -> None:
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def install(self) -> None:
        import importlib

        for name, mod, attr, meth in SPAN_TARGETS + COUNT_TARGETS:
            module = importlib.import_module(f"{PKG}.{mod}")
            counted = (name, mod, attr, meth) in COUNT_TARGETS
            if meth is not None:
                cls = getattr(module, attr)
                fn = cls.__dict__[meth]
                new = self._counter(name, fn) if counted else self._wrap(name, fn)
                self._replace(cls, meth, new)
                continue
            fn = getattr(module, attr)
            new = self._wrap(name, fn)
            for m in list(sys.modules.values()):
                mname = getattr(m, "__name__", "")
                if (mname.startswith(PKG) or mname == "__spark_entry__") and getattr(
                    m, attr, None
                ) is fn:
                    self._replace(m, attr, new)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # -- analysis -----------------------------------------------------------
    def durations(self) -> dict[int, tuple[float, float]]:
        """span id -> (inclusive ms, self ms)."""
        child_ms: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child_ms[s["parent"]] += (s["end"] - s["start"]) * 1000
        return {
            s["id"]: (
                (s["end"] - s["start"]) * 1000,
                (s["end"] - s["start"]) * 1000 - child_ms[s["id"]],
            )
            for s in self.spans
        }


def parse_event_log(log_dir: str) -> dict[int, dict]:
    """Spark event log -> per-span job/task statistics, keyed by span id.

    Per span: jobs, tasks, executor CPU ms, shuffle bytes written, disk
    spill bytes, and the stage task times (for the skew signal)."""
    files = sorted(glob.glob(os.path.join(log_dir, "*")))
    stage_span: dict[int, int] = {}
    out: dict[int, dict] = defaultdict(
        lambda: {"jobs": 0, "tasks": 0, "cpu_ms": 0.0, "shuffle_bytes": 0,
                 "spill_bytes": 0, "stage_task_ms": defaultdict(list)}
    )
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    if not group.startswith(GROUP_PREFIX):
                        continue
                    sid = int(group[len(GROUP_PREFIX):])
                    out[sid]["jobs"] += 1
                    for st in ev.get("Stage IDs", []):
                        stage_span[st] = sid
                elif kind == "SparkListenerTaskEnd":
                    sid = stage_span.get(ev.get("Stage ID"))
                    if sid is None:
                        continue
                    info = ev.get("Task Info", {})
                    tm = ev.get("Task Metrics") or {}
                    rec = out[sid]
                    rec["tasks"] += 1
                    rec["cpu_ms"] += tm.get("Executor CPU Time", 0) / 1e6
                    rec["shuffle_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    rec["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
                    rec["stage_task_ms"][ev["Stage ID"]].append(
                        info.get("Finish Time", 0) - info.get("Launch Time", 0)
                    )
    return dict(out)


def skew(stage_task_ms: list[list[float]]) -> float:
    """DS2-style skew over stages with >= 4 tasks: sum of per-stage max task
    time over sum of per-stage median task time (1.0 = no skew)."""
    stages = [ts for ts in stage_task_ms if len(ts) >= 4]
    med = sum(statistics.median(ts) for ts in stages)
    return sum(max(ts) for ts in stages) / med if med > 0 else 0.0
