"""Multi-table / multi-keyspace capture — the reference's KeyspaceTable +
SchemaHolder machinery re-expressed over one shared commit log.

Reference shape (core/.../KeyspaceTable.java, SchemaHolder.java:18-52,
scenario tests/.../MultipleTablesProcessingTest.java:27-106): one commit-log
stream interleaves mutations of every cdc-enabled table; each mutation is
decoded against ITS table's schema (SchemaHolder lookup) and routed to its
own topic/target, while offsets advance on the shared log.

Spark formulation: the log (model.MULTI_TABLE_LOG_SCHEMA) carries
(keyspace, table) routing columns and a per-table serialized payload; each
batch runs through the batch core (``batch_core``), decoding per TableSpec
into each table's own CdcTarget. This front-end owns the per-table fan-out:
offsets are (fqtn, log_partition) watermarks, lineage rows are (fqtn,
segment) grained, and each table's rows land right after that table's apply
commits, so a crash mid-batch resumes with only the un-committed tables
replaying (idempotent merges make the replay a no-op for tables that
already applied). A segment is globally 'done' when every table's apply
committed.

Snapshot table selection (S7) is the real anti-join the reference performs
(SnapshotProcessor.getTablesToSnapshot:154-161): cdc-enabled tables MINUS
already-snapshotted ones, as a DataFrame anti-join on the offsets table.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.decode import decode_table_payload  # noqa: F401  (imported from here)
from ..lake.table import LakeTable
from ..model import TableSpec
from ..plans.apply import CdcTarget, apply_batch
from ..sources.log_scan import discover_segments
from .batch_core import (
    BatchCore,
    advance_writetime,
    append_bookkeeping,
    append_metrics,
    drain,
    open_bookkeeping,
    open_target,
    read_statuses,
    read_watermarks,
    sweep_tombstones,
)
from .stream import StreamFrontEnd


class MultiTableRunner:
    """CdcRunner generalized to N tables over one shared mutation log."""

    def __init__(
        self,
        spark: SparkSession,
        log_path: str,
        target_root: str,
        specs: list[TableSpec],
        segments_per_batch: int = 8,
        n_buckets: int = 8,
        table_changes: tuple = (),
        export_changes: bool = False,
        tombstones_on_delete: bool = True,
        payload_format: str = "json",
        batch_mutations: bool = False,
        gc_grace_us: int | None = None,
        gc_every_batches: int = 8,
        maintain_assembly: dict | None = None,
    ):
        """``table_changes``: DDL ledger of table lifecycle events —
        ``(effective_segment, "create", TableSpec)`` /
        ``(effective_segment, "drop", fqtn)`` — the reference's
        onTableCreated / onTableDropped callbacks
        (Cassandra4SchemaChangeListener.java:114-159 create, :162-217 drop),
        replayed against the discovered segment range before each drain."""
        self.spark = spark
        self.log_path = log_path
        self.target_root = target_root
        self.specs: dict[str, TableSpec] = {s.fqtn: s for s in specs}
        self.segments_per_batch = segments_per_batch
        self.n_buckets = n_buckets
        self.table_changes = list(table_changes)
        self.export_changes = export_changes
        self.tombstones_on_delete = tombstones_on_delete
        # logged-batch records may span TABLES (the reference Mutation shape,
        # handleMutation:255-272); payloads decode per TableSpec ('json' =
        # from_json codegen, 'binary' = the vectorized numpy decoder)
        self.core = BatchCore(
            spark,
            log_path,
            multi=True,
            batch_mutations=batch_mutations,
            payload_format=payload_format,
        )
        # maintained per-table transcript views: {fqtn: {"text": col,
        # "role": col|None}} — refreshed after every state commit with the
        # shared recompute-from-state step (operators.transcript.
        # refresh_assembly); tables absent from the dict have no view
        self.maintain_assembly: dict[str, dict] = dict(maintain_assembly or {})
        for fqtn, cfg in self.maintain_assembly.items():
            if fqtn not in self.specs:
                raise ValueError(f"maintain_assembly: unknown table {fqtn!r}")
            payload_cols = set(self.specs[fqtn].payload_dict)
            for key in ("text",) + (("role",) if cfg.get("role") else ()):
                if cfg.get(key) and cfg[key] not in payload_cols:
                    raise ValueError(
                        f"maintain_assembly[{fqtn!r}]: column {cfg[key]!r} "
                        f"not in payload {sorted(payload_cols)}"
                    )
        self.assemblies: dict[str, LakeTable] = {}
        self.targets: dict[str, CdcTarget] = {}
        self.changes_tables: dict = {}
        for fqtn, spec in self.specs.items():
            self._ensure_target(fqtn, spec)
        # tombstone GC (gc_grace analog, same contract as CdcRunner): horizon
        # = max applied writetime - grace, swept across EVERY table's store
        self.gc_grace_us = gc_grace_us
        self.gc_every_batches = max(int(gc_every_batches), 1)
        self._max_writetime: int | None = None
        self.offsets, self.lineage, self.metrics, self.gc_log = open_bookkeeping(
            spark, target_root, multi=True, gc_grace_us=gc_grace_us
        )
        self._done = self._load_done()
        from ..sources.snapshot import SnapshotMetrics

        self.metrics_snapshot = SnapshotMetrics()

    def snapshot_metrics(self) -> dict:
        """Snapshot-context gauge values (CassandraSnapshotMetrics.java:26-110)
        — tables captured/remaining, per-table rows scanned, duration."""
        return self.metrics_snapshot.gauges()

    def _ensure_target(self, fqtn: str, spec: TableSpec) -> None:
        path = f"{self.target_root}/{fqtn}"
        self.targets[fqtn], assembly = open_target(
            self.spark, path, self.n_buckets, spec.payload_dict, fqtn in self.maintain_assembly
        )
        if assembly is not None:
            self.assemblies[fqtn] = assembly
        if self.export_changes:
            from ..lake.changes import ChangesExport

            self.changes_tables[fqtn] = ChangesExport(self.spark, f"{path}/changes")

    def apply_table_changes(self, up_to_segment: int, discovered: list[int]) -> None:
        """Replay table create/drop DDL effective at or before
        ``up_to_segment``. Idempotent: a created table that already exists /
        a dropped table already absent are no-ops (crash-safe replay).

        CREATE registers the spec and marks every discovered segment BEFORE
        the effective segment as done for that table (capture starts at
        creation — pre-existing data arrives via snapshot, not the log).
        DROP marks every discovered segment AT/AFTER the effective segment
        as done: capture stops at the drop point while segments preceding it
        still drain normally; materialized state is retained (the reference
        likewise stops emitting but deletes nothing).
        """
        for eff, action, arg in self.table_changes:
            if eff > up_to_segment:
                continue
            if action == "create":
                spec = arg
                if spec.fqtn not in self.specs:
                    self.specs[spec.fqtn] = spec
                    self._ensure_target(spec.fqtn, spec)
                    self._done.setdefault(spec.fqtn, set()).update(
                        s for s in discovered if s < eff
                    )
            elif action == "drop":
                if arg in self.specs:
                    self._done.setdefault(arg, set()).update(
                        s for s in discovered if s >= eff
                    )
            else:
                raise ValueError(f"unknown table change action: {action!r}")

    # -- recovered checkpoint state ------------------------------------------
    def _load_done(self) -> dict[str, set[int]]:
        """fqtn -> set of segments that table has fully applied."""
        done: dict[str, set[int]] = {f: set() for f in self.specs}
        for (fqtn, seg), statuses in read_statuses(self.lineage, "fqtn", "segment_id").items():
            if "done" in statuses:
                done.setdefault(fqtn, set()).add(seg)
        return done

    def checkpointed_offsets(self) -> dict[tuple[str, int], tuple[int, int]]:
        """(fqtn, log_partition) -> (segment_id, position) high-watermark."""
        return read_watermarks(self.offsets, "fqtn", "log_partition")

    # -- planning -------------------------------------------------------------
    def pending_segments(self) -> list[int]:
        """Segments not yet done for EVERY (currently captured) table."""
        all_segments = discover_segments(self.log_path)
        if self.table_changes and all_segments:
            self.apply_table_changes(max(all_segments), all_segments)
        return [
            s
            for s in all_segments
            if any(s not in self._done.setdefault(f, set()) for f in self.specs)
        ]

    # -- one batch --------------------------------------------------------------
    def run_batch(self, segment_ids: list[int]) -> dict:
        t0 = time.time()
        log = self.core.explode(self.core.read(segment_ids))
        rows = self.core.prescan(log, self._spec_targets())
        results = {}
        n_applied = 0
        now_ms = int(time.time() * 1000)
        for fqtn, spec in self.specs.items():
            done = self._done.setdefault(fqtn, set())
            pending = [s for s in segment_ids if s not in done]
            if not pending:
                continue
            t_rows = [r for r in rows if r["fqtn"] == fqtn and r["segment_id"] in pending]
            results[fqtn] = self._apply_table(log, spec, t_rows, "done", pending, now_ms)
            done.update(pending)
            n_applied += results[fqtn]["n_events"]

        # every per-table apply committed — the batch's writetimes are now
        # APPLIED and may advance the GC horizon (never ahead of a
        # not-yet-applied event after a mid-loop failure)
        self._max_writetime = advance_writetime(self._max_writetime, rows)
        metrics = append_metrics(self.metrics, t0, rows, n_applied, segment_ids)
        return {
            "batch_id": metrics["batch_id"],
            "segments": segment_ids,
            "n_decoded": metrics["n_decoded"],
            "wall_ms": metrics["wall_ms"],
            "tables": results,
        }

    def _spec_targets(self) -> list:
        return [(spec, self.targets[fqtn]) for fqtn, spec in self.specs.items()]

    def _apply_table(self, log, spec, rows, status, segments=None, now_ms=None) -> dict:
        """One table's slice through the core's apply (plus its view and
        export), then its offsets + lineage rows with ``status``, landing
        right after THIS table's apply commits (the module docstring's crash
        contract). A table without rows applies nothing."""
        res = {"n_events": 0}
        if rows:
            sub = log.where((F.col("keyspace") == spec.keyspace) & (F.col("table") == spec.table))
            if segments is not None:
                sub = sub.where(F.col("segment_id").isin(*[int(s) for s in segments]))
            res, batch = self.core.apply(self.targets[spec.fqtn], sub, rows, spec)
            self._refresh_assembly(spec.fqtn, batch)
            if self.export_changes:
                # batches consume whole segments, so the decoded slice is
                # per-segment complete — export directly from it
                from ..lake.changes import envelope_rows

                self.changes_tables[spec.fqtn].write_segments(
                    envelope_rows(
                        batch,
                        tombstones_on_delete=self.tombstones_on_delete,
                        keyspace=spec.keyspace,
                        table=spec.table,
                    ),
                    segments,
                )
        append_bookkeeping(self, rows, lambda seg: status, segments or (), spec.fqtn, now_ms)
        return res

    # -- tombstone GC (gc_grace, swept across every table) -------------------
    def gc(self) -> dict:
        """Purge each table's stored tombstones below (max applied writetime
        - gc_grace_us); one ``_gc`` audit row per table per invocation. Same
        safety argument as CdcRunner.gc()."""
        if self.gc_grace_us is None:
            raise ValueError("tombstone GC is disabled; pass gc_grace_us to enable")
        if self._max_writetime is None:
            return {"n_purged": 0, "tables": {}}
        horizon = int(self._max_writetime) - int(self.gc_grace_us)
        res = sweep_tombstones(self.gc_log, self.targets, horizon)
        per_table = {fqtn: r["n_purged"] for fqtn, r in res.items()}
        return {"n_purged": sum(per_table.values()), "horizon_wt": horizon, "tables": per_table}

    # -- the loop -----------------------------------------------------------
    def run(self, max_batches: int | None = None) -> list[dict]:
        return drain(self, max_batches, lambda batch: [self.run_batch(batch)])

    # -- user-facing reads ----------------------------------------------------
    def _refresh_assembly(self, fqtn: str, batch_keys: DataFrame) -> None:
        """Maintained-view step (no-op for tables without a view)."""
        if fqtn not in self.assemblies:
            return
        from ..operators.transcript import refresh_assembly

        cfg = self.maintain_assembly[fqtn]
        refresh_assembly(
            self.assemblies[fqtn],
            self.targets[fqtn],
            batch_keys,
            role_col=cfg.get("role"),
            text_col=cfg["text"],
        )

    def read_assembly(self, fqtn: str) -> DataFrame:
        """The maintained per-conversation view of one table."""
        if fqtn not in self.assemblies:
            raise ValueError(f"no maintained assembly for {fqtn!r}")
        return self.assemblies[fqtn].read().select(
            "conv_id", "n_turns", "last_turn", "total_chars", "transcript"
        )

    def read_table(self, fqtn: str) -> DataFrame:
        """Payload view of one table with its LOGICAL key column names."""
        spec = self.specs[fqtn]
        return spec.denormalize(self.targets[fqtn].read_transcripts())

    # -- snapshot selection (S7, the real anti-join) ---------------------------
    def tables_to_snapshot(self) -> list[str]:
        """cdc-enabled tables MINUS already-snapshotted — as a DataFrame
        anti-join against the snapshot completion markers in _offsets
        (reference getTablesToSnapshot:154-161)."""
        enabled = self.spark.createDataFrame(
            [(f,) for f in self.specs], "fqtn string"
        )
        if self.offsets.is_empty():
            return sorted(r["fqtn"] for r in enabled.collect())
        snapped = self.offsets.read().where(F.col("log_partition") == -1).select("fqtn")
        remaining = enabled.join(snapped, "fqtn", "left_anti")
        return sorted(r["fqtn"] for r in remaining.collect())

    def snapshot(self, sources: dict[str, DataFrame], snapshot_writetime: int) -> dict:
        """Bootstrap-snapshot every not-yet-snapshotted table (S6+S7).

        ``sources``: fqtn -> source DataFrame with the table's LOGICAL column
        names. Completion markers are all-or-nothing per table (sentinel
        log_partition=-1 rows, reference OffsetPosition.java:20-21,43-45)."""
        from ..sources.snapshot import snapshot_to_mutations

        out = {}
        now_ms = int(time.time() * 1000)
        todo = [f for f in self.tables_to_snapshot() if f in sources]
        # gauge lifecycle mirrors SnapshotProcessor.java:129-141 (+ per-table
        # rowsScanned :268-277)
        self.metrics_snapshot.set_table_count(len(todo))
        if todo:
            self.metrics_snapshot.start_snapshot()
        try:
            for fqtn in todo:
                src = self.specs[fqtn].normalize(sources[fqtn])
                mutations = snapshot_to_mutations(src, snapshot_writetime)
                out[fqtn] = apply_batch(self.targets[fqtn], mutations)
                self._refresh_assembly(fqtn, mutations)
                self.metrics_snapshot.set_rows_scanned(
                    fqtn, out[fqtn].get("n_events", 0)
                )
                self.metrics_snapshot.complete_table()
                self.offsets.append_small(
                    [
                        {
                            "fqtn": fqtn,
                            "log_partition": -1,
                            "segment_id": -1,
                            "position": -1,
                            "updated_at": now_ms,
                        }
                    ]
                )
        except Exception:
            self.metrics_snapshot.abort_snapshot()
            raise
        if todo:
            self.metrics_snapshot.stop_snapshot()
        return out


class MultiTableStream(StreamFrontEnd):
    """Structured-Streaming front-end over a MULTI-TABLE commit log — the
    reference's primary operating shape (streaming AND multi-table at once:
    one CommitLogProcessor thread feeding per-table decode via SchemaHolder,
    MultipleTablesProcessingTest.java:27-106). The multi-table twin of
    stream.CdcStream, with the same ordering contract (see the stream module
    docstring) and PER-TABLE offsets and ``streamed`` lineage.

    Table lifecycle DDL (table_changes) is a batch-front-end feature: the
    create/drop ledger needs the discovered segment range, which a streaming
    micro-batch does not see — a runner configured with table_changes is
    refused here, as is the changes export.
    """

    REFUSED = ("export_changes", "table_changes")

    def _targets(self):
        return self.runner._spec_targets()

    def _apply(self, batch_df: DataFrame, rows: list[dict]) -> int:
        r = self.runner
        n_applied = 0
        for fqtn, spec in r.specs.items():
            t_rows = [row for row in rows if row["fqtn"] == fqtn]
            if t_rows:
                n_applied += r._apply_table(batch_df, spec, t_rows, "streamed")["n_events"]
        return n_applied
