"""The micro-batch driver loop — Spark lifecycle replacing SURVEY §3.1.

One iteration: read _offsets -> discover unprocessed (segment, position)
ranges -> scan the log slice (partition-pruned, position-pushdown) -> the
shared batch core (``batch_core``: pre-scan, decode chain, apply_batch,
offsets + lineage + _metrics rows). What this front-end owns: the
done/open/reprocess lineage status, the offset filters below, the changes
export, commit-log transfer and the tombstone-GC horizon.

Bookkeeping state (done/open segments, offset watermarks) is cached on the
runner instance — loaded once per runner lifetime, maintained in-memory
afterwards (single-writer, like the reference's file-locked
FileOffsetWriter) — so the steady-state loop runs zero bookkeeping-read jobs
per batch.

Offset filtering is applied ONLY to segments known to be partially applied
(status 'open': the position-limited live tail). Fully pending segments are
always read in full, because a global (segment, position) watermark is only
a safe skip-filter when events were applied in watermark order — which the
Structured Streaming front-end cannot guarantee (file delivery order is
arbitrary). Re-applying rows is harmless (idempotent merge); *dropping*
never-applied rows is permanent loss — so the filter is scoped to the one
case where the invariant holds by construction.

Backpressure (R2 bounded queue analog) = ``segments_per_batch``: the batch
sizing knob bounding memory/shuffle per iteration.

Error handling (R3/R7/R8): a failing segment batch is recorded in _lineage
with status 'error' (archive-to-error-folder analog); ``reprocess`` replays
named segments with the offset check bypassed (reference
reprocessingCommitLogs set, CommitLogProcessor.java:113-117).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..sources.log_scan import discover_segments
from .batch_core import (
    BatchCore,
    advance_writetime,
    append_bookkeeping,
    append_metrics,
    drain,
    open_bookkeeping,
    open_target,
    prune_offsets as _prune_offsets,  # noqa: F401  (the single-table transform)
    read_statuses,
    read_watermarks,
    sweep_tombstones,
)


class CdcRunner:
    def __init__(
        self,
        spark: SparkSession,
        log_path: str,
        target_path: str,
        segments_per_batch: int = 8,
        n_buckets: int = 16,
        excluded_fields: tuple[str, ...] = (),
        schema_changes: tuple = (),
        log_schema=None,
        decode_binary: bool = False,
        payload_format: str = "json",
        export_changes: bool = False,
        tombstones_on_delete: bool = True,
        unpaired_range_markers: bool = False,
        validate_writetimes: bool = False,
        commit_log_transfer=None,
        routing_mode: str | None = None,
        n_queues: int = 8,
        batch_mutations: bool = False,
        tracing: bool = False,
        gc_grace_us: int | None = None,
        gc_every_batches: int = 8,
        maintain_assembly: bool = False,
    ):
        self.spark = spark
        self.log_path = log_path
        self.target_path = target_path
        self.segments_per_batch = segments_per_batch
        self.schema_changes = list(schema_changes)
        self.core = BatchCore(
            spark,
            log_path,
            log_schema=log_schema,
            batch_mutations=batch_mutations,
            payload_format=payload_format,
            decode_payload=decode_binary,
            pair_markers=unpaired_range_markers,
            excluded_fields=excluded_fields,
            validate_writetimes=validate_writetimes,
            routing_mode=routing_mode,
            n_queues=n_queues,
        )
        self.export_changes = export_changes
        self.tombstones_on_delete = tombstones_on_delete
        # R7 post-process plug-in (CommitLogTransfer analog): archives/
        # deletes a segment AFTER its state commit, export, and lineage land
        self.commit_log_transfer = commit_log_transfer
        # tracing SPI analog (TracingEmitter decorator, tracing.enabled=true):
        # spans decorate the EMISSION surface, so they require the export
        if tracing and not export_changes:
            raise ValueError(
                "tracing=True decorates the change-record emission "
                "(TracingEmitter analog) and requires export_changes=True"
            )
        self.tracing = tracing
        self.changes = self.traces = None
        if export_changes:
            from ..lake.changes import ChangesExport

            self.changes = ChangesExport(spark, f"{target_path}/changes")
            if tracing:
                self.traces = ChangesExport(spark, f"{target_path}/traces")
        # maintained downstream view (incremental view maintenance in the
        # ingest loop): a per-conversation transcript assembly kept exactly
        # up to date — after each state commit the buckets containing this
        # batch's conversations are re-assembled FROM STATE and COW-swapped.
        # Deterministic-from-state => idempotent under batch replay, and the
        # refresh lands BEFORE offsets (same crash-safety side as the state).
        self.maintain_assembly = maintain_assembly
        self.target, self.assembly = open_target(
            spark, target_path, n_buckets, assembly=maintain_assembly
        )
        # tombstone GC (Cassandra gc_grace analog): when set, run() purges
        # stored tombstones below (max applied writetime - gc_grace_us) every
        # gc_every_batches batches. Size the grace from the producer's
        # bounded writetime-inversion window (for the bundled generator:
        # sources.generator.writetime_inversion_window_us) — purging inside
        # that window could let a late out-of-order upsert beat a purged
        # delete, so the horizon must trail it.
        self.gc_grace_us = gc_grace_us
        self.gc_every_batches = max(int(gc_every_batches), 1)
        self._max_writetime: int | None = None
        self.offsets, self.lineage, self.metrics, self.gc_log = open_bookkeeping(
            spark, target_path, multi=False, gc_grace_us=gc_grace_us
        )
        # single-writer in-memory bookkeeping caches (recovered from the
        # tables once, here; maintained incrementally afterwards)
        self._watermarks = read_watermarks(self.offsets, "log_partition")
        self._done, self._open, self._errored = self._load_lineage_status()
        # for each open segment: log_partition -> max applied position
        self._open_positions: dict[int, dict[int, int]] = {}
        if self._open:
            for (seg, lp), (_, pos) in read_watermarks(
                self.offsets, "segment_id", "log_partition"
            ).items():
                if seg in self._open:
                    self._open_positions.setdefault(seg, {})[lp] = pos

    # -- checkpoint state (recovered once per runner lifetime) ---------------
    def _load_lineage_status(self) -> tuple[set[int], set[int], set[int]]:
        """(done, open, errored) segment sets. A segment is open while it has
        an 'open' row (position-limited tail) and no completing row yet;
        errored while it has an 'error' row and no completing row ('done' or
        a successful 'reprocess' both complete it)."""
        statuses = read_statuses(self.lineage, "segment_id")
        done = {s for s, st in statuses.items() if st & {"done", "reprocess"}}
        open_ = {s for s, st in statuses.items() if "open" in st} - done
        errored = {s for s, st in statuses.items() if "error" in st} - done
        return done, open_, errored

    def checkpointed_offsets(self) -> dict[int, tuple[int, int]]:
        """log_partition -> (segment_id, position) high-watermark (R5)."""
        return dict(self._watermarks)

    def done_segments(self) -> set[int]:
        return set(self._done)

    def open_segments(self) -> set[int]:
        return set(self._open)

    def errored_segments(self) -> set[int]:
        """Segments quarantined by run(on_error='isolate') — replay them
        with reprocess() after fixing the data (R8)."""
        return set(self._errored)

    # -- planning -----------------------------------------------------------
    def pending_segments(self) -> list[int]:
        all_segments = discover_segments(self.log_path)
        return [
            s
            for s in all_segments
            if s not in self._done and s not in self._errored
        ]

    # -- one batch ----------------------------------------------------------
    def run_batch(
        self,
        segment_ids: list[int],
        reprocess: bool = False,
        position_limit: int | None = None,
    ) -> dict:
        """Process the given segments as one batch. ``position_limit``
        truncates the LAST segment at a byte position — the live-segment
        incremental-tail mode (S4): a later batch resumes past the
        checkpointed position."""
        t0 = time.time()
        if self.schema_changes:
            # R9: replay DDL onto the lake BEFORE applying batches that carry
            # the new shape (SchemaChangeListener scenario)
            from .schema_evolution import replay_schema_changes

            replay_schema_changes(self.target, self.schema_changes, max(segment_ids))
        log = self.core.read(segment_ids)
        # resume-past-checkpoint filter, scoped to OPEN (partially applied)
        # segments only — see module docstring for why a global watermark
        # filter is unsafe
        if not reprocess:
            for seg, lp_pos in self._open_positions.items():
                if seg not in segment_ids:
                    continue
                behind = F.lit(False)
                for lp, pos in sorted(lp_pos.items()):
                    behind = behind | (
                        (F.col("log_partition") == lp) & (F.col("position") <= pos)
                    )
                log = log.where((F.col("segment_id") != int(seg)) | ~behind)
        if position_limit is not None:
            last = max(segment_ids)
            log = log.where(
                (F.col("segment_id") < last) | (F.col("position") <= position_limit)
            )
        log = self.core.explode(log)
        rows = self.core.prescan(log, self.target)
        # lineage: per-segment completion (EOF/archive analog, R3/R7); a
        # position-limited tail leaves the last segment un-finalized
        open_segment = max(segment_ids) if position_limit is not None else None
        stats, lineage_rows = self._apply(
            log,
            rows,
            lambda seg: "reprocess" if reprocess else (
                "open" if seg == open_segment else "done"
            ),
            segment_ids,
        )
        # state committed — the batch's writetimes are now APPLIED and may
        # advance the GC horizon
        self._max_writetime = advance_writetime(self._max_writetime, rows)
        if not reprocess:
            for row in lineage_rows:
                seg = row["segment_id"]
                if row["status"] == "done":
                    self._done.add(seg)
                    self._open.discard(seg)
                    self._open_positions.pop(seg, None)
                elif row["status"] == "open":
                    self._open.add(seg)
            if open_segment is not None:
                lp_pos = self._open_positions.setdefault(open_segment, {})
                for r in rows:
                    if r["segment_id"] == open_segment:
                        lp_pos[r["log_partition"]] = max(
                            lp_pos.get(r["log_partition"], -1), r["max_pos"]
                        )

        # R4 export half: persist change envelopes for segments FINALIZED by
        # this batch (complete row sets only — see lake/changes.py). A fresh
        # unfiltered read of just those segments guarantees completeness even
        # when the apply slice was position/offset-filtered; replays and
        # reprocess rewrite the same partitions idempotently.
        if self.changes is not None:
            done_now = sorted(
                {r["segment_id"] for r in lineage_rows if r["status"] in ("done", "reprocess")}
            )
            if done_now:
                from ..lake.changes import envelope_rows

                full = self.core.explode(self.core.read(done_now))
                env = envelope_rows(
                    self.core.decode(full, for_export=True),
                    excluded_fields=self.core.excluded_fields,
                    tombstones_on_delete=self.tombstones_on_delete,
                )
                self.changes.write_segments(env, done_now)
                if self.traces is not None:
                    # two deterministic spans per emitted record (backdated
                    # write + read with CDC lag); same segment-overwrite
                    # idempotence as the changes export
                    from ..operators.tracing import trace_spans

                    self.traces.write_segments(
                        trace_spans(env, read_ts_ms=int(time.time() * 1000)), done_now
                    )

        if self.commit_log_transfer is not None:
            for row in lineage_rows:
                if row["status"] in ("done", "reprocess"):
                    self.commit_log_transfer.on_success(row["segment_id"])

        metrics = append_metrics(self.metrics, t0, rows, stats["n_events"], segment_ids)
        return {
            "batch_id": metrics["batch_id"],
            "segments": segment_ids,
            "n_decoded": metrics["n_decoded"],
            "n_skipped": metrics["n_skipped"],
            "wall_ms": metrics["wall_ms"],
            **stats,
        }

    def _apply(self, log, rows, status, segment_ids=(), defer_markers=None):
        """Core apply, view refresh, then offsets + lineage rows with
        ``status``; returns ``(apply metrics, lineage rows)``."""
        stats, batch = self.core.apply(self.target, log, rows, defer_markers=defer_markers)
        if self.assembly is not None:
            # refresh the touched buckets BEFORE offsets, same crash-safety
            # side as the state (idempotent recompute)
            self._refresh_assembly(batch)
        offsets, lineage = append_bookkeeping(self, rows, status, segment_ids)
        for o in offsets:
            cand = (o["segment_id"], o["position"])
            if self._watermarks.get(o["log_partition"], (-2, -2)) < cand:
                self._watermarks[o["log_partition"]] = cand
        return stats, lineage

    # -- R10 metrics surface -------------------------------------------------
    def streaming_metrics(self) -> dict:
        """The reference's streaming JMX gauge VALUES
        (CassandraStreamingMetrics.java:19-73) computed from bookkeeping
        state — commit-log filename/position per log partition plus
        processed/skipped totals. The transport (JMX MBean / HTTP) stays out
        of scope per SURVEY (Spark UI / event log); the gauge semantics are
        what a monitoring stack actually consumes."""
        per_partition = {
            lp: {
                "commit_log_filename": f"CommitLog-7-{seg}.log",
                "commit_log_position": pos,
            }
            for lp, (seg, pos) in sorted(self._watermarks.items())
        }
        # an empty table aggregates to count 0 and NULL sums/max
        row = (
            self.metrics.read()
            .agg(
                F.count("*").alias("n_batches"),
                F.sum("n_applied").alias("n_processed"),
                F.sum("n_skipped").alias("n_skipped"),
                F.max(F.struct("batch_id", "wall_ms")).alias("last"),
            )
            .collect()[0]
        )
        totals = {
            "n_batches": row["n_batches"],
            "n_processed": row["n_processed"] or 0,
            "n_skipped": row["n_skipped"] or 0,
            "last_batch_wall_ms": row["last"]["wall_ms"] if row["last"] else None,
            "n_tombstones_purged": 0,
        }
        if self.gc_log is not None:
            totals["n_tombstones_purged"] = (
                self.gc_log.read().agg(F.sum("n_purged")).collect()[0][0] or 0
            )
        return {
            **totals,
            "n_segments_done": len(self._done),
            "n_segments_open": len(self._open),
            "n_segments_error": len(self._errored),
            "per_partition": per_partition,
        }

    # -- maintained downstream view (transcript assembly IVM) ----------------
    def _refresh_assembly(self, batch_log: DataFrame) -> None:
        """Maintained-view step (see operators.transcript.refresh_assembly)."""
        from ..operators.transcript import refresh_assembly

        refresh_assembly(self.assembly, self.target, batch_log)

    def read_assembly(self) -> DataFrame:
        """The maintained per-conversation transcript view."""
        if self.assembly is None:
            raise ValueError("pass maintain_assembly=True to maintain the view")
        return self.assembly.read().select(
            "conv_id", "n_turns", "last_turn", "total_chars", "transcript"
        )

    # -- tombstone GC (gc_grace) ---------------------------------------------
    def gc(self) -> dict:
        """Purge stored tombstones no future event can need (gc_grace): the
        horizon is the max APPLIED writetime minus the configured grace — by
        the producer's bounded-inversion contract, every not-yet-applied
        event's writetime lands above it, so purged tombstones can never be
        out-raced by a late upsert. One audit row per invocation lands in
        the ``_gc`` bookkeeping table."""
        if self.gc_grace_us is None:
            raise ValueError("tombstone GC is disabled; pass gc_grace_us to enable")
        if self._errored:
            # quarantined segments hold not-yet-applied events whose
            # writetimes may sit at or below the current horizon; purging
            # now could let their later replay (reprocess) out-race a
            # purged delete. Skip until the quarantine clears.
            return {"n_purged": 0, "n_kept": 0, "horizon_wt": None}
        if self._max_writetime is None:
            return {"n_purged": 0, "n_kept": 0, "horizon_wt": None}
        horizon = int(self._max_writetime) - int(self.gc_grace_us)
        res = sweep_tombstones(self.gc_log, {"": self.target}, horizon)[""]
        return {"n_purged": res["n_purged"], "n_kept": res["n_kept"], "horizon_wt": horizon}

    def _mark_error(self, segment_id: int) -> None:
        """Quarantine a failing segment (R3's archive-to-error-folder flow):
        an 'error' lineage row, exclusion from future planning, and the
        CommitLogTransfer.on_error move when a transfer is configured."""
        append_bookkeeping(self, [], lambda seg: "error", [segment_id])
        self._errored.add(int(segment_id))
        if self.commit_log_transfer is not None:
            self.commit_log_transfer.on_error(segment_id)

    # -- the loop -----------------------------------------------------------
    def run(self, max_batches: int | None = None, on_error: str = "raise") -> list[dict]:
        """Drain pending segments (``batch_core.drain``). ``on_error``: 'raise' propagates the first failure (default);
        'isolate' is the reference's error-folder flow (CommitLogProcessor's
        per-commit-log error handling): a failing batch is retried segment
        by segment to pin the fault, the failing segment(s) get an 'error'
        lineage row + CommitLogTransfer.on_error and drop out of planning,
        and the drain continues — ``reprocess()`` replays them once fixed.
        Safe because batches are independent up to the idempotent merge:
        skipping a segment cannot corrupt others' state, only defer that
        segment's events."""
        if on_error not in ("raise", "isolate"):
            raise ValueError(f"unknown on_error mode {on_error!r}")
        if on_error == "raise":
            return drain(self, max_batches, lambda batch: [self.run_batch(batch)])
        return drain(self, max_batches, self._run_isolated)

    def _run_isolated(self, batch: list[int]) -> list[dict]:
        try:
            return [self.run_batch(batch)]
        except Exception:
            # isolate: one segment at a time; single-segment failures are the
            # faulty ones
            results = []
            for seg in batch:
                try:
                    results.append(self.run_batch([seg]))
                except Exception:
                    self._mark_error(seg)
            return results

    def reprocess(self, segment_ids: list[int]) -> dict:
        """R8 error-segment reprocessing: replay named segments bypassing the
        offset skip-check; state is unchanged on a true replay because the
        merge is idempotent. Errored segments are restored from the
        transfer's error folder first (reference moves error commit logs
        back to the CDC dir, CommitLogProcessor.java:113-117) and leave
        quarantine on success."""
        if self.commit_log_transfer is not None:
            for seg in segment_ids:
                self.commit_log_transfer.restore(seg)
        result = self.run_batch(segment_ids, reprocess=True)
        for seg in segment_ids:
            self._errored.discard(int(seg))
            self._done.add(int(seg))
        return result
