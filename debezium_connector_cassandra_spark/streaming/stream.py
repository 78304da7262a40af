"""Structured Streaming front-ends: readStream over the commit-log
directory, each micro-batch through the shared batch core (``batch_core``)
into the same apply path as the batch runners.

This is the push-style dual of CdcRunner's pull loop — the closest Spark
analog of the reference's directory watcher (S1: blocks on ENTRY_CREATE,
AbstractDirectoryWatcher.java:24): Spark's file-stream source tracks newly
appearing files under ``segment_id=N/`` partitions. apply_batch is
idempotent, so Spark's at-least-once foreachBatch contract still yields
exactly-once table state — the same argument as the batch runner's
crash-replay story.

Ordering caveat (why there is NO offset pre-filter here): the file source
does not deliver files in (segment, position) order — with
``maxFilesPerTrigger`` a backfill can surface segment 10 before segment 2.
Filtering a micro-batch against a high-watermark would silently DROP rows
of late-delivered files (Spark's checkpoint marks them consumed; they are
never re-read) — permanent loss. Re-applying rows, by contrast, is free
(idempotent merge). So every delivered row is applied, and lineage is
recorded with status ``streamed`` — never ``done``, because a micro-batch
cannot know whether it saw ALL of a segment's files. The batch front-end
treats ``streamed`` segments as pending and re-applies them in full when
the job switches front-ends (a bounded, idempotent re-read — the price of
the file source's unordered delivery). For the same reason a stream never
advances the tombstone-GC horizon and refuses the options that need whole
segments (changes export, tracing, commit-log transfer, table DDL), and it
refuses schema_changes because its read schema is fixed at query start.

Use ``Trigger.AvailableNow`` (``available_now=True``) to drain everything
present and stop — the streaming equivalent of ``CdcRunner.run()``; omit it
for a continuously tailing daemon like the reference.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, functions as F, types as T

from ..lake.table import LakeTable
from ..model import MUTATION_LOG_SCHEMA
from ..plans.apply import apply_batch
from .batch_core import append_metrics
from .runner import CdcRunner

# Persistent range-marker context (the RangeTombstoneContext.java:20-40
# analog): every op='r' bound marker a micro-batch delivers lands here,
# pairing happens over the ACCUMULATED set — so a start/end pair straddling
# micro-batches (or delivered out of order across part files) still pairs.
RANGE_CTX_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("segment_id", T.LongType(), False),
        T.StructField("position", T.LongType(), False),
        T.StructField("log_partition", T.IntegerType(), False),
        T.StructField("writetime", T.LongType(), False),
        T.StructField("is_start", T.BooleanType(), False),
        T.StructField("method", T.StringType(), True),
        T.StructField("turn_idx", T.IntegerType(), True),
        T.StructField("schema_version", T.IntegerType(), False),
    ]
)


class StreamFrontEnd:
    """readStream over a runner's log directory; each micro-batch goes
    through the core's explode and pre-scan, the subclass's ``_apply`` (its
    targets and ``streamed`` bookkeeping), and one ``_metrics`` row."""

    # runner options that need whole segments in log order — refused, not
    # silently ignored
    REFUSED = ("export_changes",)

    def __init__(self, runner, max_files_per_trigger: int | None = None):
        for option in self.REFUSED:
            if getattr(runner, option):
                raise ValueError(
                    f"{option} needs whole segments in log order, which a "
                    "streaming micro-batch never sees; use the batch runner"
                )
        self.runner = runner
        self.max_files_per_trigger = max_files_per_trigger

    def _handle_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        # Every delivered row is applied — no watermark pre-filter (see the
        # module docstring). Spark replays a failed micro-batch
        # (at-least-once); apply_batch keeps the table state exactly-once.
        t0 = time.time()
        batch_df = self.runner.core.explode(batch_df)
        rows = self.runner.core.prescan(batch_df, self._targets())
        if rows:
            append_metrics(self.runner.metrics, t0, rows, self._apply(batch_df, rows))

    def _targets(self):
        return self.runner.target

    def start(self, checkpoint_dir: str, available_now: bool = True):
        reader = self.runner.spark.readStream.schema(self.runner.core.stream_schema())
        if self.max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", self.max_files_per_trigger)
        writer = (
            reader.parquet(self.runner.log_path)
            .writeStream.foreachBatch(self._handle_batch)
            .option("checkpointLocation", checkpoint_dir)
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def run_available(self, checkpoint_dir: str, timeout_sec: int = 600) -> None:
        """Drain all currently-available segments and stop (the streaming
        twin of the runner's ``run()``)."""
        q = self.start(checkpoint_dir, available_now=True)
        q.awaitTermination(timeout_sec)
        if q.isActive:
            q.stop()


class CdcStream(StreamFrontEnd):
    # schema_changes replays DDL by segment, but a stream's read schema is
    # fixed when the query starts
    REFUSED = ("export_changes", "tracing", "commit_log_transfer", "schema_changes")

    def __init__(
        self,
        runner: CdcRunner,
        max_files_per_trigger: int | None = None,
        settle_lag_segments: int | None = None,
    ):
        """``settle_lag_segments``: continuous-tailing marker watermark —
        when set (with unpaired_range_markers), every micro-batch finalizes
        context markers in segments <= (max segment seen - this lag), so a
        never-ending stream still applies range deletes without waiting for
        a drain. The caller asserts the source reorders file delivery by at
        most this many segments (the file-delivery analog of an event-time
        watermark bound); an availableNow drain still finalizes everything
        at the end regardless."""
        super().__init__(runner, max_files_per_trigger)
        self.settle_lag_segments = settle_lag_segments
        self._max_segment_seen: int | None = None
        # D9 streaming form: markers are deferred into a durable context and
        # paired in finalize_ranges() — pairing inside a micro-batch would
        # mis-pair whenever the file source splits a conversation's markers
        # across batches in arbitrary order (see that method's docstring)
        self._range_ctx: LakeTable | None = None
        if settle_lag_segments is not None and not runner.core.pair_markers:
            raise ValueError("settle_lag_segments requires unpaired_range_markers=True")
        if runner.core.pair_markers:
            self._range_ctx = LakeTable.open_or_create(
                runner.spark, f"{runner.target_path}/_range_ctx", RANGE_CTX_SCHEMA, "conv_id", 1
            )

    def _apply(self, batch_df: DataFrame, rows: list[dict]) -> int:
        defer = None
        if self._range_ctx is not None:
            seen = max(row["segment_id"] for row in rows)
            if self._max_segment_seen is None or seen > self._max_segment_seen:
                self._max_segment_seen = seen
            defer = self._defer_markers
        # 'streamed', never 'done': a micro-batch sees an arbitrary file
        # subset, so segment completeness is unknowable here
        stats, _ = self.runner._apply(batch_df, rows, lambda seg: "streamed", defer_markers=defer)
        return stats["n_events"]

    def _defer_markers(self, markers: DataFrame) -> None:
        """Defer every bound marker into the durable context (pairing is NOT
        safe inside a micro-batch). The context lands BEFORE the apply — a
        crash-replayed batch just appends duplicates, which finalize_ranges
        dedupes."""
        self._range_ctx.append(
            markers.select(
                "conv_id",
                "segment_id",
                "position",
                "log_partition",
                "writetime",
                F.col("range_start").isNotNull().alias("is_start"),
                F.coalesce(
                    F.col("range_start.method"), F.col("range_end.method")
                ).alias("method"),
                F.coalesce(
                    F.col("range_start.turn_idx"), F.col("range_end.turn_idx")
                ).alias("turn_idx"),
                "schema_version",
            )
        )
        if self.settle_lag_segments is not None:
            # continuous-mode watermark: markers whose segment can no
            # longer receive out-of-order siblings pair and apply now
            self.finalize_ranges(
                settle_below=int(self._max_segment_seen) - int(self.settle_lag_segments)
            )

    def finalize_ranges(self, settle_below: int | None = None) -> dict:
        """Pair the accumulated bound markers and apply the reconstructed
        range tombstones (the RangeTombstoneContext drain).

        Why pairing is deferred here instead of running per micro-batch: the
        reference pairs start/end markers as it reads a commit log IN ORDER
        (RangeTombstoneContext.java:20-40) — adjacency in arrival order IS
        adjacency in log order. Spark's file source delivers arbitrary part-
        file subsets per trigger, so a batch can see start S1 and end E2
        while E1/S2 are still undelivered; pairing those now would emit the
        WRONG range (S1,E2) — and an applied tombstone cannot be retracted.
        Pairing over the accumulated context in (segment, position) order is
        only safe once no marker can still arrive BETWEEN the members of a
        candidate pair:

        - after an ``availableNow`` drain the context is complete —
          ``settle_below=None`` pairs everything (run_available does this);
        - a continuously tailing job passes ``settle_below`` = the highest
          segment the source can still be delivering minus its reordering
          bound — the file-delivery analog of an event-time watermark;
          markers above it stay in the context for the next call.

        Unconsumed markers (dangling starts / orphan ends) stay in the
        context; on a final drain they are the reference's log-and-skip
        leftovers. Re-invocation is idempotent (re-applying a paired range
        is a no-op in the merge)."""
        if self._range_ctx is None:
            raise ValueError("finalize_ranges requires unpaired_range_markers=True")
        from pyspark.sql import Window as W

        # identity includes is_start: a start and an end marker sharing one
        # commit-log position for the same conversation are DIFFERENT
        # markers — deduping on position alone would drop one of the pair
        # nondeterministically and mis-pair every later marker of that conv
        ctx = self._range_ctx.read().dropDuplicates(
            ["conv_id", "segment_id", "position", "is_start"]
        )
        if settle_below is not None:
            later = ctx.where(F.col("segment_id") > settle_below)
            ctx = ctx.where(F.col("segment_id") <= settle_below)
        else:
            later = None
        # deterministic tie order at a shared position: the start marker
        # sorts before its end marker (desc on the boolean puts True first)
        w = W.partitionBy("conv_id").orderBy(
            "segment_id", "position", F.col("is_start").desc()
        )
        m = (
            ctx.withColumn("_prev_is_start", F.lag("is_start").over(w))
            .withColumn("_prev_method", F.lag("method").over(w))
            .withColumn("_prev_turn", F.lag("turn_idx").over(w))
            .withColumn("_next_is_start", F.lead("is_start").over(w))
        )
        is_paired_end = (~F.col("is_start")) & F.coalesce(
            F.col("_prev_is_start"), F.lit(False)
        )
        is_consumed_start = F.col("is_start") & ~F.coalesce(
            F.col("_next_is_start"), F.lit(True)
        )
        m = m.cache()
        try:
            schema = self.runner.core.log_schema
            if not (
                isinstance(schema, T.StructType) and "cells" in schema.fieldNames()
            ):
                schema = MUTATION_LOG_SCHEMA
            cells_t = schema["cells"].dataType
            # paired event keeps the END marker's (wt, segment, position)
            # identity — same contract as operators.tombstones.pair_range_markers
            paired = m.where(is_paired_end).select(
                "segment_id",
                "position",
                "log_partition",
                F.lit("r").alias("op"),
                "conv_id",
                F.lit(None).cast("int").alias("turn_idx"),
                "writetime",
                F.lit(None).cast(cells_t).alias("cells"),
                F.struct(
                    F.col("_prev_method").alias("method"),
                    F.col("_prev_turn").alias("turn_idx"),
                ).alias("range_start"),
                F.struct(
                    F.col("method").alias("method"),
                    F.col("turn_idx").alias("turn_idx"),
                ).alias("range_end"),
                "schema_version",
                F.lit(False).alias("snapshot"),
            )
            n_paired = paired.count()
            if n_paired:
                apply_batch(self.runner.target, paired)
                if self.runner.assembly is not None:
                    # late range tombstones change state for their convs —
                    # the maintained view must follow
                    self.runner._refresh_assembly(paired)
            dangling = m.where(~(is_paired_end | is_consumed_start)).select(
                *[f.name for f in RANGE_CTX_SCHEMA.fields]
            )
            if later is not None:
                dangling = dangling.unionByName(later)
            self._range_ctx.overwrite_all(dangling)
            n_dangling = self._range_ctx.read().count()
        finally:
            m.unpersist()
        return {"n_paired": n_paired, "n_dangling": n_dangling}

    def run_available(self, checkpoint_dir: str, timeout_sec: int = 600) -> None:
        """Drain all currently-available segments and stop. With
        unpaired_range_markers, the drained context is complete, so the
        deferred markers pair and apply here."""
        super().run_available(checkpoint_dir, timeout_sec)
        if self._range_ctx is not None:
            self.finalize_ranges()
