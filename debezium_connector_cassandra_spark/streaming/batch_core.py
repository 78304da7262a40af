"""The batch core under the four CDC front-ends (``CdcRunner``,
``MultiTableRunner``, ``CdcStream``, ``MultiTableStream``). Every batch
takes the same path:

  explode logged batches -> narrow pre-scan -> decode chain -> apply_batch
  -> offsets + lineage + ``_metrics`` rows

- **Pre-scan**: ONE ``groupBy(...).agg(...).collect()`` over a few pruned
  columns, per (segment, log partition) — and per (keyspace, table) on a
  multi-table log: count, max position, max writetime, unsupported-kind and
  ``d``/``p``/``r`` counts, and the touched (state bucket, tombstone bucket)
  pairs from each table's own manifests. Offsets, lineage, the GC-horizon
  input and apply_batch's ``stats`` all come from it, so apply_batch runs no
  stats or bucket-discovery job of its own.
- **Decode chain**: classify-and-skip ``table_kind``, range-marker pairing,
  payload decode (``json``/``binary``; the single-table cells or one
  TableSpec's), then for the apply only field exclusion, writetime
  validation and routing.
- **Bookkeeping rows**: the offsets watermarks, the lineage rows with the
  front-end's status, one ``_metrics`` row per batch.

Each front-end keeps its lineage status (``done``/``open``/``reprocess`` or
``streamed``), its per-table fan-out, CdcStream its range-marker deferral,
and the runners the GC horizon: a stream's unordered file delivery breaks
the bounded-inversion argument tombstone GC relies on.

Exactly-once: state commits inside apply_batch BEFORE the offsets row is
appended; a crash between the two replays the batch, a no-op because the
merge is idempotent.
"""

from __future__ import annotations

import time
import warnings
from dataclasses import dataclass
from functools import partial, reduce

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from ..functions.decode import (
    decode_payload_jvm,
    decode_table_payload,
    explode_batch_mutations,
    explode_mt_batch_mutations,
    unsupported,
    with_envelope,
)
from ..lake.table import LakeTable, bucket_sql
from ..model import (
    BATCH_LOG_SCHEMA,
    GC_SCHEMA,
    LINEAGE_SCHEMA,
    METRICS_SCHEMA,
    MT_BATCH_LOG_SCHEMA,
    MT_LINEAGE_SCHEMA,
    MT_OFFSETS_SCHEMA,
    MULTI_TABLE_LOG_SCHEMA,
    MUTATION_LOG_SCHEMA,
    OFFSETS_SCHEMA,
)
from ..operators.lww import validate_unique_writetimes
from ..operators.routing import ROUTING_MODES, route_df
from ..operators.tombstones import pair_range_markers
from ..plans.apply import CdcTarget, apply_batch, gc_tombstones
from ..sources.generator import read_mutation_log

_KINDS = ("d", "p", "r")


def _bucket_pair_sql(target) -> str:
    """(state bucket, tombstone-store bucket) of a row's key, as SQL."""
    state_m = target.state.manifest()
    store_m = target.tombstones.manifest()
    return (
        f"named_struct('sb', {bucket_sql(state_m['key_col'], state_m['n_buckets'])}, "
        f"'tb', {bucket_sql(store_m['key_col'], store_m['n_buckets'])})"
    )


def _unsupported(log: DataFrame):
    """D3 classify-and-skip: mutations against COUNTER / MATERIALIZED_VIEW /
    SECONDARY_INDEX tables (PartitionType guard,
    Cassandra4CommitLogReadHandlerImpl.java:102-168); none without a
    ``table_kind`` column."""
    return unsupported() if "table_kind" in log.columns else F.lit(False)


def advance_writetime(current: int | None, rows: list[dict]) -> int | None:
    """The runners' applied-writetime high watermark (the GC-horizon input)
    advanced by a batch's pre-scan rows. Call it only after the batch's
    apply committed: advancing first would let a gc() between a failed
    apply and its replay purge tombstones a never-applied event still needs
    to lose to (deleted-row resurrection)."""
    wts = [r["max_wt"] for r in rows if r["max_wt"] is not None]
    return max(wts + ([] if current is None else [current]), default=None)


def append_bookkeeping(owner, rows, status, segment_ids=(), fqtn=None, now_ms=None):
    """Append to ``owner.offsets`` per log partition the max (segment,
    position) ``rows`` reached (idx-watermark analog, S4), then to
    ``owner.lineage`` one row per pre-scan row with ``status(segment_id)``
    plus a zero-event row per listed segment the rows miss (an
    already-drained tail or an empty segment directory must still complete,
    or it stays pending forever) unless ``open``. ``fqtn`` tags both rows.
    Returns ``(offset_rows, lineage_rows)``."""
    now_ms = int(time.time() * 1000) if now_ms is None else now_ms
    tag = {} if fqtn is None else {"fqtn": fqtn}
    best: dict[int, tuple[int, int]] = {}
    for r in rows:
        cand = (r["segment_id"], r["max_pos"])
        if best.get(r["log_partition"], (-2, -2)) < cand:
            best[r["log_partition"]] = cand
    offsets = [
        {**tag, "log_partition": lp, "segment_id": seg, "position": pos, "updated_at": now_ms}
        for lp, (seg, pos) in sorted(best.items())
    ]
    seen = {r["segment_id"] for r in rows}
    lineage = [
        {**tag, "segment_id": r["segment_id"], "log_partition": r["log_partition"],
         "status": status(r["segment_id"]), "n_events": r["n"]}
        for r in rows
    ] + [
        {**tag, "segment_id": int(s), "log_partition": -1, "status": status(s), "n_events": 0}
        for s in segment_ids
        if s not in seen and status(s) != "open"
    ]
    owner.offsets.append_small(offsets)
    owner.lineage.append_small(lineage)
    return offsets, lineage


def append_metrics(table, t0: float, rows: list[dict], n_applied: int, segment_ids=None) -> dict:
    """One ``_metrics`` row for the batch that started at ``t0`` over the
    given segments (default: the segments its pre-scan rows saw)."""
    segment_ids = segment_ids or [r["segment_id"] for r in rows]
    row = {
        "batch_id": int(t0 * 1000),
        "segment_lo": min(segment_ids),
        "segment_hi": max(segment_ids),
        "n_decoded": sum(r["n"] for r in rows),
        "n_deduped": n_applied,
        "n_applied": n_applied,
        "n_skipped": sum(r["n_unsup"] for r in rows),
        "wall_ms": int((time.time() - t0) * 1000),
    }
    table.append_small([row])
    return row


def drain(runner, max_batches: int | None, run_one) -> list[dict]:
    """The runners' loop (Trigger.AvailableNow-style): pending segments in
    order, ``segments_per_batch`` at a time, through ``run_one(segment_ids)
    -> [results]``; with tombstone GC on, a ``gc()`` every
    ``gc_every_batches`` batches keeps the store bounded on any run length."""
    results = []
    n = 0
    while True:
        pending = runner.pending_segments()
        if not pending or (max_batches is not None and n >= max_batches):
            return results
        results.extend(run_one(pending[: runner.segments_per_batch]))
        n += 1
        if runner.gc_grace_us is not None and n % runner.gc_every_batches == 0:
            runner.gc()


def prune_offsets(df, keys=("log_partition",)):
    """Offsets compaction transform: keep only the max (segment_id, position)
    row per watermark key (snapshot sentinel rows are each their own max)."""
    df = df.sort_values([*keys, "segment_id", "position", "updated_at"])
    return df.groupby(list(keys), as_index=False).tail(1).reset_index(drop=True)


def open_bookkeeping(spark: SparkSession, root: str, multi: bool, gc_grace_us) -> tuple:
    """A runner's ``(_offsets, _lineage, _metrics, _gc)`` tables (``_gc``
    only with tombstone GC on; the multi-table ones carry ``fqtn``).
    Superseded offsets are dead weight — compaction keeps only the
    watermark per (table,) log partition, as the reference's offset FILE
    holds only current values (FileOffsetWriter.java:96-119)."""
    if gc_grace_us is not None and gc_grace_us < 0:
        raise ValueError("gc_grace_us must be >= 0")

    def table(name, schema):
        return LakeTable.open_or_create(spark, f"{root}/{name}", schema, schema.fields[0].name, 1)

    offsets = table("_offsets", MT_OFFSETS_SCHEMA if multi else OFFSETS_SCHEMA)
    keys = ["fqtn", "log_partition"] if multi else ["log_partition"]
    offsets.compaction_transform = partial(prune_offsets, keys=keys)
    return (
        offsets,
        table("_lineage", MT_LINEAGE_SCHEMA if multi else LINEAGE_SCHEMA),
        table("_metrics", METRICS_SCHEMA),
        table("_gc", GC_SCHEMA) if gc_grace_us is not None else None,
    )


def _by_key(rows, keys: tuple, value) -> dict:
    """{key: value(row)}; the key is the one key column's value, or a tuple
    of several."""
    return {(r[keys[0]] if len(keys) == 1 else tuple(r[k] for k in keys)): value(r) for r in rows}


def read_watermarks(offsets: LakeTable, *keys: str) -> dict:
    """key -> max applied (segment_id, position), read back from the offsets
    table."""
    if offsets.is_empty():
        return {}
    w = F.max(F.struct("segment_id", "position")).alias("w")
    return _by_key(offsets.read().groupBy(*keys).agg(w).collect(), keys, lambda r: tuple(r["w"]))


def read_statuses(lineage: LakeTable, *keys: str) -> dict:
    """key -> the set of lineage statuses recorded for it."""
    if lineage.is_empty():
        return {}
    s = F.collect_set("status").alias("s")
    return _by_key(lineage.read().groupBy(*keys).agg(s).collect(), keys, lambda r: set(r["s"]))


def open_target(spark: SparkSession, path: str, n_buckets: int, payload=None, assembly=False):
    """``(CdcTarget, maintained-view table or None)`` at ``path``, created
    if absent. The view MUST share the state's actual bucket function: its
    refresh prunes the state read by the view's bucket ids."""
    if LakeTable.exists(f"{path}/state"):
        target = CdcTarget.open(spark, path)
    else:
        target = CdcTarget.create(spark, path, n_buckets=n_buckets, payload=payload)
    if not assembly:
        return target, None
    from ..operators.transcript import ASSEMBLY_SCHEMA

    n = target.state.manifest()["n_buckets"]
    return target, LakeTable.open_or_create(spark, f"{path}/assembly", ASSEMBLY_SCHEMA, "conv_id", n)


def sweep_tombstones(gc_log: LakeTable, targets: dict, horizon: int) -> dict:
    """Purge every target's stored tombstones below the GC horizon; one
    ``_gc`` audit row per table (fqtn -> gc_tombstones result)."""
    batch_id = int(time.time() * 1000)
    res = {fqtn: gc_tombstones(target, horizon) for fqtn, target in targets.items()}
    gc_log.append_small(
        [
            {"batch_id": batch_id, "fqtn": fqtn, "horizon_wt": horizon,
             "n_purged": r["n_purged"], "n_kept": r["n_kept"]}
            for fqtn, r in res.items()
        ]
    )
    return res


@dataclass(eq=False)
class BatchCore:
    """The shared read, pre-scan and decode chain of one front-end's log.

    ``multi``: a multi-table log (model.MULTI_TABLE_LOG_SCHEMA) whose
    payloads decode per TableSpec. Otherwise the single-table log, whose
    cells arrive serialized iff ``decode_payload``. ``batch_mutations``: the
    log carries atomic multi-change records (changes: array<...> at one
    offset — handleMutation:255-272). ``routing_mode`` (R1,
    EventOrderGuaranteeMode, CassandraConnectorConfig.java:246-288): None
    lets the apply's own key shuffle route; a mode co-locates each ordered
    queue in one shuffle partition before the apply."""

    spark: SparkSession
    log_path: str
    multi: bool = False
    log_schema: object = None
    batch_mutations: bool = False
    payload_format: str = "json"
    decode_payload: bool = False
    pair_markers: bool = False
    excluded_fields: tuple = ()
    validate_writetimes: bool = False
    routing_mode: str | None = None
    n_queues: int = 8

    def __post_init__(self):
        if self.payload_format not in ("json", "binary"):
            raise ValueError(f"unknown payload_format {self.payload_format!r}")
        if self.routing_mode is not None and self.routing_mode not in ROUTING_MODES:
            raise ValueError(
                f"unknown routing mode {self.routing_mode!r}; use one of {ROUTING_MODES}"
            )
        self.decode_payload = self.decode_payload or self.multi
        if not self.multi:
            self.log_schema = self._resolve_log_schema(self.log_schema)

    # -- reads ----------------------------------------------------------------
    def _resolve_log_schema(self, log_schema):
        """D3 safety: the canonical read schema silently DROPS a ``table_kind``
        column present on disk — counter/MV/SI mutations would then be applied
        as normal rows, the opposite of the reference's unsupported-partition
        guard (Cassandra4CommitLogReadHandlerImpl.java:102-168). Detect the
        tagged-log case once per front-end lifetime and auto-include the
        column so classify-and-skip cannot be bypassed by a forgotten config."""
        if log_schema is not None:
            return log_schema
        base = BATCH_LOG_SCHEMA if self.batch_mutations else None
        try:
            on_disk = {f.name for f in self.spark.read.parquet(self.log_path).schema.fields}
        except AnalysisException as e:
            # ONLY the log-not-written-yet case may fall back silently: a
            # transient IO/permission error here would otherwise disable the
            # table_kind auto-include guard this probe exists to enforce
            if e.getCondition() in ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"):
                return base  # log not written yet — canonical schema
            raise
        if "table_kind" not in on_disk:
            return base
        warnings.warn(
            "mutation log carries a 'table_kind' column not in the configured "
            "schema; auto-including it so unsupported-partition mutations are "
            "classified and skipped (pass log_schema explicitly to override)",
            stacklevel=5,
        )
        return T.StructType(
            list((base or MUTATION_LOG_SCHEMA).fields)
            + [T.StructField("table_kind", T.StringType(), True)]
        )

    def read(self, segment_ids) -> DataFrame:
        """The log slice of the given segments (partition-pruned); logged
        batches are NOT yet exploded — see ``explode``."""
        if self.multi:
            log = self.spark.read.schema(self.stream_schema()).parquet(self.log_path)
        else:
            log = read_mutation_log(self.spark, self.log_path, schema=self.log_schema)
        return log.where(F.col("segment_id").isin(*[int(s) for s in segment_ids]))

    def stream_schema(self) -> T.StructType:
        """The read schema a ``readStream`` over the log needs up front."""
        if self.multi:
            return MT_BATCH_LOG_SCHEMA if self.batch_mutations else MULTI_TABLE_LOG_SCHEMA
        schema = self.log_schema
        if schema == "infer":
            schema = self.spark.read.parquet(self.log_path).schema
        elif schema is None:
            schema = MUTATION_LOG_SCHEMA
        if not self.batch_mutations and not self.decode_payload and "cells" not in schema.fieldNames():
            raise ValueError(
                "streaming source schema has no 'cells' column and decode_binary "
                "is off — a mis-schema'd read would materialize empty state"
            )
        return schema

    def explode(self, log: DataFrame) -> DataFrame:
        """Logged batches explode BEFORE everything else, so every change of a
        batch shares its offset and (default) writetime; the offset
        checkpoint then advances atomically per batch (handleMutation:255-272)."""
        if not self.batch_mutations:
            return log
        return explode_mt_batch_mutations(log) if self.multi else explode_batch_mutations(log)

    # -- the narrow pre-scan ------------------------------------------------------
    def prescan(self, log: DataFrame, targets) -> list[dict]:
        """ONE narrow job over the exploded log (see the module docstring).
        ``targets``: the CdcTarget of a single-table log, or ``[(TableSpec,
        CdcTarget)]`` for a multi-table one. The collect_set is bounded by
        the bucket-count product per group, never by event count."""
        is_unsup = _unsupported(log)
        if self.multi:
            cases = [
                ((F.col("keyspace") == spec.keyspace) & (F.col("table") == spec.table),
                 F.expr(_bucket_pair_sql(target)))
                for spec, target in targets
            ]
            pair = reduce(lambda acc, c: acc.when(*c), cases[1:], F.when(*cases[0]))
            pairs, group = F.collect_set(pair).alias("bucket_pairs"), ["keyspace", "table"]
        else:
            pairs = F.expr(f"collect_set({_bucket_pair_sql(targets)}) AS bucket_pairs")
            group = []
        rows = (
            log.groupBy(*group, "segment_id", "log_partition")
            .agg(
                F.count("*").alias("n"),
                F.max("position").alias("max_pos"),
                F.max("writetime").alias("max_wt"),
                F.sum(is_unsup.cast("long")).alias("n_unsup"),
                *[
                    F.sum(((F.col("op") == k) & ~is_unsup).cast("long")).alias(f"n_{k}")
                    for k in _KINDS
                ],
                pairs,
            )
            .collect()
        )
        return [
            {
                **r.asDict(),
                "fqtn": f"{r['keyspace']}.{r['table']}" if self.multi else None,
                "bucket_pairs": [(p["sb"], p["tb"]) for p in r["bucket_pairs"]],
            }
            for r in rows
        ]

    # -- the decode chain ----------------------------------------------------------
    def decode(self, log: DataFrame, spec=None, defer_markers=None, for_export=False) -> DataFrame:
        """Classify-and-skip -> range-marker pairing -> payload decode (the
        single-table cells, or ``spec``'s) -> field exclusion -> writetime
        validation -> routing. ``defer_markers(markers)`` takes the batch's
        range markers out instead of pairing them (CdcStream's deferral);
        ``for_export`` stops after the payload decode — the export builds
        its own envelope with the field exclusion."""
        if "table_kind" in log.columns:
            log = log.where(~_unsupported(log)).drop("table_kind")
        if defer_markers is not None:
            defer_markers(log.where(F.col("op") == "r"))
            log = log.where(F.col("op") != "r")
        elif self.pair_markers:
            # D9 full form: the log carries separate start/end bound markers;
            # pair them (per conv, log order) before the apply sees them
            log = pair_range_markers(log)
        if self.decode_payload:
            log = self._decode_payload(log, spec)
        if for_export:
            return log
        if self.excluded_fields:
            # D10 field-exclude rewrites cells; the full envelope (ts_ms,
            # source, ...) exists for the export surface, the apply needs
            # only cells
            log = with_envelope(log, excluded_fields=self.excluded_fields).select(
                *log.columns
            )
        if self.validate_writetimes:
            validate_unique_writetimes(log)
        if self.routing_mode is not None:
            log = route_df(log, self.routing_mode, self.n_queues).drop("queue")
        return log

    def _decode_payload(self, log: DataFrame, spec) -> DataFrame:
        """S5: serialized payload bytes -> typed cells. 'json' = from_json
        codegen; 'binary' = the binary layout with the vectorized numpy
        decoder (functions/binary_codec.py)."""
        if self.payload_format == "binary":
            from ..functions import binary_codec

            if spec is None:
                return binary_codec.decode_payload_binary(log)
            return binary_codec.decode_table_payload_binary(log, spec)
        return decode_payload_jvm(log) if spec is None else decode_table_payload(log, spec)

    def apply(self, target, log: DataFrame, rows: list[dict], spec=None, defer_markers=None):
        """Decode ``log`` and apply it with the pre-scan ``rows``' stats;
        returns ``(apply metrics, decoded batch)``. The bucket pairs are a
        superset when skipped or deferred rows add buckets: an extra bucket
        costs an idempotent rewrite, never correctness."""
        stats = {"n": sum(r["n"] - r["n_unsup"] for r in rows)}
        stats.update({k: sum(r[f"n_{k}"] for r in rows) for k in _KINDS})
        stats["bucket_pairs"] = sorted({p for r in rows for p in r["bucket_pairs"]})
        if defer_markers is not None:
            stats["n"] -= stats["r"]
            stats["r"] = 0
        batch = self.decode(log, spec, defer_markers=defer_markers)
        return apply_batch(target, batch, stats=stats), batch
