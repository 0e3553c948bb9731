"""Incrementally-maintained SCD Type-2 dimension table.

``operators/history.scd2_history`` derives the version table from the
FULL change log — O(log) per run, the dbt-snapshot-rebuild shape. At
10^10 events the log outgrows every per-run budget; this module
maintains the same table INCREMENTALLY: each refresh touches only the
keys the batch changed, at O(affected keys' history) cost, and the
result is pinned (tests + graded query) to equal the one-shot
``scd2_history`` over the raw log at every step.

Why incremental SCD2 is harder than incremental LWW: a late event does
not just lose or win — it SPLITS an existing interval (its
predecessor's ``valid_to`` must shrink to the late event's position).
Correct repair therefore needs the key's full event history, including
DELETE events (they close intervals but emit no version row). The view
stores exactly that:

* storage = a ``ParquetSnapshotSink`` keyed by ``keys + [seq]`` (every
  event is its own row — no two events collide), ordered by a
  monotone ``refresh_seq``: a recompute of a key's rows overwrites the
  previous recompute via plain LWW, idempotent on batch_id like every
  sink here;
* delete events are stored as rows (``ev_op='delete'``) and hidden at
  read — they exist so a FUTURE late event can replay the key's
  timeline correctly;
* refresh = union(stored rows of affected keys ∪ new events), dedupe
  on the event key (redelivery-safe), one key-partitioned window
  recompute (``scd2_history(keep_delete_rows=True)``), one apply.
  Reads of affected keys use the sink's two-level ``probe_keys``
  pruning — only the touched bucket chains open.

Table consumers pull (``sinks.feed.fold_window``); this stream
consumer is fed each batch (``refresh(changes, batch_id)``): it needs
every event, and a table's net feed keeps only each key's winner.

Convergence: the stored event set per key grows monotonically toward
the log's event set for that key, and the interval recompute is a
deterministic function of it — so after every key's last event has
been refreshed, read() ≡ scd2_history(full log) regardless of batch
order, lateness, or redelivery.

Reference anchor: the reference parses the stream (JsonParser.java);
maintaining dimension history downstream is host-pipeline scope
(SURVEY.md §2.4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.history import scd2_history
from ..sinks.snapshot import ParquetSnapshotSink

_EVENT_COLS = ["conv_id", "turn_idx", "ev_seq", "ev_op", "role", "text", "tool", "ts"]


class IncrementalScd2View:
    """SCD2 version table over the transcript change stream, kept
    current batch-by-batch. Key set fixed to (conv_id, turn_idx) —
    the engine's transcript table shape."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        num_buckets: int = 8,
        mode: str = "mor",
    ) -> None:
        self.spark = spark
        self.keys = ["conv_id", "turn_idx"]
        self.sink = ParquetSnapshotSink(
            spark,
            root,
            num_buckets=num_buckets,
            keys=[*self.keys, "ev_seq"],
            order_cols=["refresh_seq"],
            bucket_by="conv_id",
            mode=mode,
        )

    def refresh(self, changes: DataFrame, batch_id: str) -> dict:
        """Fold one parsed change batch (columns: seq, op, ts,
        conv_id, turn_idx, role, text, tool) into the version table.
        O(affected keys' history) — probe-pruned read + one window."""
        # "seq"/"op" are the storage sink's reserved meta names (read()
        # strips them) — the event's own position/op live as ev_seq/ev_op
        new = changes.filter(
            F.col("conv_id").isNotNull() & F.col("op").isNotNull()
        ).select(
            "conv_id", "turn_idx",
            F.col("seq").alias("ev_seq"),
            F.col("op").alias("ev_op"),
            "role", "text", "tool", "ts",
        )
        # ONE materialization of the batch serves everything below:
        # pin_probe persists `new` and collects its bucket set in the
        # same job; ids/touched are lazy projections of the pinned
        # frame, and the probe-pruned read skips its own bucket
        # collect. (Two eager checkpoints + a probe collect —
        # 3 actions, each re-running the batch lineage — before.)
        new, new_buckets = self.sink.pin_probe(new, "conv_id")
        try:
            ids = new.select("conv_id").distinct()
            touched = new.select(*self.keys).distinct()
            if self.sink.current_version() > 0:
                stored = (
                    self.sink.read(probe_keys=ids, probe_buckets=new_buckets)
                    .join(F.broadcast(touched), self.keys, "left_semi")
                    .select(*_EVENT_COLS)
                )
                events = stored.unionByName(new)
            else:
                events = new
            events = events.dropDuplicates(["conv_id", "turn_idx", "ev_seq"])
            return self._apply_versions(events, batch_id)
        finally:
            new.unpersist()

    def _apply_versions(self, events: DataFrame, batch_id: str) -> dict:
        versions = scd2_history(
            events,
            self.keys,
            ["ts", "ev_seq"],
            op_col="ev_op",
            seq_col="ev_seq",
            keep_delete_rows=True,
        )
        refresh_seq = self.sink.current_version() + 1
        rows = versions.select(
            "conv_id",
            "turn_idx",
            F.col("valid_from_seq").alias("ev_seq"),
            "ev_op",
            "role",
            "text",
            "tool",
            F.col("valid_from_ts").alias("ts"),
            "valid_to_ts",
            "valid_to_seq",
            F.lit(refresh_seq).cast("long").alias("refresh_seq"),
            F.lit("update").alias("op"),
        )
        return self.sink.apply(rows, batch_id)

    def read(self) -> DataFrame:
        """The SCD2 version table — same columns and semantics as
        ``scd2_history`` over the full log (delete markers hidden)."""
        s = self.sink.read()
        return s.filter(F.col("ev_op") != "delete").select(
            "conv_id",
            "turn_idx",
            "role",
            "text",
            "tool",
            F.col("ts").alias("valid_from_ts"),
            F.col("ev_seq").alias("valid_from_seq"),
            "valid_to_ts",
            "valid_to_seq",
            F.col("valid_to_ts").isNull().cast("int").alias("is_current"),
        )
