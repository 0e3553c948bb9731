"""Incremental materialized views over the CDC table (derived-table
maintenance).

A CDC pipeline rarely ends at the upserted base table: training-data
prep consumes *assembled conversations* (one document per conv_id),
and at 10^10 events reassembling every conversation after every
micro-batch is O(table) work per batch. This operator maintains the
assembled view INCREMENTALLY: each refresh recomputes only the
conversations the source changed since the last refresh
(``changed_keys`` of the version window), using the sink's two-level
``probe_keys`` pruning (only the touched keys' bucket chains are
opened, then a broadcast semi-join restricts the merge to touched
keys) — per-refresh cost is O(touched conversations), not O(table).

Table consumers pull and stream consumers are fed: ``refresh()``
takes no arguments and folds the source's version window through
``sinks.feed.fold_window``, like the mirror, index and join view.
Call it on any cadence, e.g. from a streaming tail's ``on_batch``.

The view itself is a second ``ParquetSnapshotSink`` keyed by
``conv_id`` — the same bucketed exactly-once machinery as the base
table, pointed at derived state (precedent:
``incremental.IncrementalDeduper``'s fingerprint store):

- the view's batch log is its position (batch id ``cv@{from}-{to}``):
  with no new source version a refresh is an up-to-date skip, and a
  crash replays into a skip or a clean retry;
- the LWW order column is the window's ``to`` version;
- a conversation whose last turn was deleted from the base table
  refreshes to a ``delete`` tombstone — it leaves the view exactly
  as a row delete leaves the base table.

Convergence: each refresh re-derives its touched conversations from
current source state and consecutive windows cover every version, so
a refresh after the last apply leaves the view equal to
assemble(source state).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..sinks.feed import fold_window
from ..sinks.snapshot import ParquetSnapshotSink
from .transcripts import assemble_conversations

VIEW_COLS = ["conv_id", "document", "n_turns"]
VIEW_PREFIX = "cv@"


class IncrementalConversationView:
    def __init__(
        self,
        spark: SparkSession,
        source: ParquetSnapshotSink,
        root: str,
        num_buckets: int | None = None,
        mode: str = "mor",
    ) -> None:
        self.spark = spark
        self.source = source
        self.view = ParquetSnapshotSink(
            spark,
            root,
            num_buckets=num_buckets or source.num_buckets,
            keys=["conv_id"],
            order_cols=["src_version"],
            bucket_by="conv_id",
            mode=mode,
        )

    def refresh(self) -> dict:
        """Re-derive the view rows of every conversation the source
        changed since the last refresh and MERGE them: one key-pruned
        source read + one view apply (``sinks.feed.fold_window``)."""
        return fold_window(self.view, VIEW_PREFIX, [self.source], self._rows)

    def _rows(self, from_v: int, to_v: int) -> DataFrame:
        # Both metadata-sized frames are consumed several times (ids:
        # bucket-probe collect, probe semi-join, tombstone anti-join;
        # docs: upsert branch + anti-join): checkpoint so the window's
        # key scan and the pruned read+assemble each run exactly once.
        ids = (
            self.source.changed_keys(from_v, to_v)
            .select("conv_id")
            .distinct()
            .localCheckpoint()
        )
        turns = self.source.read(probe_keys=ids)
        docs = assemble_conversations(turns).localCheckpoint()
        gone = ids.join(docs, "conv_id", "left_anti")
        return docs.select(
            "conv_id",
            "document",
            "n_turns",
            F.lit(to_v).cast("long").alias("src_version"),
            F.lit("update").alias("op"),
        ).unionByName(
            gone.select(
                "conv_id",
                F.lit(None).cast("string").alias("document"),
                F.lit(None).cast("int").alias("n_turns"),
                F.lit(to_v).cast("long").alias("src_version"),
                F.lit("delete").alias("op"),
            )
        )

    def read(self) -> DataFrame:
        """Current view state: (conv_id, document, n_turns)."""
        return self.view.read().select(*VIEW_COLS)
