"""Incrementally-maintained aggregate views over a snapshot table.

``pipeline/views.IncrementalConversationView`` maintains a ROW-shaped
view (one output row per touched key). The other half of warehouse MV
maintenance is the AGGREGATE view — ``GROUP BY`` counts and sums kept
current as the CDC apply mutates the base table — where recomputing
from the full table every batch is the naive O(table) answer that
dies first at 100 TB.

:class:`IncrementalAggView` folds the sink's preimage/postimage change
feed (``read_changes(..., include_preimage=True)``) instead: each
refresh retracts the OLD winning row's contribution and adds the NEW
one, so the cost is O(changed keys) + O(stored groups), never
O(table). This is the textbook self-maintainable-aggregate algorithm
(Delta CDF / Flink retract-stream shape): it supports the measures
that are groups under addition — ``SUM`` of any per-row expression,
and ``COUNT`` as ``SUM(1)`` (``AVG`` = stored sum / stored count
downstream). ``MIN``/``MAX`` are deliberately NOT offered: a retract
of the current extreme needs a re-scan of the group, which is a
different (non-incremental) algorithm.

Consistency rules baked in:

- tombstoned keys contribute nothing: postimage rows with
  ``op = 'delete'`` add zero, and the preimage of the tombstoned key
  retracts its old contribution;
- a group whose internal row count (``_n``, maintained alongside the
  user measures) reaches zero is REMOVED, not left as a zero row —
  the view's key set always equals ``SELECT DISTINCT group FROM
  base``;
- refresh is idempotent: the folded base-table version is recorded in
  the view state (``view.json`` beside ``agg-<uuid>`` data
  generations, kept by ``sinks.jsonlog.StateDir``); a redelivered
  refresh is a skip, a crash between data write and state write
  leaves only unreferenced garbage. It pulls like every table
  consumer but keeps this position, not ``sinks.feed.fold_window``'s
  batch-log mark: its store is not a sink.

Scale shape: the delta is one hash aggregation over the change feed
(map-side combinable), the merge is one hash aggregation over
stored-groups ∪ delta-groups, and the store rewrite is O(groups) —
groups are the small side by definition of aggregation. No windows,
no joins against the base table.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from ..sinks.jsonlog import StateDir
from ..sinks.snapshot import ParquetSnapshotSink

_N = "_n"  # internal per-group live-row count


class IncrementalAggView:
    def __init__(
        self,
        spark: SparkSession,
        path: str,
        sink: ParquetSnapshotSink,
        group_cols: list[str],
        measures: dict[str, Column],
        op_col: str = "op",
    ):
        """``measures`` maps output column → the per-row CONTRIBUTION
        expression (summed per group): ``{"n_turns": F.lit(1),
        "sum_len": F.length("text")}``."""
        if _N in measures:
            raise ValueError(f"{_N} is reserved")
        self.spark = spark
        self.sink = sink
        self.group_cols = list(group_cols)
        self.measures = dict(measures)
        self.op_col = op_col
        self.state_dir = StateDir(
            path, "view.json", {"table_version": 0, "data": None},
            {"data": "agg-"}, spark.read.parquet,
        )

    # -- maintenance ----------------------------------------------------

    def refresh(self) -> dict:
        """Fold every base-table version committed since the last
        refresh into the view. O(changed keys) + O(groups)."""
        state = self.state_dir.read()
        from_v = int(state["table_version"])
        to_v = self.sink.current_version()
        if to_v <= from_v:
            return {"skipped": True, "table_version": from_v}
        old, new = (self.sink.manifest_at(v) or {} for v in (from_v, to_v))
        if (old.get("buckets") or {}) == (new.get("buckets") or {}):
            # no data file changed (config evolution / vacuum, or no
            # data yet): just advance the folded-version pointer
            self.state_dir.publish({**state, "table_version": to_v})
            return {"skipped": False, "table_version": to_v, "empty": True}
        feed = self.sink.read_changes(from_v, to_v, include_preimage=True)
        # Align the feed to the sink's CURRENT read schema: a window
        # that spans versions before a column evolved in (or whose
        # early batches were tombstone-only and never carried the
        # payload) yields feed rows missing that column — the measure
        # and group expressions must still resolve, and NULL is the
        # exact value those rows hold for it (additive evolution:
        # old rows read NULL for new columns).
        cur = self.sink.read()
        for f in cur.schema.fields:
            if f.name not in feed.columns:
                feed = feed.withColumn(f.name, F.lit(None).cast(f.dataType))
        # tombstones contribute nothing on either side of the fold
        alive = feed.filter(F.col(self.op_col) != "delete")
        sign = F.when(F.col("_change") == "postimage", F.lit(1)).otherwise(
            F.lit(-1)
        )
        delta = alive.select(
            *self.group_cols,
            sign.cast("long").alias(_N),
            *[
                (expr.cast("long") * sign).alias(name)
                for name, expr in self.measures.items()
            ],
        )
        merged = delta
        stored = self.state_dir.load(state, "data")
        if stored is not None:
            merged = stored.unionByName(delta)
        out = (
            merged.groupBy(*self.group_cols)
            .agg(
                F.sum(_N).alias(_N),
                *[F.sum(c).alias(c) for c in self.measures],
            )
            .filter(F.col(_N) > 0)
        )
        data_name = self.state_dir.stage("data", out.write.parquet)
        self.state_dir.publish({"table_version": to_v, "data": data_name})
        return {
            "skipped": False,
            "table_version": to_v,
            "folded_versions": to_v - from_v,
        }

    def read(self) -> DataFrame:
        """Current view: group columns + the declared measures."""
        stored = self.state_dir.load(self.state_dir.read(), "data")
        if stored is None:
            fields = ", ".join(
                [f"{c} string" for c in self.group_cols]
                + [f"{m} long" for m in self.measures]
            )
            return self.spark.createDataFrame([], fields)
        return stored.select(*self.group_cols, *self.measures)
