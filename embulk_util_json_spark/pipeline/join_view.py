"""Incrementally-maintained JOIN views over two snapshot tables.

``pipeline/agg_view`` keeps a GROUP BY current off ONE table's change
feed. The other standard warehouse materialization is the equi-JOIN
view — "transcripts enriched with their conversation profile" — where
the naive answer (re-join both tables every refresh) is O(|L| + |R|)
per batch and dies first at 100 TB.

:class:`IncrementalJoinView` maintains ``L ⋈ R`` with the
affected-key recompute algorithm (the delta-join ΔL ⋈ R ∪ L ⋈ ΔR
specialized to an FK→PK join, where every affected output row is
identified by its LEFT key):

1. both sides' change feeds since the last refresh give the delta key
   sets — ``keys(ΔL)`` directly, and for ΔR the left rows CURRENTLY
   pointing at a changed right key (one bucket-pruned probe read of L
   by the join column — ``on[0]`` must be L's ``bucket_by``, enforced);
2. the affected left keys are re-joined from CURRENT state: probe-
   pruned reads of both sinks (O(affected), never O(table)),
   ``how='inner'`` or ``'left'``;
3. affected keys with no joined output (left row tombstoned, or inner
   partner gone) become view tombstones — the view's key set always
   equals the keys of the true join;
4. the result upserts into a third ``ParquetSnapshotSink`` keyed by
   the LEFT keys and LWW-ordered by ``(src_lv, src_rv)`` — the source-
   version pair, strictly increasing per refresh, so replays and
   overlapping repairs resolve deterministically.

Exactly-once with NO sidecar state: a refresh is one
``sinks.feed.fold_window`` step over both sources, so the batch id
encodes the two-sided version window (``jv@{flv}.{frv}-{tlv}.{trv}``)
and the view sink's committed batch log IS the high-water mark; a
crash replays into a batch-log skip or a clean retry.

Join-shape contract (checked at construction): ``on`` must equal the
RIGHT sink's full key set — an FK→PK join, so each left row has at
most one partner and the view stays keyed by the left keys. A many-
to-many join view is a different (join-index) algorithm. Patch-mode
sources are rejected for the same reason as ``agg_view``: their feeds
carry column levels, not retractable rows.

Scale shape per refresh: two O(Δ) feed scans, two probe-pruned reads
(bucket pruning + broadcast semi-join BEFORE the chain merge), one
broadcast-able join of O(affected) rows, one bucketed apply. Nothing
proportional to either table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..sinks.feed import fold_window, window_mark
from ..sinks.snapshot import ParquetSnapshotSink

JV_PREFIX = "jv@"


def last_folded_versions(view_sink: ParquetSnapshotSink) -> tuple[int, int]:
    """(left, right) source versions the view reflects."""
    return window_mark(view_sink, JV_PREFIX, width=2)


class IncrementalJoinView:
    def __init__(
        self,
        spark: SparkSession,
        root: str,
        left: ParquetSnapshotSink,
        right: ParquetSnapshotSink,
        on: list[str],
        how: str = "inner",
        right_prefix: str = "r_",
        num_buckets: int | None = None,
    ) -> None:
        if how not in ("inner", "left"):
            raise ValueError("how must be 'inner' or 'left'")
        if list(on) != list(right.keys):
            raise ValueError(
                f"on={on!r} must equal the right sink's key set "
                f"{right.keys!r}: the view join is FK->PK (at most one "
                "partner per left row) so the view stays keyed by the "
                "left keys"
            )
        if left.bucket_by != on[0]:
            raise ValueError(
                f"on[0]={on[0]!r} must be the left sink's bucket_by "
                f"({left.bucket_by!r}): the dR->affected-left probe is "
                "otherwise a full scan of L per refresh"
            )
        if left.patch_cols or right.patch_cols:
            raise ValueError(
                "IncrementalJoinView requires row-level sources: patch-"
                "mode change feeds carry column levels, not rows"
            )
        self.spark = spark
        self.left = left
        self.right = right
        self.on = list(on)
        self.how = how
        self.right_prefix = right_prefix
        self.view = ParquetSnapshotSink(
            spark,
            root,
            num_buckets=num_buckets or left.num_buckets,
            keys=list(left.keys),
            order_cols=["src_lv", "src_rv"],
            mode="mor",
        )

    # -- maintenance ----------------------------------------------------

    def refresh(self) -> dict:
        """Fold both sources' versions committed since the last refresh
        into the view. O(affected keys) per call; idempotent and
        crash-safe via the view sink's batch log."""
        pins: list = []
        try:
            return fold_window(
                self.view, JV_PREFIX, [self.left, self.right],
                lambda frm, to: self._batch(*frm, *to, pins),
            )
        finally:
            # the pins are per-refresh scratch; don't let them pile up
            # in the block manager across a long refresh loop
            for pinned in pins:
                pinned.unpersist()

    def _batch(self, from_lv, from_rv, to_lv, to_rv, pins: list) -> DataFrame:
        """The window's view rows: an upsert per affected left key
        that joins, a tombstone per one that no longer does. Appends
        every frame it pins to ``pins``."""
        # changed_keys, not read_changes: the affected-key recompute
        # only needs a SUPERSET of the changed keys (re-deriving an
        # unchanged key from current state is idempotent), and the
        # superset feed skips the old-state read + beats comparison —
        # the dominant cost of an exact net-change feed per refresh.
        # fold_window builds only when a side moved, so `parts` is
        # never empty; changed_keys selects the distinct
        # sink keys, and the right sink's keys are `on`.
        parts = []
        if to_lv > from_lv:
            parts.append(self.left.changed_keys(from_lv, to_lv))
        if to_rv > from_rv:
            rk = self.right.changed_keys(from_rv, to_rv).select(*self.on)
            # left rows currently pointing at a changed right key: one
            # bucket-pruned probe read of L (on[0] == left.bucket_by),
            # narrowed to the full on-tuple, projected to the left keys.
            # pin_probe materializes rk AND collects its bucket set in
            # ONE job — rk is consumed again by the semi-join inside
            # the job that materializes `aff`, and each lazy
            # consumption would re-run the right feed's chain read.
            rk, rk_buckets = self.left.pin_probe(rk, self.on[0])
            pins.append(rk)
            extra = [c for c in self.on if c not in self.left.keys]
            touched = self.left.read(
                probe_keys=rk, probe_buckets=rk_buckets, columns=extra
            )
            if len(self.on) > 1 or extra:
                touched = touched.join(F.broadcast(rk), self.on, "left_semi")
            parts.append(touched.select(*self.left.keys))

        aff = parts[0]
        for p in parts[1:]:
            aff = aff.unionByName(p)
        # Each expensive subplan below is pinned exactly once, and
        # every pin doubles as the NEXT step's bucket collect
        # (pin_probe): without the pins a single refresh recomputes
        # the probe-pruned chain merges 3-4× — cur_l's merge re-runs
        # inside cur_r's probe collect AND inside the apply's write
        # job, and `joined` is consumed by ups, dels and the write
        # (measured ~30 Spark jobs/refresh at toy scale; ~10 with the
        # pins). All pinned frames are O(affected keys), never
        # O(table). `aff` is reused as probe source, semi-join build
        # side and tombstone anti-join probe.
        if all(c in self.left.keys for c in self.on):
            # on ⊆ left keys: the affected-key set already carries the
            # join values, so probe R from pinned `aff` directly — a
            # SUPERSET of cur_l's on-values (exact: unmatched right
            # rows drop in the join below), and one fewer
            # materialization per refresh. Both sides' bucket sets
            # come out of aff's single pin job.
            aff, aff_buckets, [r_buckets] = self.left.pin_probe(
                aff.distinct(), also=[(self.right, self.on[0])]
            )
            pins.append(aff)
            cur_l = self.left.read(
                probe_keys=aff, probe_buckets=aff_buckets
            ).join(F.broadcast(aff), self.left.keys, "left_semi")
            cur_r = self.right.read(
                probe_keys=aff.select(*self.on).distinct(),
                probe_buckets=r_buckets,
            )
        else:
            aff, aff_buckets = self.left.pin_probe(aff.distinct())
            pins.append(aff)
            cur_l = self.left.read(
                probe_keys=aff, probe_buckets=aff_buckets
            ).join(F.broadcast(aff), self.left.keys, "left_semi")
            # on carries left PAYLOAD columns: cur_l must materialize
            # before its on-values can probe R
            cur_l, on_buckets = self.right.pin_probe(cur_l, self.on[0])
            pins.append(cur_l)
            cur_r = self.right.read(
                probe_keys=cur_l.select(*self.on).distinct(),
                probe_buckets=on_buckets,
            )
        cur_r = cur_r.select(
            *self.on,
            *[
                F.col(c).alias(self.right_prefix + c)
                for c in cur_r.columns
                if c not in self.on
            ],
        )
        # upserts and tombstones in ONE pass: affected keys LEFT JOIN
        # the recomputed join rows — a match is the key's new view row,
        # a miss means the true join no longer has the key (left row
        # tombstoned / inner partner gone) and becomes a view
        # tombstone. One consumer of `joined` means the whole refresh
        # pipeline evaluates lazily inside the apply's single write
        # job — no extra materialization action for the join.
        joined = cur_l.join(cur_r, self.on, self.how).withColumn(
            "_m", F.lit(1)
        )
        stamp = [
            F.lit(to_lv).cast("long").alias("src_lv"),
            F.lit(to_rv).cast("long").alias("src_rv"),
        ]
        return (
            aff.join(joined, self.left.keys, "left")
            .select(
                "*",
                F.when(F.col("_m").isNull(), F.lit("delete"))
                .otherwise(F.lit("upsert"))
                .alias("op"),
                *stamp,
            )
            .drop("_m")
        )

    # -- query ----------------------------------------------------------

    def read(self) -> DataFrame:
        """Current view state: left keys + left payload + prefixed
        right payload (tombstones filtered, stamps dropped)."""
        return self.view.read().drop("src_lv", "src_rv")
