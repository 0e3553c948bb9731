"""Cross-batch in-order commit fencing for the CDC apply path.

``pipeline/disorder.fence_at_first_gap`` answers the one-shot
question "what prefix of THIS frame is contiguous?". A continuously
tailing apply needs the stateful version: the applied frontier must
never pass a hole in the binlog, across micro-batches, until the hole
is filled (refetched) or explicitly abandoned. Without it, a dropped
WAL segment lets the sink expose a state that a late refetch would
retroactively change — e.g. the missing event is the delete between
two updates (reference analogue: the row-skippable error taxonomy of
``JsonParser.java`` guards a single document; this guards the ORDER
contract of the whole feed).

:class:`FencedApplier` wraps ``apply_events_batch`` with durable
state in a work dir, kept by ``sinks.jsonlog.StateDir``:

- ``fence.json`` — ``next_seq`` (the applied contiguous frontier + 1)
  and the name of the pending generation;
- ``pending-<uuid>`` — the held-back suffix (rows at/past the first
  unfilled hole). Each batch that holds rows writes a NEW generation;
  the one the committed state names is never written again, so a
  failed write (say, on a tick that leaves the hole open) loses
  nothing.

Per batch: union incoming with pending (less the rows pending already
holds, so a redelivery adds no held row twice), drop rows below the
frontier (redelivered duplicates — already applied), compute the first
missing position at/after the frontier with the range-parallel gap
detector, apply the contiguous prefix through the sink's exactly-once
MERGE, persist the rest as the new pending set, then advance the
frontier.

Crash safety is ordering, not locking: (1) the apply is idempotent —
its batch id is a pure function of the frontier pair, so a redo after
a crash between apply and state-write is skipped by the sink's batch
log; (2) the new pending generation is written before the state
points at it; (3) generations the state no longer names are swept
after it is published. At-least-once redelivery of source batches
is therefore safe end to end.

Scale shape: everything is DataFrame work — the union is two parquet
scans, the gap scan is the range-parallel detector (never a global
window), the fence is one broadcast row, and held-back rows never
enter the merge exchange. Driver-side state is O(1): two longs and a
file name. The pending store is a real risk surface at 100 TB ONLY if
a hole goes unfilled while the tail keeps growing — ``pending_rows``
is reported on every result so an operator can alarm on it, and
``abandon_below`` moves the fence past a hole that will never be
refetched (the documented escape hatch).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..pipeline.disorder import seq_gaps
from ..sinks.jsonlog import StateDir
from ..sinks.snapshot import ParquetSnapshotSink
from .runner import apply_events_batch


class FencedApplier:
    def __init__(
        self,
        spark: SparkSession,
        sink: ParquetSnapshotSink,
        work_dir: str,
        seq_col: str = "seq",
        parse_fn=None,
        n_ranges: int = 64,
    ):
        self.spark = spark
        self.sink = sink
        self.seq_col = seq_col
        self.parse_fn = parse_fn
        self.n_ranges = n_ranges
        self.state_dir = StateDir(
            work_dir, "fence.json", {"next_seq": None, "pending": None},
            {"pending": "pending-"}, spark.read.parquet,
        )

    # -- the apply ----------------------------------------------------

    def apply(self, events: DataFrame) -> dict:
        """Ingest one micro-batch (raw envelope rows with ``seq_col``).
        Applies the contiguous prefix, holds back the rest. Returns the
        sink apply result plus fence telemetry (``fence_next_seq``,
        ``applied_rows``, ``pending_rows``, ``held_batch``)."""
        s = F.col(self.seq_col)
        state = self.state_dir.read()
        union = events
        pending = self.state_dir.load(state, "pending")
        if pending is not None:
            # a redelivered row is byte-identical to the one held: keep
            # each held row once (multiset difference, NULL-safe)
            union = events.exceptAll(pending.select(*events.columns)).unionByName(
                pending
            )
        if state["next_seq"] is not None:
            # rows below the frontier are redelivered duplicates of
            # already-applied positions — drop before any shuffle
            union = union.filter(s >= state["next_seq"])
        union = union.localCheckpoint()  # scanned 3× (bounds/gaps/apply)

        b = union.agg(F.min(s).alias("lo"), F.max(s).alias("hi")).collect()[0]
        if b.lo is None:
            return {
                "skipped": True,
                "fence_next_seq": state["next_seq"],
                "applied_rows": 0,
                "pending_rows": 0,
            }
        start = state["next_seq"] if state["next_seq"] is not None else int(b.lo)
        if int(b.lo) > start:
            fence = start  # the hole is still open at the frontier
        else:
            g = (
                seq_gaps(union, self.seq_col, n_ranges=self.n_ranges)
                .agg(F.min("gap_start").alias("g"))
                .collect()[0]
            )
            fence = int(g.g) if g.g is not None else int(b.hi) + 1

        applicable = union.filter(s < fence)
        held = union.filter(s >= fence)
        result = {"skipped": True, "fence_next_seq": fence}
        if fence > start:
            result = apply_events_batch(
                applicable,
                self.sink,
                f"fence-{start}-{fence}",
                parse_fn=self.parse_fn,
            )
            result["fence_next_seq"] = fence
            result["applied_rows"] = applicable.count()
        else:
            result["applied_rows"] = 0

        n_held = held.count()
        pending_name = None
        if n_held:
            pending_name = self.state_dir.stage("pending", held.write.parquet)
        self.state_dir.publish({"next_seq": fence, "pending": pending_name})
        result["pending_rows"] = n_held
        result["held_batch"] = bool(n_held)
        return result

    def abandon_below(self, seq: int) -> dict:
        """Move the fence past holes that will never be refetched:
        declare every MISSING position below ``seq`` resolved. The
        held events we do have below ``seq`` are applied now (giving
        up on a hole must not discard the data around it); pending
        rows at/past ``seq`` stay held behind their own next gap. The
        apply reuses the exactly-once batch-id machinery
        (``abandon-<old>-<seq>``), so a crash-redo is skipped by the
        sink's batch log before the state advances."""
        state = self.state_dir.read()
        nxt = state["next_seq"]
        if nxt is not None and seq <= nxt:
            return state
        s = F.col(self.seq_col)
        pending = self.state_dir.load(state, "pending")
        applied = 0
        pending_name = state.get("pending")
        if pending is not None:
            lower = pending.filter(s < seq).localCheckpoint()
            applied = lower.count()
            if applied:
                apply_events_batch(
                    lower,
                    self.sink,
                    f"abandon-{nxt}-{seq}",
                    parse_fn=self.parse_fn,
                )
                upper = pending.filter(s >= seq)
                pending_name = None
                if not upper.isEmpty():
                    pending_name = self.state_dir.stage(
                        "pending", upper.write.parquet
                    )
        state = {"next_seq": seq, "pending": pending_name}
        self.state_dir.publish(state)
        return {**state, "applied_rows": applied}
