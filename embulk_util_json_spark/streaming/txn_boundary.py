"""Transaction-boundary-aware apply: source-transaction atomicity.

Logical-replication feeds frame their row events in source
transactions (Postgres BEGIN/COMMIT in pgoutput, MySQL binlog XID
events, Debezium's transaction-metadata topic). A sink that applies
rows the moment they arrive exposes HALF a source transaction — e.g.
the debit without the credit — whenever a micro-batch boundary (or a
crash) lands inside one. The reference parses one document at a time
and delegates atomicity to the host (SURVEY.md §6); on Spark the
engine itself must hold the boundary.

:class:`TxnBoundaryApplier` makes source-transaction commits the unit
of visibility:

- row events carry a ``txid`` column (stamped by the wire adapter);
- boundary **markers** ``(txid, status)`` with status ``commit`` or
  ``abort`` arrive on their own feed (possibly batches later);
- a row becomes visible ONLY once its transaction's ``commit`` marker
  has been seen; rows of ``abort``-ed transactions are dropped; rows
  of still-open transactions are held durably across batches, each
  once however often its batch is redelivered.

Durable state in a work dir, kept by ``sinks.jsonlog.StateDir`` (as
for :class:`.fenced.FencedApplier`):

- ``txns.json`` — apply epoch (the exactly-once batch-id counter) and
  the names of the current pending and marker generations;
- ``pending-<uuid>`` — held rows of open transactions;
- ``markers-<uuid>`` — the resolved ``(txid, status)`` set.

Crash safety is the fenced applier's ordering argument: the sink
apply's batch id is a pure function of the durable epoch, so a redo
after a crash between apply and state-write is skipped by the sink's
batch log; new generations are written under fresh names before the
state points at them, and the ones it stops naming are swept after.

Markers are retained (not retired at resolution) so that an
at-least-once redelivery of an already-applied transaction's rows
re-resolves instantly — the sink's LWW merge makes the re-apply a
semantic no-op. The marker set grows two longs per source transaction;
``vacuum_markers(below_txid)`` is the retention escape hatch once the
source's redelivery horizon has passed.

Scale shape: classification is ONE equi-join of the row feed against
the marker set on ``txid`` — markers are orders of magnitude smaller
than rows (one per transaction) and the join is left to AQE, which
broadcasts the build side while it fits and degrades to a shuffle
join (never a failure) if an abusive feed makes it wide. Pending rows
never enter the merge exchange. Driver-side state is O(1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..sinks.jsonlog import StateDir
from ..sinks.snapshot import ParquetSnapshotSink
from .runner import apply_events_batch

MARKER_COMMIT = "commit"
MARKER_ABORT = "abort"


class TxnBoundaryApplier:
    def __init__(
        self,
        spark: SparkSession,
        sink: ParquetSnapshotSink,
        work_dir: str,
        txid_col: str = "txid",
        parse_fn=None,
    ):
        self.spark = spark
        self.sink = sink
        self.txid_col = txid_col
        self.parse_fn = parse_fn
        self.state_dir = StateDir(
            work_dir, "txns.json",
            {"epoch": 0, "pending": None, "markers": None},
            {"pending": "pending-", "markers": "markers-"},
            spark.read.parquet,
        )

    # -- the apply ----------------------------------------------------

    def apply(self, events: DataFrame, markers: DataFrame | None = None) -> dict:
        """Ingest one micro-batch of row events (raw envelope rows
        carrying ``txid_col``) plus any transaction markers
        ``(txid, status)`` delivered alongside. Applies rows of
        committed transactions, drops aborted, durably holds open.
        Returns the sink apply result plus transaction telemetry
        (``applied_rows``, ``aborted_rows``, ``open_rows``,
        ``held_batch``)."""
        state = self.state_dir.read()
        epoch = int(state["epoch"])

        all_markers = self.state_dir.load(state, "markers")
        if markers is not None:
            m = markers.select(
                F.col("txid").cast("long").alias("txid"),
                F.col("status").cast("string").alias("status"),
            )
            all_markers = (
                m if all_markers is None else all_markers.unionByName(m)
            )
        if all_markers is not None:
            # a (txid, status) pair is final — commit and abort are
            # mutually exclusive upstream — so distinct() suffices
            all_markers = all_markers.distinct().localCheckpoint()

        union = events
        pending = self.state_dir.load(state, "pending")
        if pending is not None:
            # a redelivered row is byte-identical to the one held: keep
            # each held row once (multiset difference, NULL-safe)
            union = events.exceptAll(pending.select(*events.columns)).unionByName(
                pending
            )

        if all_markers is None:
            resolved = union.withColumn("_status", F.lit(None).cast("string"))
        else:
            mk = all_markers.withColumnRenamed(
                "txid", self.txid_col
            ).withColumnRenamed("status", "_status")
            resolved = union.join(mk, self.txid_col, "left")
        resolved = resolved.localCheckpoint()  # scanned 3× below

        committed = resolved.filter(F.col("_status") == MARKER_COMMIT).drop(
            "_status", self.txid_col
        )
        aborted_rows = resolved.filter(F.col("_status") == MARKER_ABORT).count()
        held = resolved.filter(F.col("_status").isNull()).drop("_status")

        result = {"skipped": True, "applied_rows": 0}
        n_commit = committed.count()
        if n_commit:
            result = apply_events_batch(
                committed,
                self.sink,
                f"txnb-{epoch}",
                parse_fn=self.parse_fn,
            )
            result["applied_rows"] = n_commit

        n_held = held.count()
        pending_name = None
        if n_held:
            pending_name = self.state_dir.stage("pending", held.write.parquet)
        markers_name = None
        if all_markers is not None:
            markers_name = self.state_dir.stage(
                "markers", all_markers.write.parquet
            )
        self.state_dir.publish(
            {"epoch": epoch + 1, "pending": pending_name, "markers": markers_name}
        )
        result.update(
            aborted_rows=aborted_rows,
            open_rows=n_held,
            held_batch=bool(n_held),
            epoch=epoch + 1,
        )
        return result

    def vacuum_markers(self, below_txid: int) -> dict:
        """Retention: drop resolved markers with ``txid < below_txid``
        once the source's redelivery horizon has passed them. A row of
        a vacuumed COMMITTED transaction redelivered after this point
        would be held as open — vacuum only below the horizon."""
        state = self.state_dir.read()
        markers = self.state_dir.load(state, "markers")
        if markers is None:
            return {"kept": 0, "dropped": 0}
        kept = markers.filter(F.col("txid") >= below_txid).localCheckpoint()
        n_kept = kept.count()
        dropped = markers.count() - n_kept
        epoch = int(state["epoch"])
        name = None
        if n_kept:
            name = self.state_dir.stage("markers", kept.write.parquet)
        self.state_dir.publish({**state, "epoch": epoch + 1, "markers": name})
        return {"kept": n_kept, "dropped": dropped}
