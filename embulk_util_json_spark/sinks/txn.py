"""Atomic multi-table transactions over independent snapshot sinks.

``route_tables`` (streaming/runner.py) demultiplexes a multi-table
change stream into per-table sinks with per-table exactly-once — but
each table COMMITS independently: a crash between table-applies
leaves readers seeing table A's half of a source transaction without
table B's. Real CDC streams carry transaction boundaries (Debezium's
transaction-metadata topic, MySQL binlog XID events), and downstream
consumers joining the demuxed tables need them respected.

This module adds the catalog-level commit the reference's host
pipeline delegates to its storage plugin (embulk transaction scope:
``ExecSession`` wraps a page-source/sink pair in one transaction —
``reference/src/main/java/org/embulk/util/json/JsonParser.java`` has
no storage side at all, so the semantics here are the engine-add
half, per SURVEY §2.4): a tiny ordered log of committed transaction
records, each mapping every participating table to the manifest
version its slice produced. Visibility becomes atomic without
touching the data path:

- ``txn_apply`` writes a PENDING INTENT (``jsonlog.replace_json``,
  so a crash mid-write leaves no torn intent), applies every table's
  slice (each sink's own batch-id log keeps the per-table apply
  exactly-once), then publishes ONE record to a
  ``jsonlog.NumberedLog`` — the same log and tmp+``os.link``
  atomic-publish step the sink manifests use — and clears the
  intent. Until that link lands, NO table's new version is visible
  through the transaction view — a crash mid-transaction leaves the
  previous consistent snapshot readable.
- The intent makes interleavings safe: because sink chains are
  CUMULATIVE, a later transaction committing table A would otherwise
  pin a version that already contains a crashed transaction's A-half
  (torn against its missing B-half). ``txn_apply`` therefore REFUSES
  to start while a different transaction's intent overlaps its
  tables — the crashed transaction must be replayed first (which
  converges: landed applies skip via sink batch ids, missing ones
  run, the record commits once — the standard redo protocol).
- Committed records pin each table to the version its OWN apply
  produced (the apply metrics carry it), not whatever
  ``current_version()`` happens to be at commit time.
- ``consistent_read`` pins every table to the versions of a committed
  record (sink time travel over immutable manifests), so a
  cross-table join never observes a torn transaction even while a new
  one is mid-apply.

Scale shape: the log is one small JSON per transaction (micro-batch
cadence, not row cadence) and the reads are the sinks' normal pruned
time-travel reads — zero data-path overhead. The cumulative
``txn_ids`` list in the head record mirrors the sink manifests'
``batch_ids`` dedup ledger (same growth rate, same accepted bound:
one entry per micro-batch). Single coordinator assumed (like the
sink's single-writer runners); the intent guard and optimistic record
link turn a misconfigured second coordinator into a loud error, never
a silent tear.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

from .jsonlog import ConcurrentCommitError, NumberedLog, read_json_dir, replace_json
from .snapshot import ParquetSnapshotSink


class PendingTransactionError(RuntimeError):
    """A different transaction's intent overlaps these tables: replay
    that transaction first (idempotent), then retry this one."""


class TransactionLog:
    """Ordered log of committed multi-table transaction records under
    ``root/_txns`` (sibling of the participating sinks, typically)."""

    def __init__(self, root: str) -> None:
        self._log = NumberedLog(
            os.path.join(root, "_txns"),
            "t",
            "txn seq {n} was committed by another coordinator; re-read "
            "the log and retry",
        )
        self._pending_dir = os.path.join(self._log.dir, "pending")
        os.makedirs(self._pending_dir, exist_ok=True)

    def current_seq(self) -> int:
        return self._log.latest()

    def record_at(self, seq: int) -> dict | None:
        if seq > 0 and seq > (cur := self._log.latest()):
            raise ValueError(f"no committed txn record {seq} (log is at {cur})")
        return self._log.read(seq)

    def head(self) -> dict | None:
        return self._log.read(self._log.latest())

    # ---- pending intents ---------------------------------------------

    def _intent_path(self, txn_id: str) -> str:
        # hex-encode: txn ids are caller strings, not filename-safe
        return os.path.join(self._pending_dir, txn_id.encode().hex() + ".json")

    def pending_intents(self) -> dict[str, list[str]]:
        """txn_id → tables, for every crashed/in-flight transaction."""
        return {
            rec["txn_id"]: rec["tables"]
            for rec in read_json_dir(self._pending_dir).values()
        }

    # ---- transactions ------------------------------------------------

    def txn_apply(
        self,
        sinks: dict[str, ParquetSnapshotSink],
        slices: dict[str, DataFrame],
        txn_id: str,
        max_retries: int = 3,
    ) -> dict:
        """Apply one multi-table transaction: every table's slice
        lands (per-table exactly-once via the sinks' batch-id logs),
        then ONE atomic record makes all of them visible together.

        Idempotent on ``txn_id``: a committed transaction is a skip.
        A crash after some table-applies but before the record commit
        leaves the transaction INVISIBLE (``consistent_read`` still
        serves the previous record) and its intent in place; re-running
        it completes the remaining applies (landed ones skip) and
        commits — the redo protocol, convergent in any interleaving.
        A DIFFERENT transaction overlapping a pending intent's tables
        raises :class:`PendingTransactionError` instead of committing a
        cumulative version that would expose the crashed transaction's
        half (sink chains are cumulative — see module docstring)."""
        unknown = [t for t in slices if t not in sinks]
        if unknown:
            raise ValueError(f"slices for unregistered tables: {unknown}")
        head = self.head()
        if head and txn_id in head.get("txn_ids", []):
            return {"txn_id": txn_id, "skipped": True, "reason": "already-committed"}
        for other_id, tables in self.pending_intents().items():
            if other_id != txn_id and set(tables) & set(slices):
                raise PendingTransactionError(
                    f"txn {other_id!r} is pending on tables "
                    f"{sorted(set(tables) & set(slices))}; replay it "
                    f"(txn_apply with its slices) before {txn_id!r}"
                )
        intent = self._intent_path(txn_id)
        replace_json(intent, {"txn_id": txn_id, "tables": sorted(slices)})
        results = {
            name: sinks[name].apply(sl, f"{txn_id}:{name}")
            for name, sl in slices.items()
        }
        versions = {
            name: r["version"]
            if "version" in r
            else self._version_of_batch(sinks[name], f"{txn_id}:{name}")
            for name, r in results.items()
        }
        for _ in range(max_retries + 1):
            head = self.head()
            if head and txn_id in head.get("txn_ids", []):
                os.unlink(intent)
                return {"txn_id": txn_id, "skipped": True, "reason": "already-committed"}
            all_versions = dict(head["tables"]) if head else {}
            all_versions.update(versions)
            record = {
                "seq": (head["seq"] if head else 0) + 1,
                "txn_id": txn_id,
                "tables": all_versions,
                "txn_ids": (head.get("txn_ids", []) if head else []) + [txn_id],
            }
            try:
                self._log.publish(record["seq"], record)
                os.unlink(intent)
                return {"txn_id": txn_id, "tables": results, "seq": record["seq"]}
            except ConcurrentCommitError:
                continue
        raise ConcurrentCommitError(
            f"txn {txn_id!r}: lost the commit race {max_retries + 1} times"
        )

    @staticmethod
    def _version_of_batch(sink: ParquetSnapshotSink, batch_id: str) -> int:
        """Earliest manifest version whose batch log contains
        ``batch_id`` — the version a SKIPPED apply (replay of a
        crashed transaction) originally landed at. Metadata-only walk
        of the (micro-batch-cadence) manifest log."""
        for v in range(1, sink.current_version() + 1):
            m = sink.manifest_at(v)
            if m and batch_id in m.get("batch_ids", []):
                return v
        raise ValueError(
            f"batch {batch_id!r} not found in any committed manifest"
        )

    def committed_versions(self) -> dict[str, int]:
        """Per-table manifest versions of the last committed
        transaction — the consistent cross-table snapshot."""
        head = self.head()
        return dict(head["tables"]) if head else {}

    def consistent_read(
        self, sinks: dict[str, ParquetSnapshotSink], at_seq: int | None = None
    ) -> dict[str, DataFrame]:
        """Every registered table AS OF one committed transaction
        (the head by default; ``at_seq=0`` = before any transaction):
        tables the snapshot hasn't seen read empty — typed from a
        stored footer when the table has data files (exact), else from
        the sink's configured schema — never the possibly-torn current
        state. ``at_seq`` beyond the log raises."""
        record = self.record_at(at_seq) if at_seq is not None else self.head()
        versions = dict(record["tables"]) if record else {}
        out = {}
        for name, sink in sinks.items():
            v = int(versions.get(name, 0))
            if v > 0:
                out[name] = sink.read(at_version=v)
                continue
            # unseen table: when the sink already holds data (e.g.
            # uncommitted-to-txn applies), read().limit(0) yields an
            # empty frame with the EXACT output schema/types a later
            # union/join needs (Catalyst's OptimizeLimitZero folds it
            # to an empty relation — no scan); a never-written sink
            # falls back to its configured-schema derivation.
            m = sink.current_manifest()
            if m and m["buckets"]:
                out[name] = sink.read().limit(0)
            else:
                out[name] = sink._empty_state_frame()
        return out
