"""Secondary index maintenance — non-key lookups without a table scan.

The snapshot sink answers key lookups in O(chain) (``read(key_eq=)``,
bucket-pruned), but a predicate on a PAYLOAD column still scans every
bucket: at 10^10 rows, "all rows where ``tool = 'browser'``" is a full
table scan per question. :class:`SecondaryIndex` maintains an inverted
index — (indexed value, base key) entries stored in a second
``ParquetSnapshotSink`` bucketed BY the value — incrementally off the
base table's preimage/postimage change feed
(``read_changes(include_preimage=True)``), the same Hudi
record-level-index / DynamoDB-GSI shape:

- a postimage (the key's new winning row) upserts the entry
  ``(new value, key)``;
- a preimage (the key's old winning row, emitted only for keys that
  changed) deletes the entry ``(old value, key)`` — so a value MOVE
  retires the old posting and a base-row delete retires its posting
  (the tombstone postimage carries no upsert);
- an update that does NOT move the value emits delete+upsert at the
  SAME entry key in the same window: the index orders entries by
  ``(src_version, pref)`` with upsert ``pref=1`` > delete ``pref=0``,
  so the live posting survives the tie deterministically;
- NULL values are not indexed (SQL-standard index semantics: an
  ``IS NULL`` probe is not an equality lookup).

Exactly-once with no sidecar state: a refresh is one
``sinks.feed.fold_window`` step, so the batch id encodes the (from,
to) version window and the index sink's committed batch log is the
high-water mark (``last_indexed_version``). A crash replays into a
batch-log skip or a clean retry; redelivery is a no-op; a
metadata-only window commits its empty batch and advances the mark.

``lookup(value)`` opens ONE index bucket chain (``key_eq`` pins
``bucket_by = value``), semi-joins the posting keys against a
``probe_keys``-pruned base read, and by default re-verifies the
predicate on the base row: with a fully-refreshed index the verify is
a no-op; under index LAG it removes false positives (a key whose value
moved after the last refresh) — false NEGATIVES (rows inserted after
the last refresh) are inherent to any async index and bounded by
refresh cadence.

Scale shape: refresh cost is O(changed keys) — two projections of the
feed and one bucketed apply; lookup cost is O(posting chain) +
O(probed base buckets). Nothing is proportional to table size.
Row-level tables only (the preimage feed rejects patch mode — stamped
column levels have no single retractable old row).

``include_cols`` makes it a COVERING index (SQL Server INCLUDE /
Postgres covering-index semantics): postings additionally carry the
named base payload columns, captured from the postimage row at
refresh, so ``lookup(..., covering=True)`` serves entirely from ONE
index bucket chain — zero base-table I/O. Covered values are exact as
of the last refresh (the same staleness contract as the posting list
itself).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .feed import fold_window, window_mark
from .snapshot import ParquetSnapshotSink

IDX_VAL = "_iv"
INDEX_PREFIX = "ix@"


def last_indexed_version(index_sink: ParquetSnapshotSink) -> int:
    """Source version the index reflects."""
    return window_mark(index_sink, INDEX_PREFIX)


class SecondaryIndex:
    def __init__(
        self,
        spark: SparkSession,
        root: str,
        source: ParquetSnapshotSink,
        column: str,
        num_buckets: int | None = None,
        include_cols: list[str] | None = None,
    ) -> None:
        if source.patch_cols:
            raise ValueError(
                "SecondaryIndex requires a row-level source table: the "
                "preimage change feed is undefined for patch-mode sinks"
            )
        if column in source.keys:
            raise ValueError(
                f"{column!r} is a key column — use read(key_eq=...) "
                "directly; a secondary index on a key is redundant"
            )
        bad = set(include_cols or []) & {column, IDX_VAL, *source.keys}
        if bad:
            raise ValueError(
                f"include_cols {sorted(bad)} are already part of the "
                "index entry (keys and the indexed column are always "
                "carried)"
            )
        self.spark = spark
        self.source = source
        self.column = column
        self.include_cols = list(include_cols or [])
        self.index = ParquetSnapshotSink(
            spark,
            root,
            num_buckets=num_buckets or source.num_buckets,
            keys=[IDX_VAL, *source.keys],
            order_cols=["src_version", "pref"],
            bucket_by=IDX_VAL,
            mode="mor",
        )

    # -- maintenance ----------------------------------------------------

    def refresh(self) -> dict:
        """Fold base-table versions committed since the last refresh
        into the index. Idempotent and crash-safe via the index sink's
        batch log; O(changed keys) per call."""
        return fold_window(self.index, INDEX_PREFIX, [self.source], self._entries)

    def _entries(self, from_v: int, to_v: int) -> DataFrame:
        """The window's index entries: an upsert per live postimage
        and a delete per preimage."""
        feed = self.source.read_changes(from_v, to_v, include_preimage=True)
        val = F.col(self.column)

        def _project(rows: DataFrame, pref: int, op: str, covered: bool) -> DataFrame:
            cover = (
                [F.col(c) for c in self.include_cols if c in rows.columns]
                if covered
                else []
            )
            return rows.filter(val.isNotNull()).select(
                val.alias(IDX_VAL),
                *self.source.keys,
                F.lit(to_v).cast("long").alias("src_version"),
                F.lit(pref).cast("int").alias("pref"),
                F.lit(op).alias("op"),
                *cover,
            )

        post = _project(
            feed.filter(
                (F.col("_change") == "postimage") & (F.col("op") != "delete")
            ),
            pref=1,
            op="update",
            covered=True,
        )
        # every preimage retires its posting — including the stale
        # posting of a key whose postimage is a tombstone. A preimage
        # whose old winner was ITSELF a tombstone posts a no-op delete
        # (nothing was live), harmless by the pref tie rule. Delete
        # entries carry no covered payload (the LWW winner is always
        # the pref=1 upsert when the posting survives).
        pre = _project(
            feed.filter(F.col("_change") == "preimage"),
            pref=0, op="delete", covered=False,
        )
        return post.unionByName(pre, allowMissingColumns=True)

    # -- query ----------------------------------------------------------

    def postings(self, value) -> DataFrame:
        """Live index entries for ``value`` — the base-key tuples whose
        indexed column equalled ``value`` as of the last refresh. One
        bucket chain opened (``key_eq`` pins ``bucket_by``)."""
        return self.index.read(key_eq={IDX_VAL: value}).select(*self.source.keys)

    def lookup(
        self,
        value,
        verify: bool = True,
        columns: list[str] | None = None,
        covering: bool = False,
    ) -> DataFrame:
        """Base-table rows where ``column = value``, served through the
        index: O(posting chain) + O(probed base buckets), never a base
        scan. ``verify`` re-checks the predicate on the fetched rows
        (drops lag-induced false positives; exact no-op when the index
        is current).

        ``covering=True`` serves from the index ALONE — keys, the
        indexed column, and the configured ``include_cols`` — with
        zero base-table I/O (one posting chain opened). Values are as
        of the last refresh; ``columns`` must be covered."""
        if covering:
            missing = [
                c
                for c in (columns or self.include_cols)
                if c not in self.include_cols
            ]
            if missing:
                raise ValueError(
                    f"columns {missing} are not covered — configure "
                    "include_cols or use a base lookup"
                )
            out = [c for c in (columns or self.include_cols)]
            return self.index.read(key_eq={IDX_VAL: value}).select(
                *self.source.keys,
                F.col(IDX_VAL).alias(self.column),
                *out,
            )
        keys = self.postings(value)
        base = self.source.read(probe_keys=keys, columns=columns)
        # probe_keys prunes+semi-joins on bucket_by alone; narrow to
        # the exact posting key set (metadata-sized broadcast).
        out = base.join(F.broadcast(keys), self.source.keys, "left_semi")
        if verify and (columns is None or self.column in columns):
            out = out.filter(F.col(self.column) == F.lit(value))
        return out
