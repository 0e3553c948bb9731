"""Downstream mirror maintenance — incremental sink-to-sink sync.

A CDC engine's output table is itself a CDC source: replicas for
read scaling, a DR copy in another region, a redacted tenant export.
``sync_mirror`` pulls the source's net-change feed since the last
synced version (``read_changes`` — O(changes), not O(table)) and
applies it to the mirror through the normal exactly-once ``apply``.

Crash-safety needs NO external state: the sync batch id encodes the
(from, to) version window, and the mirror's own committed batch-id
log is the high-water mark — ``last_synced_version`` recomputes it
from the log, so a crash anywhere re-runs into either a skip (apply
already committed) or a clean retry (nothing committed). This is the
same idempotence argument as the streaming runner's foreachBatch
replay, reused across tables. The window protocol is
``sinks.feed.fold_window``, shared with the index and the views;
this module supplies only the feed to apply.

Patch-mode tables mirror exactly because feed rows are valid stamped
levels (``_read_changes_patch``); the mirror must merge them under
the same patch config, so ``sync_mirror`` adopts the source's config
onto the mirror — including mid-stream ``evolve_patch_cols`` — before
applying (additive evolution on the mirror is metadata-only, so this
costs nothing).

Scale: each sync moves only net-changed keys for the window, applied
through the mirror's normal bucketed merge. Lag is bounded by sync
cadence; a 10^10-event/day source syncing every few minutes ships
batches the same size the source's own micro-batches were.

Retention interplay: ``read_changes(from, to)`` opens the FROM
version's manifest, so the source's ``vacuum`` must keep versions
back to ``last_synced_version(dst)`` — vacuum past the mirror's
high-water mark and the next sync fails loudly (files missing), never
silently skips.

Compliance interplay: a physical ``purge`` on the source is NOT a
change event (a purged key simply stops existing — by design there is
no tombstone to ship), so purges do not propagate through the feed.
Right-to-be-forgotten must be executed against every mirror directly
(``dst.purge(...)``) — the same contract Iceberg CDC and replicated
lakes have.
"""

from __future__ import annotations

from ..sinks.feed import fold_window, window_mark
from ..sinks.snapshot import ParquetSnapshotSink

MIRROR_PREFIX = "mirror@"


def last_synced_version(dst: ParquetSnapshotSink) -> int:
    """Source version the mirror is synced to."""
    return window_mark(dst, MIRROR_PREFIX)


def sync_mirror(
    src: ParquetSnapshotSink,
    dst: ParquetSnapshotSink,
    key_filter=None,
) -> dict:
    """One incremental sync: mirror ← net changes since the last sync.

    Call on any cadence (cron, after each upstream apply, or from a
    streaming foreachBatch); every call is idempotent and crash-safe.
    Returns the synced window and the apply metrics (or a skip when
    the mirror is already current).

    ``key_filter`` — optional Column predicate over KEY columns for a
    SELECTIVE replica (tenant split, regional fan-out, public subset).
    Exactness argument: LWW reduces per key and every change row of a
    key satisfies the same key predicate, so filtering the feed is
    identical to filtering the full history — but ONLY for predicates
    that are a pure function of the key columns. A payload predicate
    (e.g. ``role = 'user'``) is NOT replication-safe: a key whose
    winning row drifts out of the predicate would simply stop
    updating on the mirror instead of reverting — the classic
    filtered-replication pitfall. This is the same restriction
    Postgres logical-replication row filters place on UPDATE-mode
    publications; it is the caller's contract here (predicates are
    arbitrary Columns and cannot be statically checked)."""

    def build(from_v: int, to_v: int):
        # Refresh the SOURCE handle's patch config from the synced
        # manifest (a long-lived handle may predate another writer's
        # evolve_patch_cols), then adopt it onto the MIRROR: merging a
        # stamped feed row-level, or under a stale column set, would
        # corrupt column-level carry-forward.
        src._adopt(src.manifest_at(to_v) or {})
        src_patch = list(src.patch_cols or [])
        dst_patch = list(dst.patch_cols or [])
        missing = [c for c in src_patch if c not in dst_patch]
        if missing:
            unknown = [c for c in missing if c not in src.patch_types]
            if unknown:
                raise ValueError(
                    f"source patch columns {unknown} have no recorded type; "
                    "cannot evolve the mirror"
                )
            dst.evolve_patch_cols(
                {c: src.patch_types[c] for c in missing},
                unchanged_marker=src.unchanged_marker,
            )
        feed = src.read_changes(from_v, to_v)
        return feed if key_filter is None else feed.filter(key_filter)

    return fold_window(dst, MIRROR_PREFIX, [src], build)
