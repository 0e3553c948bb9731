"""Downstream mirror maintenance (``streaming.mirror.sync_mirror``):
incremental sink-to-sink sync off the net-change feed, exactly-once
with no sidecar state (the mirror's batch-id log IS the high-water
mark), correct under lagged cadence, replays, patch mode, and
mid-stream patch-column evolution."""

from __future__ import annotations

from pyspark.sql import functions as F

from embulk_util_json_spark.sinks.snapshot import ParquetSnapshotSink
from embulk_util_json_spark.streaming.mirror import (
    last_synced_version,
    sync_mirror,
)
from tests.scratch import scratch

KEYS = ["conv_id", "turn_idx"]
ORDER = ["ts", "seq"]
M = "__unchanged__"
_SCHEMA = (
    "conv_id string, turn_idx int, ts long, seq long, "
    "op string, role string, text string, tool string"
)


def _stream(n=180, n_convs=5, n_turns=4, seed=23):
    rows = []
    for seq in range(1, n + 1):
        k = (seq * 7919 + seed) % (n_convs * n_turns)
        conv, turn = f"c{k % n_convs}", k // n_convs
        ts = seq // 3
        r = (seq * 31 + seed) % 10
        if r == 0:
            rows.append((conv, turn, ts, seq, "delete", None, None, None))
        else:
            rows.append(
                (conv, turn, ts, seq, "insert" if r < 3 else "update",
                 f"r{seq % 3}", f"text {seq}", f"tool{seq % 4}")
            )
    return rows


def _sink(spark, **kw):
    kw.setdefault("mode", "mor")
    return ParquetSnapshotSink(
        spark, scratch("mirror_"), num_buckets=4, keys=KEYS, order_cols=ORDER, **kw
    )


def _state(sink):
    return {
        tuple(r) for r in sink.read().select(
            "conv_id", "turn_idx", "role", "text", "tool"
        ).collect()
    }


def test_mirror_tracks_source_lagged_and_idempotent(spark):
    rows = _stream()
    src, dst = _sink(spark), _sink(spark)
    bs = [rows[i::3] for i in range(3)]

    src.apply(spark.createDataFrame(bs[0], _SCHEMA), "b0")
    r1 = sync_mirror(src, dst)
    assert not r1["skipped"] and r1["from_version"] == 0
    assert _state(dst) == _state(src)

    # lagged cadence: two applies, ONE sync window covers both
    src.apply(spark.createDataFrame(bs[1], _SCHEMA), "b1")
    src.apply(spark.createDataFrame(bs[2], _SCHEMA), "b2")
    r2 = sync_mirror(src, dst)
    assert r2["from_version"] == r1["to_version"]
    assert _state(dst) == _state(src)

    # idempotent: nothing new → up-to-date skip, state unchanged
    r3 = sync_mirror(src, dst)
    assert r3.get("reason") == "up-to-date"
    assert last_synced_version(dst) == src.current_version()

    # crash-replay shape: a re-applied window is a batch-log skip
    feed = src.read_changes(r2["from_version"], r2["to_version"])
    res = dst.apply(feed, f"mirror@{r2['from_version']}-{r2['to_version']}")
    assert res.get("skipped")
    assert _state(dst) == _state(src)


def test_mirror_patch_mode_with_midstream_evolution(spark):
    """Patch-mode source that EVOLVES mid-stream: the sync adopts the
    new patch config onto the mirror (metadata-only) before applying
    the post-evolution feed — final states bit-equal."""
    rows = _stream(n=150)
    early = [r[:7] for r in rows[:75]]  # no tool column yet
    late = rows[75:]
    early_schema = _SCHEMA.rsplit(",", 1)[0]
    src = _sink(spark, patch_cols=["role", "text"], unchanged_marker=M)
    dst = _sink(spark, patch_cols=["role", "text"], unchanged_marker=M)

    src.apply(spark.createDataFrame(early, early_schema), "e0")
    sync_mirror(src, dst)
    src.evolve_patch_cols({"tool": "string"})
    src.apply(spark.createDataFrame(late, _SCHEMA), "l0")
    r = sync_mirror(src, dst)
    assert not r["skipped"]
    assert dst.patch_cols == ["role", "text", "tool"]
    assert _state(dst) == _state(src)


def test_mirror_metadata_only_window_advances_mark(spark):
    """A window containing only a config evolution (no data files)
    still commits its batch id so the high-water mark advances."""
    rows = _stream(n=60)
    src = _sink(spark, patch_cols=["role", "text", "tool"], unchanged_marker=M)
    dst = _sink(spark, patch_cols=["role", "text", "tool"], unchanged_marker=M)
    src.apply(spark.createDataFrame(rows, _SCHEMA), "b0")
    sync_mirror(src, dst)
    src.evolve_patch_cols({"extra_col": "string"})  # metadata-only
    r = sync_mirror(src, dst)
    assert r["to_version"] == src.current_version()
    assert last_synced_version(dst) == src.current_version()
    assert sync_mirror(src, dst).get("reason") == "up-to-date"
    # mirror adopted the evolved config too
    assert "extra_col" in (dst.patch_cols or [])
    assert _state(dst) == _state(src)


def test_mirror_sync_fails_loudly_after_overzealous_vacuum(spark):
    """Vacuum past the mirror's high-water mark: the next sync must
    FAIL (missing files), never silently skip the window — silent
    gaps would desynchronize the mirror forever."""
    import pytest

    rows = _stream(n=90)
    src, dst = _sink(spark, mode="mow"), _sink(spark, mode="mow")
    bs = [rows[i::3] for i in range(3)]
    src.apply(spark.createDataFrame(bs[0], _SCHEMA), "b0")
    sync_mirror(src, dst)
    src.apply(spark.createDataFrame(bs[1], _SCHEMA), "b1")
    src.apply(spark.createDataFrame(bs[2], _SCHEMA), "b2")
    # MOW rewrites affected buckets each apply; vacuum to only the
    # newest version removes files the mirror's FROM manifest needs
    src.vacuum(keep_versions=1)
    with pytest.raises(Exception):
        sync_mirror(src, dst)


def test_selective_mirror_key_filter(spark):
    """Tenant-split replica: a key predicate on the feed must produce
    exactly the filtered source state — per-key all-or-nothing makes
    filtering the incremental feed ≡ filtering the full history."""
    rows = _stream(n=150)
    src, dst = _sink(spark), _sink(spark)
    bs = [rows[i::3] for i in range(3)]
    pred = F.col("conv_id").isin("c0", "c2")
    for i, b in enumerate(bs):
        src.apply(spark.createDataFrame(b, _SCHEMA), f"b{i}")
        sync_mirror(src, dst, key_filter=pred)
    want = {t for t in _state(src) if t[0] in ("c0", "c2")}
    assert _state(dst) == want
    # replay safety: re-sync is a skip, filtered state unchanged
    assert sync_mirror(src, dst, key_filter=pred).get("reason") == "up-to-date"
    assert _state(dst) == want


def test_mirror_sync_with_stale_source_handle(spark):
    """The sync must read the SOURCE's patch config from the manifest
    being synced, not the in-memory handle: a mirror job holding a
    handle built before another writer evolved the table would
    otherwise merge evolved columns row-level on the mirror —
    silently."""
    rows = _stream(n=120)
    early = [r[:7] for r in rows[:60]]
    late = rows[60:]
    early_schema = _SCHEMA.rsplit(",", 1)[0]
    src = _sink(spark, patch_cols=["role", "text"], unchanged_marker=M)
    stale_src = ParquetSnapshotSink(
        spark, src.root, keys=KEYS, order_cols=ORDER, mode="mor"
    )
    dst = _sink(spark, patch_cols=["role", "text"], unchanged_marker=M)
    src.apply(spark.createDataFrame(early, early_schema), "e0")
    sync_mirror(stale_src, dst)
    # evolution happens through ANOTHER handle
    src.evolve_patch_cols({"tool": "string"})
    src.apply(spark.createDataFrame(late, _SCHEMA), "l0")
    r = sync_mirror(stale_src, dst)  # stale handle drives the sync
    assert not r["skipped"]
    assert dst.patch_cols == ["role", "text", "tool"]
    assert _state(dst) == _state(src)


def test_mirror_custom_keys_metadata_only_window(spark):
    """Metadata-only windows must type-check for ANY key layout: the
    empty feed carries the table's own stored schema, not a
    hardcoded default-table sentinel."""
    schema = "user_id string, ts long, seq long, op string, score string"
    def sink():
        return ParquetSnapshotSink(
            spark, scratch("mirror_"), num_buckets=2, mode="mor",
            keys=["user_id"], order_cols=ORDER,
            patch_cols=["score"], unchanged_marker=M,
        )
    src, dst = sink(), sink()
    src.apply(spark.createDataFrame(
        [("u1", 1, 1, "insert", "9")], schema), "b0")
    sync_mirror(src, dst)
    src.evolve_patch_cols({"extra": "string"})  # metadata-only window
    r = sync_mirror(src, dst)
    assert not r.get("skipped") or r.get("reason") != "empty-source"
    assert last_synced_version(dst) == src.current_version()


def test_mirror_empty_source_does_not_advance(spark):
    """Config-only commits on a table that has never stored data:
    nothing to sync and nothing to type an apply with — the sync
    skips WITHOUT advancing, and resumes cleanly once data exists."""
    src = _sink(spark, patch_cols=["role", "text"], unchanged_marker=M)
    dst = _sink(spark, patch_cols=["role", "text"], unchanged_marker=M)
    src.evolve_patch_cols({"tool": "string"})  # version 1, no data
    r = sync_mirror(src, dst)
    assert r.get("reason") == "empty-source"
    assert last_synced_version(dst) == 0
    rows = _stream(n=30)
    src.apply(spark.createDataFrame(rows, _SCHEMA), "b0")
    sync_mirror(src, dst)
    assert _state(dst) == _state(src)


def test_mirror_chain_replication(spark):
    """Fan-out topology A → B → C: a mirror is a normal sink, so its
    own change feed drives a second-hop mirror; after lagged syncs at
    both hops the leaf equals the source."""
    rows = _stream(n=120)
    a, b, c = _sink(spark), _sink(spark), _sink(spark)
    bs = [rows[i::3] for i in range(3)]
    for i, batch in enumerate(bs):
        a.apply(spark.createDataFrame(batch, _SCHEMA), f"b{i}")
        sync_mirror(a, b)
        if i == 2:  # leaf syncs lag: one window covers all B versions
            sync_mirror(b, c)
    assert _state(c) == _state(b) == _state(a)
    assert sync_mirror(b, c).get("reason") == "up-to-date"
