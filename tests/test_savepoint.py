"""Portable savepoints (sinks/savepoint.py) and rollback-to-version
(sinks/snapshot.py rollback): a savepoint is a standalone copy of one
committed version that survives losing the source (a shallow
clone's too), carries the batch-id log (exactly-once resume), the
full layout (self-describing import, including patch mode and
non-default keys) and the source's version number (a mirror resumes
from it), and is committed by its ``savepoint.json`` alone;
rollback restores a prior version metadata-only, reverts batch_ids so
a corrected redelivery applies, keeps history linear for time travel,
and the change feed refuses cursors inside the rolled-back range."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from embulk_util_json_spark.sinks.savepoint import (
    export_savepoint,
    import_savepoint,
)
from embulk_util_json_spark.sinks.snapshot import ParquetSnapshotSink
from embulk_util_json_spark.streaming.mirror import last_synced_version, sync_mirror
from embulk_util_json_spark.streaming.runner import apply_events_batch


def _ev(seq, op, conv, turn, sec, text=None):
    return (
        seq,
        f'{{"op":"{op}","ts":"2026-01-01 00:00:{sec:02d}.000000",'
        f'"data":{{"conv_id":"{conv}","turn_idx":{turn},"role":"r",'
        f'"text":"{text or f"t{seq}"}","tool":"x"}}}}',
    )


def _mk(spark, rows):
    return spark.createDataFrame(rows, "seq long, event_json string")


def _state(sink):
    return sorted(
        (r.conv_id, r.turn_idx, r.text) for r in sink.read().collect()
    )


def test_savepoint_standalone_resume(spark, tmp_path):
    src_root = str(tmp_path / "src")
    sp_root = str(tmp_path / "sp")
    src = ParquetSnapshotSink(spark, src_root, num_buckets=2, mode="mor")
    apply_events_batch(_mk(spark, [_ev(0, "insert", "a", 1, 1)]), src, "b0")
    apply_events_batch(_mk(spark, [_ev(1, "insert", "b", 1, 2)]), src, "b1")
    want = _state(src)
    meta = export_savepoint(src, sp_root)
    assert meta["n_files"] > 0 and meta["source_version"] == 2
    shutil.rmtree(src_root)  # the export must not depend on the source
    dst = import_savepoint(spark, sp_root)
    assert _state(dst) == want
    # exactly-once across the boundary: pre-savepoint batch skips,
    # new batch applies
    assert apply_events_batch(
        _mk(spark, [_ev(1, "insert", "b", 1, 2)]), dst, "b1"
    ).get("skipped")
    apply_events_batch(_mk(spark, [_ev(2, "update", "a", 1, 3)]), dst, "b2")
    assert _state(dst) == [("a", 1, "t2"), ("b", 1, "t1")]


def test_savepoint_of_past_version_and_nonempty_dest(spark, tmp_path):
    src = ParquetSnapshotSink(spark, str(tmp_path / "s"), num_buckets=2, mode="mor")
    apply_events_batch(_mk(spark, [_ev(0, "insert", "a", 1, 1)]), src, "b0")
    v1_state = _state(src)
    apply_events_batch(_mk(spark, [_ev(1, "update", "a", 1, 2)]), src, "b1")
    sp = str(tmp_path / "sp_v1")
    export_savepoint(src, sp, version=1)
    dst = import_savepoint(spark, sp)
    assert _state(dst) == v1_state
    assert dst.applied_batch_ids() == ["b0"]  # b1 is after the savepoint
    with pytest.raises(ValueError, match="not empty"):
        export_savepoint(src, sp)
    with pytest.raises(ValueError, match="no commits"):
        export_savepoint(
            ParquetSnapshotSink(spark, str(tmp_path / "empty")), str(tmp_path / "e")
        )


def test_savepoint_preserves_nondefault_layout(spark, tmp_path):
    """Import reconstructs non-default keys/order/bucketing and patch
    config with no caller knowledge (the self-describing contract)."""
    src = ParquetSnapshotSink(
        spark,
        str(tmp_path / "s"),
        num_buckets=3,
        keys=["conv_id"],
        order_cols=["ts", "seq"],
        mode="mow",
        patch_cols=["role", "text", "tool"],
    )
    b1 = spark.createDataFrame(
        [("a", "r1", None, None, "2026-01-01 00:00:01", 1, "update")],
        "conv_id string, role string, text string, tool string, "
        "ts string, seq long, op string",
    ).withColumn("ts", F.to_timestamp("ts"))
    b2 = spark.createDataFrame(
        [("a", None, "hello", None, "2026-01-01 00:00:02", 2, "update")],
        "conv_id string, role string, text string, tool string, "
        "ts string, seq long, op string",
    ).withColumn("ts", F.to_timestamp("ts"))
    src.apply(b1, "b1")
    export_savepoint(src, str(tmp_path / "sp"))
    dst = import_savepoint(spark, str(tmp_path / "sp"))
    assert (dst.keys, dst.order_cols, dst.mode, dst.num_buckets) == (
        ["conv_id"], ["ts", "seq"], "mow", 3,
    )
    assert dst.patch_cols == ["role", "text", "tool"]
    dst.apply(b2, "b2")  # patch merge must carry column-level history
    row = dst.read().collect()[0]
    assert (row.role, row.text) == ("r1", "hello")


def test_import_rejects_non_savepoint(spark, tmp_path):
    sink = ParquetSnapshotSink(spark, str(tmp_path / "t"), num_buckets=2)
    apply_events_batch(_mk(spark, [_ev(0, "insert", "a", 1, 1)]), sink, "b0")
    with pytest.raises(ValueError, match="not a savepoint"):
        import_savepoint(spark, str(tmp_path / "t"))


def test_rollback_restores_and_reverts_batch_ids(spark, tmp_path):
    sink = ParquetSnapshotSink(spark, str(tmp_path / "t"), num_buckets=2, mode="mor")
    apply_events_batch(_mk(spark, [_ev(0, "insert", "a", 1, 1)]), sink, "b0")
    v_good = sink.current_version()
    good = _state(sink)
    apply_events_batch(
        _mk(spark, [_ev(1, "update", "a", 1, 2, text="BAD")]), sink, "b1"
    )
    assert _state(sink) == [("a", 1, "BAD")]
    res = sink.rollback(v_good)
    assert res["restored_version"] == v_good
    assert _state(sink) == good
    # linear history: the bad version still time-travels
    assert sink.manifest_at(v_good + 1) is not None
    # batch_ids reverted -> the corrected redelivery of b1 applies
    assert sink.applied_batch_ids() == ["b0"]
    apply_events_batch(
        _mk(spark, [_ev(1, "update", "a", 1, 2, text="fixed")]), sink, "b1"
    )
    assert _state(sink) == [("a", 1, "fixed")]


def test_rollback_change_feed_windows(spark, tmp_path):
    sink = ParquetSnapshotSink(spark, str(tmp_path / "t"), num_buckets=2, mode="mor")
    apply_events_batch(_mk(spark, [_ev(0, "insert", "a", 1, 1)]), sink, "b0")
    v_good = sink.current_version()
    apply_events_batch(
        _mk(spark, [_ev(1, "update", "a", 1, 2, text="BAD")]), sink, "b1"
    )
    v_bad = sink.current_version()
    sink.rollback(v_good)
    apply_events_batch(_mk(spark, [_ev(2, "insert", "b", 1, 3)]), sink, "b2")
    # cursor at/before the restore point: exact net feed (the detour
    # nets out -- only the post-rollback insert shows)
    feed = sink.read_changes(v_good)
    assert sorted((r.conv_id, r.text) for r in feed.collect()) == [("b", "t2")]
    # cursor inside the rolled-back range: refused
    with pytest.raises(ValueError, match="rolled-back"):
        sink.read_changes(v_bad).collect()
    # full-state feed is always fine
    assert sink.read_changes(0).count() == 2


def test_rollback_validates_version(spark, tmp_path):
    sink = ParquetSnapshotSink(spark, str(tmp_path / "t"), num_buckets=2, mode="mor")
    apply_events_batch(_mk(spark, [_ev(0, "insert", "a", 1, 1)]), sink, "b0")
    for bad in (0, 5):
        with pytest.raises(ValueError, match="no committed version"):
            sink.rollback(bad)


def test_savepoint_of_shallow_clone_outlives_both_roots(spark, tmp_path):
    """A shallow clone's manifest names the source's files by absolute
    path; its savepoint re-roots them, so it reads the clone's state
    after both the source and the clone are gone."""
    src = ParquetSnapshotSink(spark, str(tmp_path / "src"), num_buckets=2, mode="mor")
    apply_events_batch(_mk(spark, [_ev(0, "insert", "a", 1, 1)]), src, "b0")
    clone = src.clone_to(str(tmp_path / "cl"))
    # a clone-local delta beside the foreign base
    apply_events_batch(_mk(spark, [_ev(1, "insert", "b", 1, 2)]), clone, "b1")
    want, version = _state(clone), clone.current_version()
    export_savepoint(clone, str(tmp_path / "sp"))
    shutil.rmtree(src.root)
    shutil.rmtree(clone.root)
    dst = import_savepoint(spark, str(tmp_path / "sp"))
    assert _state(dst) == want
    assert dst.current_version() == version
    assert dst.current_manifest()["savepoint_of"]["version"] == version


def test_crash_at_export_commit_is_not_a_savepoint(spark, tmp_path, monkeypatch):
    """``savepoint.json`` is the savepoint's commit point: an export
    that dies at its manifest commit leaves a destination the import
    refuses, never an empty table that would re-apply old batches."""
    src = ParquetSnapshotSink(spark, str(tmp_path / "s"), num_buckets=2, mode="mor")
    apply_events_batch(_mk(spark, [_ev(0, "insert", "a", 1, 1)]), src, "b0")

    def crash(self, manifest, path_stats=None):
        raise OSError("injected crash at the manifest commit")

    monkeypatch.setattr(ParquetSnapshotSink, "_commit", crash)
    with pytest.raises(OSError, match="injected crash"):
        export_savepoint(src, str(tmp_path / "sp"))
    monkeypatch.undo()
    with pytest.raises(ValueError, match="not a savepoint"):
        import_savepoint(spark, str(tmp_path / "sp"))


def test_mirror_resumes_from_restored_savepoint(spark, tmp_path):
    """A savepoint keeps the source's version number, so a mirror
    synced to source vN keeps syncing exactly from the restored vN
    once the source is lost."""
    src = ParquetSnapshotSink(spark, str(tmp_path / "src"), num_buckets=2, mode="mor")
    mirror = ParquetSnapshotSink(spark, str(tmp_path / "m"), num_buckets=2, mode="mor")
    for i, (op, conv) in enumerate([("insert", "a"), ("insert", "b"), ("update", "a")]):
        apply_events_batch(_mk(spark, [_ev(i, op, conv, 1, i + 1)]), src, f"b{i}")
    sync_mirror(src, mirror)
    assert last_synced_version(mirror) == 3
    export_savepoint(src, str(tmp_path / "sp"))
    shutil.rmtree(src.root)
    restored = import_savepoint(spark, str(tmp_path / "sp"))
    apply_events_batch(_mk(spark, [_ev(3, "delete", "b", 1, 4)]), restored, "b3")
    r = sync_mirror(restored, mirror)
    assert (r["from_version"], r["to_version"]) == (3, 4)
    assert _state(mirror) == _state(restored) == [("a", 1, "t2")]
