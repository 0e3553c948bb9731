"""Zero-copy table branching (sinks/snapshot.py create_branch):
forks are metadata-only, writes after the fork are invisible across
branches, pre-fork batch ids carry over (replay = skip), vacuum on
one branch never reclaims files a sibling still references, and
dropping a branch releases exactly its exclusively-owned dirs."""

import glob
import os
import time

import pytest
from pyspark.sql import functions as F

from embulk_util_json_spark.sinks.snapshot import ORPHAN_GRACE_SECONDS, ParquetSnapshotSink
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


def _parquet_files(root):
    return set(glob.glob(os.path.join(root, "data", "**", "*.parquet"),
                         recursive=True))


def test_branch_isolation_and_zero_copy(spark, tmp_path):
    root = str(tmp_path / "t")
    main = ParquetSnapshotSink(spark, root, num_buckets=2, mode="mor")
    apply_events_batch(_mk(spark, [_ev(0, "insert", "a", 1, 1)]), main, "b1")
    apply_events_batch(_mk(spark, [_ev(1, "insert", "b", 1, 2)]), main, "b2")
    pre_fork = _state(main)
    files_before = _parquet_files(root)
    dev = main.create_branch("dev")
    assert _parquet_files(root) == files_before  # metadata-only fork
    assert _state(dev) == pre_fork
    # divergent writes: dev gains a row main never sees, then main
    # gains one dev never sees
    apply_events_batch(_mk(spark, [_ev(2, "insert", "c", 1, 3)]), dev, "b3")
    assert _state(main) == pre_fork
    assert _state(dev) == pre_fork + [("c", 1, "t2")]
    apply_events_batch(_mk(spark, [_ev(3, "update", "a", 1, 4)]), main, "b4")
    assert _state(dev) == pre_fork + [("c", 1, "t2")]
    assert _state(main) == [("a", 1, "t3"), ("b", 1, "t1")]
    assert sorted(main.branches()) == ["dev", "main"]


def test_prefork_batch_ids_carry_over(spark, tmp_path):
    main = ParquetSnapshotSink(spark, str(tmp_path / "t"), num_buckets=2)
    batch = _mk(spark, [_ev(0, "insert", "a", 1, 1)])
    apply_events_batch(batch, main, "b1")
    dev = main.create_branch("dev")
    # replaying the pre-fork stream into the branch is a no-op skip
    res = dev.apply(batch.limit(0), "b1")
    assert res.get("skipped") and res["reason"] == "already-applied"


def test_vacuum_protects_sibling_branch(spark, tmp_path):
    root = str(tmp_path / "t")
    main = ParquetSnapshotSink(spark, root, num_buckets=2, mode="mor")
    for i in range(4):
        apply_events_batch(
            _mk(spark, [_ev(i, "insert", "a", i, i + 1)]), main, f"b{i}"
        )
    dev = main.create_branch("dev")
    frozen = _state(dev)
    # main rewrites everything (compaction) and expires ALL history it
    # can — the branch's shared pre-fork files must survive
    for i in range(4, 8):
        apply_events_batch(
            _mk(spark, [_ev(i, "update", "a", i - 4, i + 1)]), main, f"b{i}"
        )
    main.compact()
    r = main.vacuum(keep_versions=1)
    assert r["removed_versions"] > 0
    assert _state(dev) == frozen  # bit-equal after sibling vacuum
    assert _state(main) == [("a", i, f"t{i + 4}") for i in range(4)]


def test_drop_branch_releases_only_its_dirs(spark, tmp_path):
    root = str(tmp_path / "t")
    main = ParquetSnapshotSink(spark, root, num_buckets=2, mode="mor")
    apply_events_batch(_mk(spark, [_ev(0, "insert", "a", 1, 1)]), main, "b1")
    dev = main.create_branch("dev")
    apply_events_batch(_mk(spark, [_ev(1, "insert", "b", 1, 2)]), dev, "b2")
    dev_dirs = glob.glob(os.path.join(root, "data", "dev~v*"))
    assert dev_dirs  # the branch owns its post-fork dirs
    main.drop_branch("dev")
    assert "dev" not in main.branches()
    # no manifest references them now, but they are fresh: vacuum keeps
    # them for the grace window, as it would a live writer's level
    main.vacuum(keep_versions=1)
    assert sorted(glob.glob(os.path.join(root, "data", "dev~v*"))) == sorted(dev_dirs)
    then = time.time() - ORPHAN_GRACE_SECONDS - 60
    for d in dev_dirs:
        for sub, _, _ in os.walk(d):
            os.utime(sub, (then, then))
    main.vacuum(keep_versions=1)
    assert not glob.glob(os.path.join(root, "data", "dev~v*"))
    assert _state(main) == [("a", 1, "t0")]  # main untouched


def test_branch_rejections(spark, tmp_path):
    main = ParquetSnapshotSink(spark, str(tmp_path / "t"), num_buckets=2)
    with pytest.raises(ValueError, match="empty table"):
        main.create_branch("dev")
    apply_events_batch(_mk(spark, [_ev(0, "insert", "a", 1, 1)]), main, "b1")
    dev = main.create_branch("dev")
    with pytest.raises(ValueError, match="already exists"):
        main.create_branch("dev")
    with pytest.raises(ValueError, match="invalid branch name"):
        ParquetSnapshotSink(spark, str(tmp_path / "t2"), branch="a/b")
    with pytest.raises(ValueError, match="main branch"):
        main.drop_branch("main")
    with pytest.raises(ValueError, match="handle is on"):
        dev.drop_branch("dev")
    with pytest.raises(ValueError, match="no such branch"):
        main.drop_branch("ghost")


def test_wap_publish_equals_direct_apply(spark, tmp_path):
    # write-audit-publish: main + branch writes folded back must equal
    # applying the whole stream directly to one table
    batches = [
        [_ev(0, "insert", "a", 1, 1), _ev(1, "insert", "b", 1, 2)],
        [_ev(2, "update", "a", 1, 3), _ev(3, "insert", "c", 1, 4)],
        [_ev(4, "delete", "b", 1, 5)],
    ]
    main = ParquetSnapshotSink(spark, str(tmp_path / "t"), num_buckets=2, mode="mor")
    twin = ParquetSnapshotSink(spark, str(tmp_path / "d"), num_buckets=2, mode="mor")
    apply_events_batch(_mk(spark, batches[0]), main, "b0")
    dev = main.create_branch("dev")
    for i, b in enumerate(batches[1:], 1):
        apply_events_batch(_mk(spark, b), dev, f"b{i}")
    audited = {}
    main.publish_from(dev, audit=lambda feed: audited.update(n=feed.count()))
    assert audited["n"] > 0  # the audit saw the net delta
    for i, b in enumerate(batches):
        apply_events_batch(_mk(spark, b), twin, f"b{i}")
    assert _state(main) == _state(twin)


def test_wap_audit_veto_commits_nothing(spark, tmp_path):
    main = ParquetSnapshotSink(spark, str(tmp_path / "t"), num_buckets=2)
    apply_events_batch(_mk(spark, [_ev(0, "insert", "a", 1, 1)]), main, "b0")
    dev = main.create_branch("dev")
    apply_events_batch(_mk(spark, [_ev(1, "insert", "b", 1, 2)]), dev, "b1")
    before = _state(main)
    with pytest.raises(RuntimeError, match="dq veto"):
        main.publish_from(dev, audit=lambda feed: (_ for _ in ()).throw(
            RuntimeError("dq veto")))
    assert _state(main) == before
    # nothing committed: the same publish succeeds afterwards
    main.publish_from(dev)
    assert _state(main) == before + [("b", 1, "t1")]


def test_wap_incremental_and_redelivery(spark, tmp_path):
    main = ParquetSnapshotSink(spark, str(tmp_path / "t"), num_buckets=2)
    apply_events_batch(_mk(spark, [_ev(0, "insert", "a", 1, 1)]), main, "b0")
    dev = main.create_branch("dev")
    apply_events_batch(_mk(spark, [_ev(1, "insert", "b", 1, 2)]), dev, "b1")
    r1 = main.publish_from(dev)
    assert not r1.get("skipped")
    assert main.publish_from(dev).get("skipped")  # redelivery = no-op
    # later branch writes: the next publish re-folds from the fork —
    # already-published winners merge to themselves, new ones land
    apply_events_batch(_mk(spark, [_ev(2, "update", "b", 1, 3)]), dev, "b2")
    assert not main.publish_from(dev).get("skipped")
    assert _state(main) == [("a", 1, "t0"), ("b", 1, "t2")]


def test_wap_rejects_non_child_branch(spark, tmp_path):
    main = ParquetSnapshotSink(spark, str(tmp_path / "t"), num_buckets=2)
    apply_events_batch(_mk(spark, [_ev(0, "insert", "a", 1, 1)]), main, "b0")
    dev = main.create_branch("dev")
    grand = dev.create_branch("grand")
    with pytest.raises(ValueError, match="fork parent"):
        main.publish_from(grand)  # forked from dev, not main
    # but dev CAN publish its child
    apply_events_batch(_mk(spark, [_ev(1, "insert", "b", 1, 2)]), grand, "b1")
    dev.publish_from(grand)
    assert _state(dev) == [("a", 1, "t0"), ("b", 1, "t1")]


def test_branch_at_past_version(spark, tmp_path):
    main = ParquetSnapshotSink(spark, str(tmp_path / "t"), num_buckets=2)
    apply_events_batch(_mk(spark, [_ev(0, "insert", "a", 1, 1)]), main, "b1")
    v1 = main.current_version()
    apply_events_batch(_mk(spark, [_ev(1, "insert", "b", 1, 2)]), main, "b2")
    old = main.create_branch("asof", at_version=v1)
    assert _state(old) == [("a", 1, "t0")]
    assert _state(main) == [("a", 1, "t0"), ("b", 1, "t1")]
