"""One reclaim rule for `vacuum` and `remove_orphans`
(`ParquetSnapshotSink._reclaim`): a data dir goes only when no kept
version of this branch and no manifest of another branch references
it, and either a version this call expires referenced it or it is
older than the grace window. So `vacuum` never deletes the current
version's data or a concurrent writer's staged, not-yet-committed
level, yet still erases a crashed writer's old leftovers.
"""

import datetime
import os
import time

import pytest

from embulk_util_json_spark.pipeline.reconcile import fsck
from embulk_util_json_spark.sinks.snapshot import (
    ORPHAN_GRACE_SECONDS,
    ParquetSnapshotSink,
)


def _events(lo, hi):
    return [
        (
            f"c{i % 4}",
            i % 3,
            "assistant",
            f"text {i}",
            datetime.datetime(2025, 1, 1) + datetime.timedelta(seconds=i),
            "upsert",
            i,
        )
        for i in range(lo, hi)
    ]


def _rows(spark, lo, hi):
    return spark.createDataFrame(
        _events(lo, hi),
        "conv_id string, turn_idx int, role string, text string, "
        "ts timestamp, op string, seq long",
    )


def _want(hi):
    """Last-writer-wins state after events 0..hi-1: seq grows with ts."""
    state = {}
    for c, t, _, text, _, _, _ in _events(0, hi):
        state[(c, t)] = text
    return sorted((c, t, text) for (c, t), text in state.items())


def _state(sink):
    return sorted((r.conv_id, r.turn_idx, r.text) for r in sink.read().collect())


def _mk(spark, tmp_path, mode="mor"):
    return ParquetSnapshotSink(
        spark,
        str(tmp_path / "t"),
        num_buckets=4,
        keys=["conv_id", "turn_idx"],
        order_cols=["ts", "seq"],
        mode=mode,
    )


def _plant_orphan(sink, age_seconds=0.0):
    """A never-committed staging dir (the shape `_data_rel` stages
    into), its mtimes set ``age_seconds`` into the past."""
    vdir = os.path.join(sink.root, "data", "v99999999-deadbeef")
    d = os.path.join(vdir, "_bucket=0")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, "part-00000.parquet"), "w") as f:
        f.write("garbage")
    then = time.time() - age_seconds
    for p in (os.path.join(d, "part-00000.parquet"), d, vdir):
        os.utime(p, (then, then))
    return vdir


@pytest.mark.parametrize("keep_versions", [0, -1])
def test_vacuum_refuses_to_keep_no_version(spark, tmp_path, keep_versions):
    """``keep_versions`` below 1 would expire the current version and
    delete its data: it raises before any file or manifest is touched."""
    sink = _mk(spark, tmp_path)
    for i in range(3):
        sink.apply(_rows(spark, 20 * i, 20 * i + 20), f"b{i}")
    manifests = sorted(os.listdir(sink._log.dir))
    data = sorted(os.listdir(os.path.join(sink.root, "data")))
    with pytest.raises(ValueError, match="keep_versions"):
        sink.vacuum(keep_versions=keep_versions)
    assert sorted(os.listdir(sink._log.dir)) == manifests
    assert sorted(os.listdir(os.path.join(sink.root, "data"))) == data
    assert _state(sink) == _want(60)
    assert fsck(sink, deep=True)["ok"]


@pytest.mark.parametrize("mode", ["mor", "mow"])
def test_vacuum_spares_a_writers_staged_level(spark, tmp_path, mode):
    """A second handle vacuums between a writer's data write and its
    commit: the staged level is unreferenced but fresh, so it survives,
    and the version the writer then commits reads in full."""
    sink = _mk(spark, tmp_path, mode)
    sink.apply(_rows(spark, 0, 20), "b0")
    sink.apply(_rows(spark, 20, 40), "b1")
    writer, other = _mk(spark, tmp_path, mode), _mk(spark, tmp_path, mode)
    commit = writer._commit
    vacuumed = []

    def vacuum_then_commit(manifest, **kw):
        vacuumed.append(other.vacuum(keep_versions=1))
        commit(manifest, **kw)

    writer._commit = vacuum_then_commit
    writer.apply(_rows(spark, 40, 60), "b2")
    assert vacuumed and vacuumed[0]["removed_versions"] == 1
    assert _state(sink) == _want(60)
    assert fsck(sink, deep=True)["ok"]


def test_vacuum_reclaims_an_old_orphan(spark, tmp_path):
    """A never-committed dir past the grace window goes with the next
    vacuum, so ``purge(expire_history=True)`` still erases a crashed
    writer's old leftovers."""
    sink = _mk(spark, tmp_path)
    sink.apply(_rows(spark, 0, 20), "b0")
    sink.apply(_rows(spark, 20, 40), "b1")
    orphan = _plant_orphan(sink, age_seconds=ORPHAN_GRACE_SECONDS + 60)
    r = sink.vacuum(keep_versions=1)
    assert r["removed_versions"] == 1
    assert not os.path.exists(orphan)
    assert _state(sink) == _want(40)
    assert fsck(sink, deep=True)["ok"]

    orphan = _plant_orphan(sink, age_seconds=ORPHAN_GRACE_SECONDS + 60)
    sink.purge(key_eq={"conv_id": "c1"})
    assert not os.path.exists(orphan)


def test_fresh_orphan_survives_vacuum_until_remove_orphans(spark, tmp_path):
    """A fresh never-committed dir may be a live writer's stage:
    ``vacuum`` leaves it, ``remove_orphans(grace_seconds=0)`` (no
    writer live) reclaims it."""
    sink = _mk(spark, tmp_path)
    sink.apply(_rows(spark, 0, 20), "b0")
    sink.apply(_rows(spark, 20, 40), "b1")
    orphan = _plant_orphan(sink)
    assert sink.vacuum(keep_versions=1)["removed_versions"] == 1
    assert os.path.isdir(orphan)
    assert sink.remove_orphans(grace_seconds=0)["removed_dirs"] == 1
    assert not os.path.exists(orphan)
    assert _state(sink) == _want(40)


def test_vacuum_spares_a_live_write(spark, tmp_path):
    """While Spark writes a level, its version dir holds only the
    committer's ``_temporary`` tree and no bucket dir: a fresh one is
    left alone, an old one goes."""
    sink = _mk(spark, tmp_path)
    sink.apply(_rows(spark, 0, 20), "b0")
    live = os.path.join(sink.root, "data", "v00000002-cafebabe")
    os.makedirs(os.path.join(live, "_temporary", "0"))
    sink.vacuum(keep_versions=1)
    assert os.path.isdir(os.path.join(live, "_temporary", "0"))
    assert sink.remove_orphans(grace_seconds=0)["removed_dirs"] == 0
    assert not os.path.exists(live)
    assert _state(sink) == _want(20)
