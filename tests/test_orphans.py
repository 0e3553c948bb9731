"""Orphan-file cleanup (`remove_orphans`, the Iceberg
`remove_orphan_files` analogue): reclaim data dirs referenced by NO
manifest of ANY branch WITHOUT expiring a single snapshot — disjoint
from `vacuum`, which trades history for space. Orphans arise from
exactly one place in this design: a losing OCC attempt's
uniquely-named staging dir (snapshot.py `_data_rel`); the grace window
is what keeps a CONCURRENT writer's staged-but-not-yet-committed dir
safe (unreferenced != orphaned while a commit race is in flight).

Reference anchor: the reference has no storage layer — this is lake
maintenance the host pipeline needs at 100 TB (SURVEY §2.4d vacuum).
"""

import datetime
import os

from pyspark.sql import functions as F

from embulk_util_json_spark.sinks.snapshot import ParquetSnapshotSink


def _rows(spark, lo, hi):
    out = [
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
    return spark.createDataFrame(
        out,
        "conv_id string, turn_idx int, role string, text string, "
        "ts timestamp, op string, seq long",
    )


def _mk(spark, tmp_path):
    return ParquetSnapshotSink(
        spark,
        str(tmp_path / "t"),
        num_buckets=4,
        keys=["conv_id", "turn_idx"],
        order_cols=["ts", "seq"],
        mode="mor",
    )


def _plant_orphan(sink, name="v99999999-deadbeef"):
    """Simulate a losing OCC attempt's staging leftovers: a
    uniquely-named version dir with bucket subdirs no manifest ever
    references (the exact shape `_data_rel` stages into)."""
    d = os.path.join(sink.root, "data", name, "_bucket=0")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, "part-00000.parquet"), "w") as f:
        f.write("garbage")
    return os.path.join(sink.root, "data", name)


def test_remove_orphans_keeps_every_snapshot(spark, tmp_path):
    sink = _mk(spark, tmp_path)
    sink.apply(_rows(spark, 0, 20), "b0")
    sink.apply(_rows(spark, 20, 40), "b1")
    sink.apply(_rows(spark, 40, 60), "b2")
    before = {v: sink.read(at_version=v).count() for v in (1, 2, 3)}
    orphan = _plant_orphan(sink)
    assert os.path.isdir(orphan)

    r = sink.remove_orphans(grace_seconds=0.0)
    assert r["removed_dirs"] == 1
    assert not os.path.exists(orphan)
    # vacuum semantics NOT applied: all three snapshots still read
    assert [x.version for x in sink.snapshots().collect()] == [1, 2, 3]
    for v, n in before.items():
        assert sink.read(at_version=v).count() == n
    # idempotent on a clean tree
    assert sink.remove_orphans(grace_seconds=0.0)["removed_dirs"] == 0


def test_grace_window_protects_inflight_staging(spark, tmp_path):
    sink = _mk(spark, tmp_path)
    sink.apply(_rows(spark, 0, 20), "b0")
    orphan = _plant_orphan(sink)
    # a freshly-touched unreferenced dir could be a concurrent
    # writer's in-flight stage: the default grace must keep it
    r = sink.remove_orphans()
    assert r["removed_dirs"] == 0
    assert os.path.isdir(orphan)
    # once old enough it is reclaimable
    assert sink.remove_orphans(grace_seconds=0.0)["removed_dirs"] == 1


def test_remove_orphans_respects_sibling_branches(spark, tmp_path):
    sink = _mk(spark, tmp_path)
    sink.apply(_rows(spark, 0, 20), "b0")
    br = sink.create_branch("audit")
    br.apply(_rows(spark, 20, 40), "b1")
    want_main = sink.read().count()
    want_br = br.read().count()
    _plant_orphan(sink)

    # cleanup driven from MAIN must still see the branch's refs
    r = sink.remove_orphans(grace_seconds=0.0)
    assert r["removed_dirs"] == 1
    assert sink.read().count() == want_main
    assert br.read().count() == want_br
    # and the branch's own data dirs survived byte-for-byte readable
    assert br.read().agg(F.count("*")).collect()[0][0] == want_br


def test_real_losing_attempt_is_reclaimed(spark, tmp_path):
    """End-to-end: manufacture a REAL loser deterministically — a
    competitor commits between writer A's stage and A's manifest link,
    so A's first attempt raises ConcurrentCommitError, retries, and
    leaves its first uniquely-named staging dir unreferenced.
    remove_orphans reclaims exactly that dir with zero snapshot loss
    and no lost batch ids."""
    sink = _mk(spark, tmp_path)
    sink.apply(_rows(spark, 0, 20), "b0")
    data_root = os.path.join(sink.root, "data")

    a = _mk(spark, tmp_path)
    b = _mk(spark, tmp_path)
    orig_commit = a._commit
    fired = {"n": 0}

    def race_commit(manifest, **kw):
        # first commit attempt: the competitor sneaks in and takes
        # the version — A's os.link must then fail
        if fired["n"] == 0:
            fired["n"] += 1
            b.apply(_rows(spark, 20, 40), "bB")
        orig_commit(manifest, **kw)

    a._commit = race_commit
    pre = set(os.listdir(data_root))
    a.apply_with_retry(_rows(spark, 40, 60), "bA")
    assert fired["n"] == 1
    post = set(os.listdir(data_root))
    referenced = set()
    for v in range(1, sink.current_version() + 1):
        m = sink.manifest_at(v)
        for bk in m["buckets"]:
            referenced.update(sink._paths_of(m, bk))
    orphans = {
        d for d in post - pre if not any(f"data/{d}/" in p for p in referenced)
    }
    assert orphans, "the losing attempt must have left a staging dir"

    final = sink.read().count()
    r = sink.remove_orphans(grace_seconds=0.0)
    assert r["removed_dirs"] >= len(orphans)
    for d in orphans:
        assert not os.path.exists(os.path.join(data_root, d))
    assert sink.read().count() == final
    assert set(sink.applied_batch_ids()) >= {"b0", "bB", "bA"}
