"""Durable change-feed cursors (sinks/feed.FeedCursor): independent
named consumers over one source's net-change feed — at-least-once
poll/commit with crash-safe positions, exactly-once downstream via the
window-derived batch id, LWW fold of all polled windows converging to
the source final state."""

import pytest
from pyspark.sql import functions as F

from embulk_util_json_spark.sinks.feed import FeedCursor, batch_id, cursors
from embulk_util_json_spark.sinks.snapshot import ParquetSnapshotSink
from embulk_util_json_spark.streaming.runner import apply_events_batch


def _ev(seq, op, conv, turn, day, text=None):
    return (
        seq,
        f'{{"op":"{op}","ts":"2026-01-{day:02d} 00:00:00.000000",'
        f'"data":{{"conv_id":"{conv}","turn_idx":{turn},"role":"r",'
        f'"text":"{text or f"t{seq}"}","tool":"x"}}}}',
    )


def _mk(spark, rows):
    return spark.createDataFrame(rows, "seq long, event_json string")


def _state(df):
    return sorted((r.conv_id, r.turn_idx, r.text) for r in df.collect())


def test_poll_commit_and_independent_pacing(spark, tmp_path):
    src = ParquetSnapshotSink(spark, str(tmp_path / "s"), num_buckets=1, mode="mor")
    fast = FeedCursor(src, "indexer")
    slow = FeedCursor(src, "exporter")
    apply_events_batch(_mk(spark, [_ev(0, "insert", "a", 1, 1)]), src, "b0")
    ch, w = fast.poll()
    assert _state(ch) == [("a", 1, "t0")]
    fast.commit(w)
    assert fast.poll() is None, "caught up"
    apply_events_batch(_mk(spark, [_ev(1, "update", "a", 1, 2, text="v2"),
                                   _ev(2, "insert", "b", 1, 2)]), src, "b1")
    # fast sees only the new window; slow sees everything in one poll
    ch2, w2 = fast.poll()
    assert {r.conv_id for r in ch2.collect()} == {"a", "b"}
    ch_all, w_all = slow.poll()
    assert w_all["from_version"] == 0
    assert _state(ch_all) == [("a", 1, "v2"), ("b", 1, "t2")]
    fast.commit(w2)
    slow.commit(w_all)
    assert cursors(src) == {"exporter": w_all["to_version"],
                            "indexer": w2["to_version"]}
    assert fast.lag() == 0 and slow.lag() == 0


def test_crash_redelivery_and_stale_token(spark, tmp_path):
    src = ParquetSnapshotSink(spark, str(tmp_path / "s"), num_buckets=1, mode="mor")
    apply_events_batch(_mk(spark, [_ev(0, "insert", "a", 1, 1)]), src, "b0")
    c = FeedCursor(src, "c1")
    _, w1 = c.poll()
    # crash before commit → same window again, same idempotence key
    _, w1b = c.poll()
    assert w1 == w1b and batch_id(w1) == batch_id(w1b)
    c.commit(w1)
    with pytest.raises(ValueError, match="stale window"):
        c.commit(w1b)  # double-drain refused
    # a fresh handle reads the durable position
    assert FeedCursor(src, "c1").committed_version() == w1["to_version"]


def test_fold_of_polled_windows_converges(spark, tmp_path):
    """LWW over the union of every polled window ≡ source final state
    (deletes drop the key), exactly the consumer's apply contract."""
    src = ParquetSnapshotSink(spark, str(tmp_path / "s"), num_buckets=2, mode="mor")
    dst = ParquetSnapshotSink(spark, str(tmp_path / "d"), num_buckets=2, mode="mor")
    c = FeedCursor(src, "mirror2")
    batches = [
        [_ev(0, "insert", "a", 1, 1), _ev(1, "insert", "b", 1, 1)],
        [_ev(2, "update", "a", 1, 2, text="v2"), _ev(3, "delete", "b", 1, 3)],
        [_ev(4, "insert", "c", 1, 4)],
    ]
    for i, rows in enumerate(batches):
        apply_events_batch(_mk(spark, rows), src, f"b{i}")
        got = c.poll()
        if got is None:
            continue
        ch, w = got
        # feed rows are (op, keys, payload, ts) — a valid change batch;
        # seq from src version keeps the fold deterministic
        dst.apply(ch.withColumn("seq", F.lit(w["to_version"])), batch_id(w))
        c.commit(w)
        # replayed window must dedupe downstream
        m = dst.apply(ch.withColumn("seq", F.lit(w["to_version"])), batch_id(w))
        assert m.get("skipped")
    assert _state(dst.read()) == _state(src.read()) == [
        ("a", 1, "v2"), ("c", 1, "t4")
    ]


def test_reset_after_rollback_strand(spark, tmp_path):
    src = ParquetSnapshotSink(spark, str(tmp_path / "s"), num_buckets=1, mode="mor")
    apply_events_batch(_mk(spark, [_ev(0, "insert", "a", 1, 1)]), src, "b0")
    v1 = src.current_version()
    c = FeedCursor(src, "c1")
    apply_events_batch(_mk(spark, [_ev(1, "insert", "b", 1, 2)]), src, "b1")
    ch, w = c.poll()
    c.commit(w)
    src.rollback(v1)
    with pytest.raises(ValueError):
        c.poll()  # stranded inside the rolled-back range
    c.reset(0)
    ch2, w2 = c.poll()
    assert _state(ch2) == [("a", 1, "t0")]


def test_bad_names_rejected(spark, tmp_path):
    src = ParquetSnapshotSink(spark, str(tmp_path / "s"), num_buckets=1, mode="mor")
    for bad in ("", "a/b", ".hidden"):
        with pytest.raises(ValueError):
            FeedCursor(src, bad)


def test_vacuum_protects_lagging_cursor(spark, tmp_path):
    """vacuum keeps the versions a lagging consumer still needs to
    diff from; protect_cursors=False reclaims and strands it."""
    src = ParquetSnapshotSink(spark, str(tmp_path / "s"), num_buckets=1, mode="mor")
    apply_events_batch(_mk(spark, [_ev(0, "insert", "a", 1, 1)]), src, "b0")
    c = FeedCursor(src, "slow")
    ch, w = c.poll()
    c.commit(w)  # committed at v1
    for i in range(1, 4):
        apply_events_batch(
            _mk(spark, [_ev(i, "insert", f"k{i}", 1, i + 1)]), src, f"b{i}"
        )
    src.vacuum(keep_versions=1)  # cursor-aware: must keep v1..current
    ch2, w2 = c.poll()  # still drainable after maintenance
    assert {r.conv_id for r in ch2.collect()} == {"k1", "k2", "k3"}
    c.commit(w2)
    # opt out: reclaim regardless, cursor re-bases explicitly
    c.reset(1)
    src.vacuum(keep_versions=1, protect_cursors=False)
    with pytest.raises(Exception):
        c.poll()
    c.reset(0)
    ch3, _ = c.poll()
    assert ch3.count() == 4


def _restore_bucket0(sink):
    truth = sink.read(include_tombstones=True, include_meta=True)
    return sink.restore_buckets(truth, [0])


# a commit made right after a rollback: (sink mode, the op)
_AFTER_ROLLBACK = {
    "compact": ("mor", lambda s: s.compact(drop_tombstones=False)),
    "rewrite": (
        "mor", lambda s: s.rewrite(lambda df: df.withColumn("text", F.upper("text")))
    ),
    "purge": ("mor", lambda s: s.purge(where=F.col("conv_id") == "b")),
    "rebucket": ("mor", lambda s: s.rebucket(3)),
    "restore_buckets": ("mor", _restore_bucket0),
    "empty_mow_apply": (
        "mow", lambda s: apply_events_batch(_mk(s.spark, []), s, "b_empty")
    ),
}


@pytest.mark.parametrize("op", sorted(_AFTER_ROLLBACK))
def test_commit_after_rollback_keeps_feed_open(spark, tmp_path, op):
    """A rollback's marker belongs to the rollback version alone: the
    commit after it does not inherit it, so a consumer synced AT the
    rollback version keeps polling (a cursor INSIDE the rolled-back
    range is refused, see test_reset_after_rollback_strand)."""
    mode, run = _AFTER_ROLLBACK[op]
    src = ParquetSnapshotSink(spark, str(tmp_path / "s"), num_buckets=2, mode=mode)
    for i, conv in enumerate(("a", "b", "c")):
        apply_events_batch(_mk(spark, [_ev(i, "insert", conv, 1, i + 1)]), src, f"b{i}")
    src.rollback(2)
    v_rb = src.current_version()
    c = FeedCursor(src, "at-rollback")
    ch, w = c.poll()
    assert _state(ch) == [("a", 1, "t0"), ("b", 1, "t1")]
    c.commit(w)
    run(src)
    cur = src.current_version()
    assert cur == v_rb + 1
    src.read_changes(v_rb, cur).collect()
    src.changed_keys(v_rb, cur).collect()
    c.poll()
    assert "rolled_back" not in src.manifest_at(cur)
