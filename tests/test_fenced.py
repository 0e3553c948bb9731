"""Cross-batch in-order commit fencing (streaming/fenced.py): the
applied frontier must never pass a binlog hole across micro-batches;
held-back events drain automatically once the hole is refetched, and
the end state is bit-equal to a clean replay. Abandoning a hole
applies the surrounding held data instead of discarding it."""

import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from embulk_util_json_spark.sinks.snapshot import ParquetSnapshotSink
from embulk_util_json_spark.sources.generator import generate_events
from embulk_util_json_spark.streaming.fenced import FencedApplier
from embulk_util_json_spark.streaming.runner import apply_events_batch

N = 3000


@pytest.fixture(scope="module")
def ev_parquet(tmp_path_factory):
    path = str(tmp_path_factory.mktemp("fenced") / "events.parquet")
    pq.write_table(generate_events(N, n_convs=30, n_turns=20), path)
    return path


def _state(sink):
    return sorted(
        (r.conv_id, r.turn_idx, r.role, r.text, r.tool, r.ts)
        for r in sink.read().collect()
    )


def _clean_state(spark, ev, tmp_path, events_filter=None):
    sink = ParquetSnapshotSink(spark, str(tmp_path / "clean"), num_buckets=4)
    e = ev if events_filter is None else ev.filter(events_filter)
    apply_events_batch(e, sink, "all")
    return _state(sink)


def test_hole_fills_across_batches_end_state_equal(spark, ev_parquet, tmp_path):
    ev = spark.read.parquet(ev_parquet)
    hole_lo, hole_hi = 1000, 1050  # the "lost WAL chunk"
    cut = 2000
    s = F.col("seq")
    batch_a = ev.filter((s < cut) & ~((s >= hole_lo) & (s < hole_hi)))
    batch_b = ev.filter((s >= cut) | ((s >= hole_lo) & (s < hole_hi)))

    sink = ParquetSnapshotSink(spark, str(tmp_path / "t"), num_buckets=4)
    fa = FencedApplier(spark, sink, str(tmp_path / "fence"))

    r1 = fa.apply(batch_a)
    assert r1["fence_next_seq"] == hole_lo
    assert r1["held_batch"] and r1["pending_rows"] > 0
    # sink reflects EXACTLY the contiguous prefix
    assert _state(sink) == _clean_state(
        spark, ev, tmp_path / "p1", events_filter=s < hole_lo
    )

    r2 = fa.apply(batch_b)  # refetch fills the hole -> full drain
    assert r2["pending_rows"] == 0
    assert r2["fence_next_seq"] == ev.agg(F.max("seq")).collect()[0][0] + 1
    assert _state(sink) == _clean_state(spark, ev, tmp_path / "p2")
    # pending store is garbage-collected after the drain
    assert not [
        f for f in os.listdir(tmp_path / "fence") if f.startswith("pending-")
    ]


def test_contiguous_batch_applies_fully(spark, ev_parquet, tmp_path):
    ev = spark.read.parquet(ev_parquet)
    sink = ParquetSnapshotSink(spark, str(tmp_path / "t"), num_buckets=4)
    fa = FencedApplier(spark, sink, str(tmp_path / "fence"))
    r = fa.apply(ev)
    assert r["pending_rows"] == 0 and not r["held_batch"]
    assert _state(sink) == _clean_state(spark, ev, tmp_path)


def test_redelivered_batch_is_noop(spark, ev_parquet, tmp_path):
    ev = spark.read.parquet(ev_parquet)
    sink = ParquetSnapshotSink(spark, str(tmp_path / "t"), num_buckets=4)
    fa = FencedApplier(spark, sink, str(tmp_path / "fence"))
    fa.apply(ev)
    before = _state(sink)
    r = fa.apply(ev)  # at-least-once source redelivers everything
    assert r["applied_rows"] == 0 and r["pending_rows"] == 0
    assert _state(sink) == before


def test_abandon_hole_applies_held_data(spark, ev_parquet, tmp_path):
    ev = spark.read.parquet(ev_parquet)
    hole_lo, hole_hi = 800, 850
    s = F.col("seq")
    delivered = ev.filter(~((s >= hole_lo) & (s < hole_hi)))

    sink = ParquetSnapshotSink(spark, str(tmp_path / "t"), num_buckets=4)
    fa = FencedApplier(spark, sink, str(tmp_path / "fence"))
    r = fa.apply(delivered)
    assert r["fence_next_seq"] == hole_lo and r["pending_rows"] > 0

    # abandon the hole: positions [hole_lo, hole_hi) declared lost.
    # Held rows BELOW the threshold apply inside abandon; the rest
    # drain on the next apply tick (even an empty one).
    out = fa.abandon_below(hole_hi + 100)
    assert out["next_seq"] == hole_hi + 100
    assert out["applied_rows"] > 0  # the held rows in [hole_hi, hole_hi+100)
    r2 = fa.apply(ev.limit(0))
    assert r2["pending_rows"] == 0
    # state == everything that was actually delivered
    assert _state(sink) == _clean_state(
        spark, ev, tmp_path, events_filter=~((s >= hole_lo) & (s < hole_hi))
    )
    # re-abandoning at/below the current frontier is a no-op (the
    # frontier moved past the threshold when the drain completed)
    again = fa.abandon_below(hole_hi + 100)
    assert again["next_seq"] == N
    assert again.get("applied_rows", 0) == 0


def test_empty_batch_with_open_hole_keeps_pending(spark, ev_parquet, tmp_path):
    ev = spark.read.parquet(ev_parquet)
    s = F.col("seq")
    sink = ParquetSnapshotSink(spark, str(tmp_path / "t"), num_buckets=4)
    fa = FencedApplier(spark, sink, str(tmp_path / "fence"))
    r1 = fa.apply(ev.filter((s < 500) | (s >= 600)))
    assert r1["pending_rows"] > 0
    r2 = fa.apply(ev.limit(0))  # tick with nothing new
    assert r2["applied_rows"] == 0
    assert r2["pending_rows"] == r1["pending_rows"]
    assert r2["fence_next_seq"] == 500


def test_redelivered_held_rows_are_held_once(spark, ev_parquet, tmp_path):
    """A redelivered batch adds no second copy of a row the pending
    generation already holds."""
    ev = spark.read.parquet(ev_parquet)
    s = F.col("seq")
    sink = ParquetSnapshotSink(spark, str(tmp_path / "t"), num_buckets=4)
    fa = FencedApplier(spark, sink, str(tmp_path / "fence"))
    batch = ev.filter((s < 500) | (s >= 600))
    fa.apply(batch)
    r = fa.apply(batch)  # at-least-once redelivery, hole still open
    assert r["pending_rows"] == ev.filter(s >= 600).count()
    held = fa.state_dir.load(fa.state_dir.read(), "pending")
    assert sorted(map(str, held.select(*ev.columns).collect())) == sorted(
        map(str, ev.filter(s >= 600).collect())
    )
