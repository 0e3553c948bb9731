"""Source-transaction atomicity (streaming/txn_boundary.py): rows
become visible only on their transaction's commit marker, aborted
transactions vanish, open transactions hold durably across batches,
and at-least-once redelivery is a state no-op."""

import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import Row, functions as F

from embulk_util_json_spark.sinks.snapshot import ParquetSnapshotSink
from embulk_util_json_spark.sources.generator import generate_events
from embulk_util_json_spark.streaming.runner import apply_events_batch
from embulk_util_json_spark.streaming.txn_boundary import TxnBoundaryApplier

N = 3000
TX = 100  # txid = seq div TX


@pytest.fixture(scope="module")
def ev_parquet(tmp_path_factory):
    path = str(tmp_path_factory.mktemp("txnb") / "events.parquet")
    pq.write_table(generate_events(N, n_convs=30, n_turns=20), path)
    return path


def _ev(spark, ev_parquet):
    return spark.read.parquet(ev_parquet).withColumn(
        "txid", F.expr(f"seq div {TX}")
    )


def _markers(spark, txids, status="commit"):
    if not txids:
        return spark.createDataFrame([], "txid long, status string")
    return spark.createDataFrame(
        [Row(txid=int(t), status=status) for t in txids]
    )


def _state(sink):
    return sorted(
        (r.conv_id, r.turn_idx, r.role, r.text, r.tool, r.ts)
        for r in sink.read().collect()
    )


def _clean_state(spark, ev, tmp_path, events_filter=None):
    sink = ParquetSnapshotSink(spark, str(tmp_path / "clean"), num_buckets=4)
    e = ev if events_filter is None else ev.filter(events_filter)
    apply_events_batch(e.drop("txid"), sink, "all")
    return _state(sink)


def test_commit_gates_visibility_across_batches(spark, ev_parquet, tmp_path):
    ev = _ev(spark, ev_parquet)
    t = F.col("txid")
    sink = ParquetSnapshotSink(spark, str(tmp_path / "t"), num_buckets=4)
    ap = TxnBoundaryApplier(spark, sink, str(tmp_path / "txn"))

    # batch A: rows of txns 0..19, but markers lag at 0..14
    r1 = ap.apply(ev.filter(t < 20), _markers(spark, range(15)))
    assert r1["held_batch"] and r1["open_rows"] > 0
    assert r1["aborted_rows"] == 0
    assert _state(sink) == _clean_state(spark, ev, tmp_path / "p1", t < 15)

    # batch B: the remaining rows + every remaining marker -> full drain
    r2 = ap.apply(ev.filter(t >= 20), _markers(spark, range(15, N // TX)))
    assert r2["open_rows"] == 0 and not r2["held_batch"]
    assert _state(sink) == _clean_state(spark, ev, tmp_path / "p2")
    # stale pending stores are garbage-collected after the drain
    assert not [
        f for f in os.listdir(tmp_path / "txn") if f.startswith("pending-")
    ]


def test_abort_drops_rows(spark, ev_parquet, tmp_path):
    ev = _ev(spark, ev_parquet)
    t = F.col("txid")
    all_tx = list(range(N // TX))
    aborted = {3, 7}
    sink = ParquetSnapshotSink(spark, str(tmp_path / "t"), num_buckets=4)
    ap = TxnBoundaryApplier(spark, sink, str(tmp_path / "txn"))
    markers = _markers(spark, [x for x in all_tx if x not in aborted]).unionByName(
        _markers(spark, sorted(aborted), status="abort")
    )
    r = ap.apply(ev, markers)
    assert r["aborted_rows"] == ev.filter(t.isin(list(aborted))).count()
    assert r["open_rows"] == 0
    assert _state(sink) == _clean_state(
        spark, ev, tmp_path, ~t.isin(list(aborted))
    )


def test_open_txn_stays_held_and_invisible(spark, ev_parquet, tmp_path):
    ev = _ev(spark, ev_parquet)
    t = F.col("txid")
    last = N // TX - 1
    sink = ParquetSnapshotSink(spark, str(tmp_path / "t"), num_buckets=4)
    ap = TxnBoundaryApplier(spark, sink, str(tmp_path / "txn"))
    r = ap.apply(ev, _markers(spark, range(last)))  # last txn unterminated
    assert r["open_rows"] == ev.filter(t == last).count()
    assert _state(sink) == _clean_state(spark, ev, tmp_path, t < last)
    # the marker arrives alone on a later (row-empty) tick -> drains
    r2 = ap.apply(ev.limit(0), _markers(spark, [last]))
    assert r2["open_rows"] == 0 and r2["applied_rows"] > 0
    assert _state(sink) == _clean_state(spark, ev, tmp_path / "p2")


def test_redelivery_is_state_noop(spark, ev_parquet, tmp_path):
    ev = _ev(spark, ev_parquet)
    sink = ParquetSnapshotSink(spark, str(tmp_path / "t"), num_buckets=4)
    ap = TxnBoundaryApplier(spark, sink, str(tmp_path / "txn"))
    markers = _markers(spark, range(N // TX))
    ap.apply(ev, markers)
    before = _state(sink)
    # at-least-once source redelivers the whole batch, markers included
    r = ap.apply(ev, markers)
    assert r["open_rows"] == 0
    assert _state(sink) == before


def test_vacuum_markers_retention(spark, ev_parquet, tmp_path):
    ev = _ev(spark, ev_parquet)
    n_tx = N // TX
    sink = ParquetSnapshotSink(spark, str(tmp_path / "t"), num_buckets=4)
    ap = TxnBoundaryApplier(spark, sink, str(tmp_path / "txn"))
    ap.apply(ev, _markers(spark, range(n_tx)))
    out = ap.vacuum_markers(below_txid=10)
    assert out == {"kept": n_tx - 10, "dropped": 10}
    # documented caveat: a row of a VACUUMED committed txn redelivered
    # after retention is held as open (not lost, not misapplied)
    r = ap.apply(ev.filter(F.col("txid") == 0))
    assert r["open_rows"] > 0 and r["applied_rows"] == 0


def test_redelivered_open_rows_are_held_once(spark, ev_parquet, tmp_path):
    """A redelivered batch adds no second copy of an open
    transaction's row the pending generation already holds."""
    ev = _ev(spark, ev_parquet)
    t = F.col("txid")
    last = N // TX - 1
    sink = ParquetSnapshotSink(spark, str(tmp_path / "t"), num_buckets=4)
    ap = TxnBoundaryApplier(spark, sink, str(tmp_path / "txn"))
    markers = _markers(spark, range(last))
    ap.apply(ev, markers)
    r = ap.apply(ev, markers)  # at-least-once redelivery, txn still open
    assert r["open_rows"] == ev.filter(t == last).count()
    held = ap.state_dir.load(ap.state_dir.read(), "pending")
    assert sorted(map(str, held.select(*ev.columns).collect())) == sorted(
        map(str, ev.filter(t == last).collect())
    )
    assert _state(sink) == _clean_state(spark, ev, tmp_path, t < last)
