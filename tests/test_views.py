"""Incremental materialized conversation view (derived-table
maintenance): a refresh pulls the source's version window and
re-derives only the conv_ids it touched; it must converge to a full
reassembly of the base table, including full conversation deletion,
and a refresh with no new source version must be an up-to-date
skip."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from embulk_util_json_spark.pipeline.transcripts import assemble_conversations
from embulk_util_json_spark.pipeline.views import IncrementalConversationView
from embulk_util_json_spark.sinks.snapshot import ParquetSnapshotSink
from embulk_util_json_spark.sources.events import parse_change_events_single_pass


def _env(seq, op, conv, turn, text, ts="2024-03-01 10:00:00"):
    return (
        seq,
        json.dumps(
            {
                "op": op,
                "ts": ts,
                "data": {
                    "conv_id": conv,
                    "turn_idx": turn,
                    "role": "user",
                    "text": text,
                    "tool": None,
                },
            }
        ),
    )


BATCH1 = [
    _env(1, "insert", "cA", 0, "a0"),
    _env(2, "insert", "cA", 1, "a1"),
    _env(3, "insert", "cB", 0, "b0"),
    _env(4, "insert", "cC", 0, "c0"),
]
BATCH2 = [
    _env(5, "update", "cA", 1, "a1v2", ts="2024-03-01 11:00:00"),
    _env(6, "delete", "cC", 0, "c0", ts="2024-03-01 11:00:00"),
    _env(7, "insert", "cD", 0, "d0"),
]


def _setup(spark, tmp_path):
    sink = ParquetSnapshotSink(spark, str(tmp_path / "base"), num_buckets=2)
    view = IncrementalConversationView(spark, sink, str(tmp_path / "view"), num_buckets=2)
    return sink, view


def _apply(spark, sink, rows, batch_id):
    ev = spark.createDataFrame(rows, "seq long, event_json string")
    sink.apply(parse_change_events_single_pass(ev), batch_id)


def _apply_batches(spark, sink, view, batches):
    for i, rows in enumerate(batches):
        _apply(spark, sink, rows, f"b{i}")
        view.refresh()


def _oracle(sink):
    return {
        r.conv_id: (r.document, r.n_turns)
        for r in assemble_conversations(sink.read()).collect()
    }


def _view_state(view):
    return {
        r.conv_id: (r.document, r.n_turns) for r in view.read().collect()
    }


def test_view_converges_to_full_reassembly(spark, tmp_path):
    sink, view = _setup(spark, tmp_path)
    _apply_batches(spark, sink, view, [BATCH1, BATCH2])
    got = _view_state(view)
    assert got == _oracle(sink)
    assert got["cA"] == ("user: a0\nuser: a1v2", 2)
    # cC's only turn was deleted → tombstoned OUT of the view
    assert "cC" not in got
    assert got["cD"] == ("user: d0", 1)


def test_view_refresh_redelivery_is_noop(spark, tmp_path):
    """A redelivered refresh — a second one with no new source
    version — is an up-to-date skip: nothing is committed and the
    view is unchanged."""
    sink, view = _setup(spark, tmp_path)
    _apply_batches(spark, sink, view, [BATCH1, BATCH2])
    before, version = _view_state(view), view.view.current_version()
    res = view.refresh()
    assert res == {
        "skipped": True, "reason": "up-to-date",
        "at_version": sink.current_version(),
    }
    assert view.view.current_version() == version
    assert _view_state(view) == before


def test_refresh_job_count(spark, tmp_path):
    """One refresh over BATCH2's window runs at most 11 Spark jobs
    (counted through a job group and the status tracker). The push
    refresh it replaced, fed the parsed batch, ran 13 over the same
    batches."""
    sink, view = _setup(spark, tmp_path)
    _apply(spark, sink, BATCH1, "b0")
    view.refresh()
    _apply(spark, sink, BATCH2, "b1")
    sc = spark.sparkContext
    group = f"view-refresh-{id(view)}"
    sc.setJobGroup(group, "count the jobs of one view refresh")
    try:
        assert not view.refresh()["skipped"]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 11
    assert _view_state(view) == _oracle(sink)


def test_stream_directory_maintains_view(spark, tmp_path):
    """Streaming tail with a view attached through ``on_batch``: every
    epoch refreshes the touched conversations; after a checkpoint
    restart (new file lands, stream resumes) the view still equals a
    full reassembly."""
    import pyarrow.parquet as pq

    from embulk_util_json_spark.sources.generator import generate_events
    from embulk_util_json_spark.streaming.runner import stream_directory

    table = generate_events(4000, n_convs=25, n_turns=20)
    events_dir = tmp_path / "stream_in"
    events_dir.mkdir()
    pq.write_table(table.slice(0, 2000), str(events_dir / "part-0.parquet"))

    sink, view = _setup(spark, tmp_path)
    ckpt = str(tmp_path / "ckpt")
    def refresh(_sink, _batch_id):
        view.refresh()

    q = stream_directory(spark, str(events_dir), sink, ckpt, on_batch=refresh)
    q.awaitTermination()
    assert view.view.applied_batch_ids()  # view committed its epochs

    pq.write_table(table.slice(2000), str(events_dir / "part-1.parquet"))
    q2 = stream_directory(spark, str(events_dir), sink, ckpt, on_batch=refresh)
    q2.awaitTermination()

    got = _view_state(view)
    assert got == _oracle(sink) and len(got) > 0


def test_late_refresh_converges(spark, tmp_path):
    """One refresh that runs AFTER two source applies (crash between
    apply and refresh, recovery applied the tail first) folds both in
    one window — the view converges."""
    sink, view = _setup(spark, tmp_path)
    _apply(spark, sink, BATCH1, "b0")
    _apply(spark, sink, BATCH2, "b1")  # crash window: b0's refresh never ran
    res = view.refresh()
    assert (res["from_version"], res["to_version"]) == (0, sink.current_version())
    assert _view_state(view) == _oracle(sink)


def test_view_over_patch_mode_base(spark, tmp_path):
    """Incremental view maintenance over a PATCH-MODE base table: the
    probe-pruned source read merges column-level (carry-forward
    through markers and tombstones), so the assembled documents equal
    reassembling the full-history lww_patch state."""
    from embulk_util_json_spark.operators.lww import lww_patch

    M = "__u__"
    ddl = ("conv_id string, turn_idx int, ts long, seq long, "
           "op string, role string, text string, tool string")
    rows = [
        ("c1", 0, 1, 1, "insert", "user", "hello", "search"),
        ("c1", 1, 1, 2, "insert", "asst", "hi", None),
        ("c2", 0, 1, 3, "insert", "user", "yo", None),
        # batch 2: partial updates + a delete
        ("c1", 0, 2, 4, "update", M, "hello v2", M),
        ("c2", 0, 2, 5, "delete", None, None, None),
        # batch 3: revival patch carries pre-delete role forward
        ("c2", 0, 3, 6, "update", M, "revived", M),
    ]
    base = ParquetSnapshotSink(
        spark, str(tmp_path / "base"), num_buckets=2, mode="mor",
        patch_cols=["role", "text", "tool"], unchanged_marker=M,
    )
    view = IncrementalConversationView(spark, base, str(tmp_path / "view"))
    for i, batch in enumerate([rows[:3], rows[3:5], rows[5:]]):
        df = spark.createDataFrame(batch, ddl)
        base.apply(df, f"b{i}")
        view.refresh()

    final = lww_patch(
        spark.createDataFrame(rows, ddl),
        ["conv_id", "turn_idx"], ["ts", "seq"], ["role", "text", "tool"],
        unchanged_marker=M, absent_if=F.col("op") == "delete",
    ).filter(F.col("op") != "delete")
    want = {
        (r.conv_id, r.document, r.n_turns)
        for r in assemble_conversations(final).collect()
    }
    got = {tuple(r) for r in view.read().collect()}
    assert got == want
    # carry-forward reached the document: revived c2 kept role 'user'
    docs = {r.conv_id: r.document for r in view.read().collect()}
    assert "user: revived" in docs["c2"]
    assert "user: hello v2" in docs["c1"]
