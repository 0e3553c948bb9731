"""End-to-end CDC replay tests: engine final table state must equal a
sequential oracle (FIXTURES.md T5/T6), plus exactly-once, resume,
salted-LWW equivalence, and schema evolution (T7)."""

import json
import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from embulk_util_json_spark.operators.lww import (
    lww_agg,
    lww_patch,
    lww_salted,
    lww_window,
)
from embulk_util_json_spark.sinks.snapshot import ParquetSnapshotSink
from embulk_util_json_spark.sources.events import parse_change_events
from embulk_util_json_spark.sources.generator import generate_events
from embulk_util_json_spark.streaming.runner import (
    apply_events_batch,
    replay_parquet,
    stream_directory,
)

N_EVENTS = 8000


def sequential_oracle(event_rows):
    """Pandas/pure-Python oracle: apply events one at a time in
    (ts, seq) order; delete removes the key. Returns {key: row}."""
    parsed = []
    for seq, ej in event_rows:
        d = json.loads(ej)
        parsed.append((d["ts"], seq, d))
    parsed.sort(key=lambda x: (x[0], x[1]))
    state = {}
    for ts, seq, d in parsed:
        k = (d["data"]["conv_id"], d["data"]["turn_idx"])
        if d["op"] == "delete":
            state.pop(k, None)
        else:
            state[k] = {
                "role": d["data"]["role"],
                "text": d["data"]["text"],
                "tool": d["data"]["tool"],
                "ts": ts,
                "model": d["data"].get("model"),
            }
    return state


@pytest.fixture(scope="module")
def events_table():
    return generate_events(N_EVENTS, n_convs=40, n_turns=30)


@pytest.fixture(scope="module")
def events_parquet(events_table, tmp_path_factory):
    import pyarrow.parquet as pq

    path = str(tmp_path_factory.mktemp("events") / "events.parquet")
    pq.write_table(events_table, path)
    return path


@pytest.fixture(scope="module")
def oracle_state(events_table):
    return sequential_oracle(
        zip(
            events_table.column("seq").to_pylist(),
            events_table.column("event_json").to_pylist(),
        )
    )


def state_from_sink(sink):
    rows = sink.read().collect()
    return {
        (r.conv_id, r.turn_idx): (r.role, r.text, r.tool, r.ts.isoformat())
        for r in rows
    }


def assert_matches_oracle(sink, oracle_state):
    got = state_from_sink(sink)
    want = {
        k: (v["role"], v["text"], v["tool"], v["ts"].replace("Z", ""))
        for k, v in oracle_state.items()
    }
    assert len(got) == len(want)
    mismatches = {k: (got.get(k), want[k]) for k in want if got.get(k) != want[k]}
    assert not mismatches, f"{len(mismatches)} mismatching keys, e.g. {list(mismatches.items())[:3]}"


def test_lww_variants_equivalent(spark, events_parquet, tmp_path):
    ev = spark.read.parquet(events_parquet)
    ch = parse_change_events(ev)
    keys = ["conv_id", "turn_idx"]
    order = ["ts", "seq"]
    a = lww_agg(ch, keys, order)
    w = lww_window(ch, keys, order)
    s = lww_salted(ch, keys, order, salt_buckets=8)
    cols = ["conv_id", "turn_idx", "op", "seq"]
    ra = sorted(map(tuple, a.select(cols).collect()))
    rw = sorted(map(tuple, w.select(cols).collect()))
    rs = sorted(map(tuple, s.select(cols).collect()))
    assert ra == rw == rs

    # a payload column named with a dot is one column, not a struct
    # field access: every variant and a two-level MOR read agree
    rows = [
        ("k1", 1, 1, "insert", "x1"),
        ("k1", 2, 2, "update", "x2"),
        ("k2", 1, 3, "insert", "y1"),
        ("k2", 1, 4, "delete", "y2"),
        ("k3", 5, 5, "insert", "z1"),
    ]
    dot = spark.createDataFrame(
        rows, "conv_id string, ts long, seq long, op string, `a.b` string"
    )
    by_name = [F.col(f"`{c}`") for c in dot.columns]
    k = ["conv_id"]
    want = sorted(map(tuple, lww_window(dot, k, order).collect()))
    for got in (
        lww_agg(dot, k, order),
        lww_salted(dot, k, order, salt_buckets=4),
        lww_patch(dot, k, order, ["a.b"]),
    ):
        assert sorted(map(tuple, got.select(by_name).collect())) == want
    sink = ParquetSnapshotSink(
        spark, str(tmp_path / "dotted"), num_buckets=2, keys=k, mode="mor"
    )
    sink.apply(dot.filter("seq <= 3"), "b0")
    v1 = sink.current_version()
    sink.apply(dot.filter("seq >= 3"), "b1")
    live = [(r[0], r[4]) for r in want if r[3] != "delete"]
    got = sink.read().select("conv_id", F.col("`a.b`")).collect()
    assert sorted(map(tuple, got)) == live
    got = sink.read(columns=["a.b"]).select("conv_id", F.col("`a.b`")).collect()
    assert sorted(map(tuple, got)) == live
    # b1 deletes k2 (its old row y1 is the preimage) and inserts k3
    got = sink.read_changes(v1, include_preimage=True).select(
        "conv_id", F.col("`a.b`"), "_change"
    )
    assert sorted(map(tuple, got.collect())) == [
        ("k2", "y1", "preimage"), ("k2", "y2", "postimage"),
        ("k3", "z1", "postimage"),
    ]
    # patch mode, with the dotted column as its patch column: the feed
    # holds exactly the keys whose resolved row changed
    patch = ParquetSnapshotSink(
        spark, str(tmp_path / "dotted_patch"), num_buckets=2, keys=k,
        mode="mor", patch_cols=["a.b"],
    )
    patch.apply(dot.filter("seq <= 3"), "b0")
    v1 = patch.current_version()
    patch.apply(dot.filter("seq >= 3"), "b1")

    def resolved(df):
        rows = lww_patch(
            df, k, order, ["a.b"], absent_if=F.col("op") == "delete"
        ).select(by_name)
        return {r[0]: tuple(r) for r in rows.collect()}

    old, new = resolved(dot.filter("seq <= 3")), resolved(dot)
    got = patch.read_changes(v1).select(by_name).collect()
    assert sorted(map(tuple, got)) == sorted(
        v for key, v in new.items() if old.get(key) != v
    )


def test_single_batch_replay_matches_oracle(spark, events_parquet, oracle_state, tmp_path):
    sink = ParquetSnapshotSink(spark, str(tmp_path / "t1"), num_buckets=8)
    metrics = replay_parquet(spark, events_parquet, sink, num_batches=1)
    assert metrics[0]["change_rows"] > 0
    assert_matches_oracle(sink, oracle_state)


def test_multi_batch_replay_matches_oracle(spark, events_parquet, oracle_state, tmp_path):
    sink = ParquetSnapshotSink(spark, str(tmp_path / "t2"), num_buckets=8)
    replay_parquet(spark, events_parquet, sink, num_batches=5)
    assert_matches_oracle(sink, oracle_state)
    # stable turn ordering check: per-conversation turn_idx is sorted & unique
    df = sink.read().orderBy("conv_id", "turn_idx").collect()
    seen = set()
    for r in df:
        assert (r.conv_id, r.turn_idx) not in seen
        seen.add((r.conv_id, r.turn_idx))


def test_reapply_batch_is_noop(spark, events_parquet, oracle_state, tmp_path):
    sink = ParquetSnapshotSink(spark, str(tmp_path / "t3"), num_buckets=4)
    m1 = replay_parquet(spark, events_parquet, sink, num_batches=2)
    v1 = sink.current_version()
    m2 = replay_parquet(spark, events_parquet, sink, num_batches=2)
    assert all(m.get("skipped") for m in m2)
    assert sink.current_version() == v1
    assert_matches_oracle(sink, oracle_state)


def test_resume_from_partial_replay(spark, events_parquet, oracle_state, tmp_path):
    # "replay from any checkpoint reproduces the final state": apply
    # only the first 2 of 5 ranges (simulated crash), then rerun all 5.
    sink = ParquetSnapshotSink(spark, str(tmp_path / "t4"), num_buckets=4)
    ev = spark.read.parquet(events_parquet)
    hi = ev.agg(F.max("seq")).collect()[0][0]
    import math

    step = math.ceil((hi + 1) / 5)
    for i in range(2):
        batch = ev.filter((F.col("seq") >= i * step) & (F.col("seq") < (i + 1) * step))
        apply_events_batch(batch, sink, f"seq-{i * step}-{min((i + 1) * step, hi + 1)}")
    replay_parquet(spark, events_parquet, sink, num_batches=5)
    assert_matches_oracle(sink, oracle_state)


def test_out_of_order_batches_converge(spark, events_parquet, oracle_state, tmp_path):
    # LWW + tombstone retention ⇒ batch application order cannot matter.
    sink = ParquetSnapshotSink(spark, str(tmp_path / "t5"), num_buckets=4)
    ev = spark.read.parquet(events_parquet)
    hi = ev.agg(F.max("seq")).collect()[0][0]
    import math

    step = math.ceil((hi + 1) / 4)
    for i in (2, 0, 3, 1):  # shuffled order
        batch = ev.filter((F.col("seq") >= i * step) & (F.col("seq") < (i + 1) * step))
        apply_events_batch(batch, sink, f"shuf-{i}")
    assert_matches_oracle(sink, oracle_state)


def test_schema_evolution_additive(spark, tmp_path):
    import pyarrow.parquet as pq

    t = generate_events(4000, n_convs=20, n_turns=20, evolve_after=0.5)
    path = str(tmp_path / "evo.parquet")
    pq.write_table(t, path)
    sink = ParquetSnapshotSink(spark, str(tmp_path / "t6"), num_buckets=4)
    # two batches: pre-cutover events (no model field), then post-cutover
    replay_parquet(spark, path, sink, num_batches=2)
    out = sink.read()
    assert "model" in out.columns  # column added additively
    rows = out.collect()
    assert any(r.model == "m-2" for r in rows)
    assert any(r.model is None for r in rows)  # old rows NULL
    # oracle equality incl. the evolved column
    oracle = sequential_oracle(
        zip(t.column("seq").to_pylist(), t.column("event_json").to_pylist())
    )
    got = {
        (r.conv_id, r.turn_idx): (r.role, r.text, r.tool, r.model) for r in rows
    }
    want = {k: (v["role"], v["text"], v["tool"], v["model"]) for k, v in oracle.items()}
    assert got == want


def test_malformed_events_quarantined(spark, tmp_path):
    df = spark.createDataFrame(
        [
            (0, '{"op":"insert","ts":"2024-01-01T00:00:00","data":{"conv_id":"c1","turn_idx":0,"role":"user","text":"hi","tool":null}}'),
            (1, "{broken json"),
            (2, '{"op":"insert","ts":"2024-01-01T00:00:01","data":{"conv_id":"c1","turn_idx":1,"role":"assistant","text":"yo","tool":null}}'),
        ],
        "seq long, event_json string",
    )
    sink = ParquetSnapshotSink(spark, str(tmp_path / "t7"), num_buckets=2)
    m = apply_events_batch(df, sink, "b0")
    assert m["change_rows"] == 3  # all rows staged (no pre-parse filter)
    assert m["malformed_rows"] == 1  # quarantine metric from observe()
    assert sink.read().count() == 2  # junk row never surfaces


def test_streaming_foreachbatch_and_checkpoint_resume(spark, tmp_path, events_table):
    import pyarrow.parquet as pq

    events_dir = tmp_path / "stream_in"
    events_dir.mkdir()
    n = events_table.num_rows
    pq.write_table(events_table.slice(0, n // 2), str(events_dir / "part-0.parquet"))

    sink = ParquetSnapshotSink(spark, str(tmp_path / "t8"), num_buckets=4)
    ckpt = str(tmp_path / "ckpt")
    q = stream_directory(spark, str(events_dir), sink, ckpt)
    q.awaitTermination()
    n_batches_1 = len(sink.applied_batch_ids())
    assert n_batches_1 >= 1

    # new file lands; restart from checkpoint (resume) — availableNow
    pq.write_table(events_table.slice(n // 2), str(events_dir / "part-1.parquet"))
    q2 = stream_directory(spark, str(events_dir), sink, ckpt)
    q2.awaitTermination()
    assert len(sink.applied_batch_ids()) > n_batches_1

    oracle = sequential_oracle(
        zip(
            events_table.column("seq").to_pylist(),
            events_table.column("event_json").to_pylist(),
        )
    )
    assert_matches_oracle(sink, oracle)


def test_bootstrap_snapshot_handoff_bit_exact(spark, events_parquet, oracle_state, tmp_path):
    """Debezium-style initial load: snapshot-at-watermark + tail replay
    must equal a full replay bit-for-bit (tombstones carried across the
    handoff make it exact even under out-of-order event time)."""
    from embulk_util_json_spark.streaming.runner import bootstrap_snapshot

    events = spark.read.parquet(events_parquet)
    w = N_EVENTS // 2

    full = ParquetSnapshotSink(spark, str(tmp_path / "full"), num_buckets=8)
    replay_parquet(spark, events_parquet, full, num_batches=2)

    prefix = ParquetSnapshotSink(spark, str(tmp_path / "prefix"), num_buckets=8)
    apply_events_batch(events.filter(F.col("seq") <= w), prefix, "prefix")
    snap = prefix.read(include_tombstones=True, include_meta=True)

    boot = ParquetSnapshotSink(
        spark, str(tmp_path / "boot"), num_buckets=8, mode="mor"
    )
    bootstrap_snapshot(boot, snap, w)
    replay_parquet(spark, events_parquet, boot, num_batches=2, min_seq=w + 1)

    assert_matches_oracle(boot, oracle_state)
    cols = sorted(full.read().columns)
    assert sorted(boot.read().columns) == cols
    got = {
        (r["conv_id"], r["turn_idx"]): tuple(r[c] for c in cols)
        for r in boot.read().collect()
    }
    want = {
        (r["conv_id"], r["turn_idx"]): tuple(r[c] for c in cols)
        for r in full.read().collect()
    }
    assert got == want


def test_bootstrap_plain_snapshot_defaults(spark, tmp_path):
    """A payload-only snapshot (no op/seq/extras) bootstraps with
    op='insert', seq=watermark; tail events with seq > watermark win
    iff their (ts, seq) beats the snapshot row's (own ts, watermark)."""
    from embulk_util_json_spark.streaming.runner import bootstrap_snapshot

    snap = spark.createDataFrame(
        [
            ("c1", 0, "user", "hello", None, "2024-01-01T00:00:10"),
            ("c1", 1, "assistant", "hi", "search", "2024-01-01T00:00:20"),
        ],
        "conv_id string, turn_idx int, role string, text string, tool string, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    sink = ParquetSnapshotSink(spark, str(tmp_path / "s"), num_buckets=4)
    bootstrap_snapshot(sink, snap, 100)

    tail = spark.createDataFrame(
        [
            # newer ts -> wins
            (101, '{"op":"update","ts":"2024-01-01T00:00:30","data":{"conv_id":"c1","turn_idx":0,"role":"user","text":"hello v2","tool":null}}'),
            # older ts than the snapshot row -> loses despite higher seq
            (102, '{"op":"update","ts":"2024-01-01T00:00:05","data":{"conv_id":"c1","turn_idx":1,"role":"assistant","text":"stale","tool":null}}'),
        ],
        "seq long, event_json string",
    )
    apply_events_batch(tail, sink, "tail")
    got = {(r.conv_id, r.turn_idx): r.text for r in sink.read().collect()}
    assert got == {("c1", 0): "hello v2", ("c1", 1): "hi"}


def _mt_ev(seq, table, conv, turn, text, ts="2024-01-01T00:00:01", op="insert"):
    return (
        seq,
        json.dumps(
            {
                "table": table,
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


def test_route_tables_demux(spark, tmp_path):
    """Multiplexed stream → per-table sinks: one parse, per-table
    exactly-once, unknown/missing table counted as unrouted."""
    from embulk_util_json_spark.streaming.runner import route_tables

    rows = [
        _mt_ev(1, "transcripts", "c1", 0, "a"),
        _mt_ev(2, "transcripts", "c1", 1, "b"),
        _mt_ev(3, "audit", "c9", 0, "audit-row"),
        _mt_ev(4, "unknown_tbl", "cx", 0, "lost"),
        (5, json.dumps({"op": "insert", "ts": "2024-01-01T00:00:01",
                        "data": {"conv_id": "cy", "turn_idx": 0, "role": "user",
                                 "text": "no table", "tool": None}})),
    ]
    df = spark.createDataFrame(rows, "seq long, event_json string")
    sinks = {
        "transcripts": ParquetSnapshotSink(
            spark, str(tmp_path / "transcripts"), num_buckets=2
        ),
        "audit": ParquetSnapshotSink(spark, str(tmp_path / "audit"), num_buckets=2),
    }
    out = route_tables(df, sinks, "b0")
    assert out["unrouted_rows"] == 2
    assert {r.conv_id for r in sinks["transcripts"].read().collect()} == {"c1"}
    assert {r.text for r in sinks["audit"].read().collect()} == {"audit-row"}
    assert sinks["transcripts"].applied_batch_ids() == ["b0:transcripts"]

    # redelivery of the same batch id is a per-table no-op
    out2 = route_tables(df, sinks, "b0")
    assert out2["tables"]["transcripts"]["skipped"]
    assert sinks["transcripts"].read().count() == 2


def test_route_tables_resume_after_partial_crash(spark, tmp_path):
    """Crash after table A committed but before table B: re-routing the
    batch skips A and applies B — exactly-once stays per-table."""
    from embulk_util_json_spark.streaming.runner import route_tables

    rows = [
        _mt_ev(1, "a", "c1", 0, "x"),
        _mt_ev(2, "b", "c2", 0, "y"),
    ]
    df = spark.createDataFrame(rows, "seq long, event_json string")
    sink_a = ParquetSnapshotSink(spark, str(tmp_path / "a"), num_buckets=2)
    sink_b = ParquetSnapshotSink(spark, str(tmp_path / "b"), num_buckets=2)

    # only route table a (simulates crash before b was reached)
    route_tables(df, {"a": sink_a}, "b0")
    assert sink_a.read().count() == 1 and sink_b.read().count() == 0

    out = route_tables(df, {"a": sink_a, "b": sink_b}, "b0")
    assert out["tables"]["a"].get("skipped")
    assert "skipped" not in out["tables"]["b"]
    assert sink_a.read().count() == 1 and sink_b.read().count() == 1


def test_stream_directory_multi_demux_and_resume(spark, tmp_path):
    """Streaming demux: a multiplexed directory tails into per-table
    sinks; checkpoint restart with a new file applies only the new
    epoch, per-table exactly-once intact."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from embulk_util_json_spark.streaming.runner import stream_directory_multi

    def write(rows, path):
        seqs, js = zip(*rows)
        pq.write_table(
            pa.table(
                {"seq": pa.array(seqs, pa.int64()), "event_json": pa.array(js)}
            ),
            str(path),
        )

    src = tmp_path / "in"
    src.mkdir()
    write(
        [
            _mt_ev(1, "transcripts", "c1", 0, "a"),
            _mt_ev(2, "audit", "c2", 0, "b"),
        ],
        src / "f1.parquet",
    )
    sinks = {
        "transcripts": ParquetSnapshotSink(
            spark, str(tmp_path / "t"), num_buckets=2
        ),
        "audit": ParquetSnapshotSink(spark, str(tmp_path / "a"), num_buckets=2),
    }
    ckpt = str(tmp_path / "ckpt")
    q = stream_directory_multi(spark, str(src), sinks, ckpt)
    q.awaitTermination()
    assert sinks["transcripts"].read().count() == 1
    assert sinks["audit"].read().count() == 1

    write([_mt_ev(3, "audit", "c3", 0, "c")], src / "f2.parquet")
    q2 = stream_directory_multi(spark, str(src), sinks, ckpt)
    q2.awaitTermination()
    assert sinks["transcripts"].read().count() == 1
    assert sinks["audit"].read().count() == 2
    # per-table batch ids are epoch-scoped
    assert all(
        b.startswith("ckpt-epoch-") for b in sinks["audit"].applied_batch_ids()
    )


def test_quarantine_dead_letter_raw_rows(spark, tmp_path):
    """Malformed envelopes are dead-lettered as RAW (seq, event_json)
    rows — only when the batch actually had any (clean batches pay no
    extra scan) — and replays of a committed batch don't rewrite."""
    from embulk_util_json_spark.streaming.runner import apply_events_batch

    rows = [
        (1, '{"op":"insert","ts":"2024-01-01T00:00:01","data":{"conv_id":"c1","turn_idx":0,"role":"user","text":"ok","tool":null}}'),
        (2, 'this is not json at all'),
        (3, '{"op":"update","ts":"2024-01-01T00:00:02","data":{"turn_idx":1}}'),  # no conv_id
        (4, '{"op":"insert","ts":"2024-01-01T00:00:03","data":{"conv_id":"c2","turn_idx":0,"role":"user","text":"ok2","tool":null}}'),
    ]
    df = spark.createDataFrame(rows, "seq long, event_json string")
    sink = ParquetSnapshotSink(spark, str(tmp_path / "t"), num_buckets=2)
    qdir = str(tmp_path / "dead")
    out = apply_events_batch(df, sink, "b0", quarantine_dir=qdir)
    assert out["malformed_rows"] == 2
    assert out["quarantined_to"] == qdir

    dead = spark.read.parquet(qdir + "/b0").orderBy("seq").collect()
    assert [r.seq for r in dead] == [2, 3]
    assert dead[0].event_json == "this is not json at all"
    assert sink.read().count() == 2

    # replay of the committed batch: no-op, quarantine untouched
    out2 = apply_events_batch(df, sink, "b0", quarantine_dir=qdir)
    assert out2.get("skipped")

    # clean batch: no quarantine subdir is written
    clean = spark.createDataFrame([rows[0]], "seq long, event_json string")
    out3 = apply_events_batch(clean, sink, "b1", quarantine_dir=qdir)
    assert "quarantined_to" not in out3
    assert sorted(os.listdir(qdir)) == ["b0"]


def test_replay_segments_min_seq_skips_whole_segments(spark, tmp_path):
    """Segments wholly below the bootstrap watermark never enter the
    plan (footer-stat skip); the straddling segment is filtered; state
    equals a full tail replay."""
    from embulk_util_json_spark.sources.generator import ensure_events_segments
    from embulk_util_json_spark.streaming.runner import replay_segments

    seg_dir = ensure_events_segments(
        str(tmp_path / "segs"), 4000, segments=8, n_convs=20, n_turns=10
    )
    w = 2500
    sink = ParquetSnapshotSink(spark, str(tmp_path / "t"), num_buckets=4)
    out = replay_segments(spark, seg_dir, sink, num_batches=8, min_seq=w)
    # 8 segments of 500 seqs: segments 0-4 (seq<2500) must be skipped
    applied = sink.applied_batch_ids()
    assert len(applied) <= 4, applied
    assert all(f"@{w}" in b for b in applied)

    ref = ParquetSnapshotSink(spark, str(tmp_path / "ref"), num_buckets=4)
    ev = spark.read.parquet(seg_dir).filter(F.col("seq") >= w)
    apply_events_batch(ev, ref, "tail")
    got = sorted(map(tuple, sink.read().collect()))
    want = sorted(map(tuple, ref.read().collect()))
    assert got == want and len(got) > 0


def test_replay_quarantine_repairs_and_drains(spark, tmp_path):
    """DLQ repair & replay: a fixer that repairs some dead rows
    re-applies them exactly-once; still-bad rows move to a
    generational residual dir carrying the ORIGINAL wire bytes; a
    second pass with a better fixer drains the queue fully; further
    passes are no-ops."""
    from embulk_util_json_spark.streaming.runner import replay_quarantine

    rows = [
        (1, '{"op":"insert","ts":"2024-01-01T00:00:01","data":{"conv_id":"c1","turn_idx":0,"role":"user","text":"ok","tool":null}}'),
        (2, 'garbage GARBLE {"op":"insert","ts":"2024-01-01T00:00:02","data":{"conv_id":"c2","turn_idx":0,"role":"user","text":"fixed","tool":null}}'),
        (3, '{"op":"update","ts":"2024-01-01T00:00:03","data":{"turn_idx":1}}'),
        (4, '{"op":"insert","ts":"2024-01-01T00:00:04","data":{"conv_id":"c3","turn_idx":0,"role":"user","text":"ok2","tool":null}}'),
    ]
    df = spark.createDataFrame(rows, "seq long, event_json string")
    sink = ParquetSnapshotSink(spark, str(tmp_path / "t"), num_buckets=2)
    qdir = str(tmp_path / "dead")
    out = apply_events_batch(df, sink, "b0", quarantine_dir=qdir)
    assert out["malformed_rows"] == 2
    assert sink.read().count() == 2

    def strip_garbage(raw):
        return raw.withColumn(
            "event_json", F.regexp_replace("event_json", "^garbage GARBLE ", "")
        )

    r1 = replay_quarantine(spark, qdir, sink, repair_fn=strip_garbage)
    assert r1["batches"] == 1
    assert r1["repaired_rows"] == 1 and r1["still_dead_rows"] == 1
    assert sink.read().count() == 3  # c2 repaired in
    assert sorted(os.listdir(qdir)) == ["b0.r1"]
    # residual carries the ORIGINAL bytes of the still-bad row
    dead = spark.read.parquet(qdir + "/b0.r1").collect()
    assert [r.seq for r in dead] == [3]
    assert dead[0].event_json == rows[2][1]

    def supply_conv_id(raw):
        fixed = '{"op":"update","ts":"2024-01-01T00:00:03","data":{"conv_id":"c1","turn_idx":1,"role":"user","text":"late","tool":null}}'
        return raw.withColumn(
            "event_json",
            F.when(F.col("seq") == 3, F.lit(fixed)).otherwise(F.col("event_json")),
        )

    r2 = replay_quarantine(spark, qdir, sink, repair_fn=supply_conv_id)
    assert r2["repaired_rows"] == 1 and r2["still_dead_rows"] == 0
    assert os.listdir(qdir) == []
    assert sink.read().count() == 4

    # fully drained: a further pass is a no-op
    r3 = replay_quarantine(spark, qdir, sink, repair_fn=supply_conv_id)
    assert r3["batches"] == 0

    # final state equals a clean replay of the fully-repaired stream
    ref = ParquetSnapshotSink(spark, str(tmp_path / "ref"), num_buckets=2)
    apply_events_batch(supply_conv_id(strip_garbage(df)), ref, "all")
    assert sorted(map(tuple, sink.read().collect())) == sorted(
        map(tuple, ref.read().collect())
    )


def test_replay_quarantine_crash_between_apply_and_cleanup(spark, tmp_path, monkeypatch):
    """Crash window: the repair batch commits but the drained dir is
    never removed. The rerun must not double-apply (sink-idempotent
    batch id), must rewrite the same residual deterministically, and
    must finish the interrupted cleanup — final state identical to an
    uninterrupted drain."""
    import shutil as _shutil

    from embulk_util_json_spark.streaming import runner as runner_mod
    from embulk_util_json_spark.streaming.runner import replay_quarantine

    rows = [
        (1, '{"op":"insert","ts":"2024-01-01T00:00:01","data":{"conv_id":"c1","turn_idx":0,"role":"user","text":"ok","tool":null}}'),
        (2, 'junk {"op":"insert","ts":"2024-01-01T00:00:02","data":{"conv_id":"c2","turn_idx":0,"role":"user","text":"fixed","tool":null}}'),
        (3, '{"op":"update","ts":"2024-01-01T00:00:03","data":{"turn_idx":1}}'),
    ]
    df = spark.createDataFrame(rows, "seq long, event_json string")
    sink = ParquetSnapshotSink(spark, str(tmp_path / "t"), num_buckets=2)
    qdir = str(tmp_path / "dead")
    apply_events_batch(df, sink, "b0", quarantine_dir=qdir)

    def strip(raw):
        return raw.withColumn(
            "event_json", F.regexp_replace("event_json", "^junk ", "")
        )

    real_rmtree = _shutil.rmtree
    calls = {"n": 0}

    def crashing_rmtree(path, *a, **kw):
        calls["n"] += 1
        raise OSError("simulated crash before cleanup")

    monkeypatch.setattr(runner_mod.shutil if hasattr(runner_mod, "shutil") else _shutil, "rmtree", crashing_rmtree)
    with pytest.raises(OSError):
        replay_quarantine(spark, qdir, sink, repair_fn=strip)
    monkeypatch.setattr(_shutil, "rmtree", real_rmtree)

    # batch committed, residual written, original dir still present
    assert calls["n"] == 1
    assert sorted(os.listdir(qdir)) == ["b0", "b0.r1"]
    assert sink.read().count() == 2  # c2 applied exactly once

    # rerun completes the drain; nothing double-applies
    r = replay_quarantine(spark, qdir, sink, repair_fn=strip)
    assert sink.read().count() == 2
    assert sorted(os.listdir(qdir)) == ["b0.r1", "b0.r1.r1"] or sorted(
        os.listdir(qdir)
    ) == ["b0.r1.r1"]
    # the still-bad row survives in exactly one live residual dir
    live = sorted(os.listdir(qdir))[-1]
    dead = spark.read.parquet(os.path.join(qdir, live)).collect()
    assert [r2.seq for r2 in dead] == [3]


def test_route_tables_mixed_patch_and_row_level_sinks(spark, tmp_path):
    """Demux into sinks with DIFFERENT merge configs: transcripts in
    patch mode (marker-patterned partial updates, column-level LWW),
    audit row-level — one shared parse, each sink merges its slice
    under its own manifest-committed config."""
    M = "__unchanged__"

    def ev(seq, table, ts, op, conv, turn, role, text, tool):
        return (seq, json.dumps({
            "table": table, "op": op, "ts": f"2024-01-01T00:00:{ts:02d}",
            "data": {"conv_id": conv, "turn_idx": turn,
                     "role": role, "text": text, "tool": tool},
        }))

    rows = [
        ev(1, "transcripts", 1, "insert", "c1", 0, "user", "hello", "search"),
        # partial update: only text changes; role/tool carried forward
        ev(2, "transcripts", 2, "update", "c1", 0, M, "hello v2", M),
        ev(3, "audit", 1, "insert", "a1", 0, "sys", "created", None),
        ev(4, "audit", 2, "update", "a1", 0, "sys", "updated", None),
    ]
    from embulk_util_json_spark.streaming.runner import route_tables

    sinks = {
        "transcripts": ParquetSnapshotSink(
            spark, str(tmp_path / "t"), num_buckets=2, mode="mor",
            patch_cols=["role", "text", "tool"], unchanged_marker=M,
        ),
        "audit": ParquetSnapshotSink(
            spark, str(tmp_path / "a"), num_buckets=2, mode="mor"
        ),
    }
    df = spark.createDataFrame(rows, "seq long, event_json string")
    route_tables(df, sinks, "b0")
    t = {(r.conv_id, r.turn_idx): (r.role, r.text, r.tool)
         for r in sinks["transcripts"].read().collect()}
    # column-level LWW: role/tool carried through the marker update
    assert t == {("c1", 0): ("user", "hello v2", "search")}
    a = {(r.conv_id, r.turn_idx): r.text
         for r in sinks["audit"].read().collect()}
    # row-level LWW: whole payload replaced
    assert a == {("a1", 0): "updated"}
