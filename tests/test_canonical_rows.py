"""One canonical change-row projection for every dialect and entry point
(``sources/events.canonical_rows``).

Contract under test:

- a value that does not convert (``turn_idx`` ``"zz"``, ``1.5``,
  ``2^40``, an unparseable event time) reads NULL under ANSI SQL
  instead of failing the batch, on the native apply path and on the
  Debezium and Mongo-patch adapters; the quarantine rule (``op`` or
  the first key NULL) is unchanged;
- an epoch event time no timestamp can hold reads NULL in the Maxwell,
  Debezium, Canal and Mongo adapters, and the rewrap fixtures read an
  unparseable native ``ts`` as NULL;
- an unknown ``data`` member reaches ``read()`` as a column through
  every native entry point: segment replay, the ingest facade over a
  binlog or a Kafka-shaped frame, ``parse_kafka_events`` with its
  default parser, and a native published topic;
- the package keeps one projection: every dialect parser calls it,
  and no ``Column.try_cast`` call (absent on PySpark 3.5) appears.
"""

from __future__ import annotations

import ast
import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from embulk_util_json_spark.sinks.snapshot import ParquetSnapshotSink
from embulk_util_json_spark.streaming.runner import apply_events_batch

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "embulk_util_json_spark",
)

TS = "2024-03-01 10:00:0{}"


def _native_env(seq, conv, turn, ts=None, **extra):
    data = {"conv_id": conv, "turn_idx": turn, "role": "u",
            "text": f"t{seq}", "tool": None, **extra}
    return (seq, json.dumps(
        {"op": "insert", "ts": ts or TS.format(seq % 10), "data": data}
    ))


# good rows, three turn_idx values that do not convert to int (each
# under its own conv_id, so each lands as its own (conv, NULL) key), an
# unparseable event time, and one envelope that is not JSON at all
BAD_TURNS = {"c_zz": "zz", "c_frac": 1.5, "c_big": 1099511627776}
MIXED = [
    _native_env(1, "c1", 0),
    _native_env(2, "c1", 1),
    *[_native_env(3 + i, c, t) for i, (c, t) in enumerate(BAD_TURNS.items())],
    _native_env(6, "c_ts", 0, ts="not a time"),
    (7, "{broken json"),
]


@pytest.fixture
def ansi(spark):
    """Run the test under ANSI SQL (the Spark 4 default), whatever the
    session says."""
    key = "spark.sql.ansi.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "true")
    try:
        yield spark
    finally:
        spark.conf.set(key, old)


def _assert_bad_values_read_null(rows):
    got = {r.conv_id: r for r in rows}
    assert got["c1"].turn_idx in (0, 1)
    for conv in BAD_TURNS:
        assert got[conv].turn_idx is None
        assert got[conv].text is not None  # the rest of the row is kept
    assert got["c_ts"].ts is None and got["c_ts"].turn_idx == 0


def test_bad_values_read_null_on_native_apply(ansi, tmp_path):
    spark = ansi
    events = spark.createDataFrame(MIXED, "seq long, event_json string")
    sink = ParquetSnapshotSink(spark, str(tmp_path / "t"), num_buckets=2)
    m = apply_events_batch(
        events, sink, "b0", quarantine_dir=str(tmp_path / "dlq")
    )
    assert m["change_rows"] == len(MIXED)
    # the quarantine rule is unchanged: only the non-JSON row has a
    # NULL op / first key; NULL turn_idx or ts is not malformed
    assert m["malformed_rows"] == 1
    dead = spark.read.parquet(str(tmp_path / "dlq" / "b0")).collect()
    assert [r.seq for r in dead] == [7]
    rows = sink.read().collect()
    assert sorted((r.conv_id, r.turn_idx) for r in rows if r.conv_id == "c1") == [
        ("c1", 0), ("c1", 1),
    ]
    _assert_bad_values_read_null(rows)


def test_bad_values_read_null_in_debezium_adapter(ansi):
    from embulk_util_json_spark.sources.debezium import parse_debezium_events

    spark = ansi
    wire = []
    for seq, text in MIXED:
        try:
            env = json.loads(text)
        except ValueError:
            wire.append((seq, text))
            continue
        source = {"ts_ms": 1709287200000 + seq}
        if env["ts"] == "not a time":
            source = {"ts_ms": "not a time"}
        wire.append((seq, json.dumps(
            {"op": "c", "after": env["data"], "source": source}
        )))
    rows = parse_debezium_events(
        spark.createDataFrame(wire, "seq long, event_json string")
    ).collect()
    assert len(rows) == len(MIXED)
    assert sum(r.op is None for r in rows) == 1
    _assert_bad_values_read_null([r for r in rows if r.op is not None])


def test_bad_values_read_null_in_mongo_patch_adapter(ansi):
    from embulk_util_json_spark.sources.mongo import parse_mongo_patch_events

    spark = ansi
    wire = []
    for seq, text in MIXED:
        try:
            env = json.loads(text)
        except ValueError:
            wire.append((seq, text))
            continue
        d = env["data"]
        wall = "not a time" if env["ts"] == "not a time" else (
            f"2024-03-01T10:00:0{seq % 10}.000Z"
        )
        wire.append((seq, json.dumps({
            "operationType": "insert",
            "wallTime": {"$date": wall},
            "documentKey": {"conv_id": d["conv_id"], "turn_idx": d["turn_idx"]},
            "fullDocument": d,
        })))
    rows = parse_mongo_patch_events(
        spark.createDataFrame(wire, "seq long, event_json string"),
        "__unchanged__",
    ).collect()
    assert len(rows) == len(MIXED)
    assert sum(r.op is None for r in rows) == 1
    _assert_bad_values_read_null([r for r in rows if r.op is not None])


# an epoch event time no timestamp can hold: ×10^6 overflows a long
EPOCH_OVERFLOW = 99999999999999999
GOOD_S = 1709287200  # 2024-03-01 10:00:00 UTC


def _epoch_wire(dialect, conv, t_s, raw=None):
    """One insert of ``conv`` in ``dialect``'s wire format with event
    time ``t_s`` epoch seconds, or the raw epoch number ``raw``."""
    data = {"conv_id": conv, "turn_idx": 0, "role": "u", "text": conv, "tool": None}
    ms = t_s * 1000 if raw is None else raw
    sec = t_s if raw is None else raw
    return {
        "maxwell": {"table": "t", "type": "insert", "ts": sec, "data": data},
        "debezium": {"op": "c", "after": data, "source": {"ts_ms": ms}},
        "canal": {"table": "t", "type": "INSERT", "isDdl": False, "es": ms,
                  "ts": ms, "data": [data]},
        "mongo": {"operationType": "insert",
                  "clusterTime": {"$timestamp": {"t": sec, "i": 1}},
                  "documentKey": {"conv_id": conv, "turn_idx": 0},
                  "fullDocument": data},
    }[dialect]


@pytest.mark.parametrize("dialect", ["canal", "debezium", "maxwell", "mongo"])
def test_epoch_overflow_reads_null(ansi, dialect):
    """An epoch event time outside the timestamp range reads NULL (the
    bare conversion fails the task with ``long overflow``); the other
    rows keep their time."""
    from embulk_util_json_spark.sources.canal import parse_canal_events
    from embulk_util_json_spark.sources.debezium import (
        parse_debezium_events,
        parse_maxwell_events,
    )
    from embulk_util_json_spark.sources.mongo import parse_mongo_changestream

    parse = {
        "canal": parse_canal_events,
        "debezium": parse_debezium_events,
        "maxwell": parse_maxwell_events,
        "mongo": parse_mongo_changestream,
    }[dialect]
    wire = [
        (1, json.dumps(_epoch_wire(dialect, "good", GOOD_S))),
        (2, json.dumps(_epoch_wire(dialect, "bad", 0, raw=EPOCH_OVERFLOW))),
    ]
    rows = parse(
        ansi.createDataFrame(wire, "seq long, event_json string")
    ).collect()
    got = {r.conv_id: r for r in rows}
    assert set(got) == {"good", "bad"}
    assert got["good"].ts.timestamp() == GOOD_S
    assert got["bad"].ts is None and got["bad"].op == "insert"


def test_rewrap_reads_bad_ts_as_null(ansi):
    """A rewrap fixture turns a native ``ts`` that does not parse into a
    NULL event time under ANSI SQL instead of failing the job."""
    from embulk_util_json_spark.sources.debezium import to_debezium_json

    events = ansi.createDataFrame(
        [_native_env(1, "c1", 0), _native_env(2, "c2", 0, ts="not a time")],
        "seq long, event_json string",
    )
    out = {r.seq: json.loads(r.event_json) for r in to_debezium_json(events).collect()}
    assert out[1]["source"]["ts_ms"] is not None
    assert "ts_ms" not in out[2]["source"] and out[2]["after"]["conv_id"] == "c2"


# ---- schema evolution through every native entry point ------------------

EVOLVING = [
    _native_env(1, "c1", 0),
    _native_env(2, "c1", 1, model="m-7"),
    _native_env(3, "c2", 0, model="m-8"),
]


def _models(sink):
    df = sink.read()
    assert "model" in df.columns, df.columns
    return {(r.conv_id, r.turn_idx): r.model for r in df.collect()}


WANT = {("c1", 0): None, ("c1", 1): "m-7", ("c2", 0): "m-8"}


def _write_binlog(path):
    seqs, docs = zip(*EVOLVING)
    pq.write_table(
        pa.table({"seq": pa.array(seqs, pa.int64()), "event_json": pa.array(docs)}),
        path,
    )


def test_replay_segments_evolves(spark, tmp_path):
    from embulk_util_json_spark.streaming.runner import replay_segments

    seg = tmp_path / "segs"
    seg.mkdir()
    _write_binlog(str(seg / "seg-000.parquet"))
    sink = ParquetSnapshotSink(spark, str(tmp_path / "t"), num_buckets=2)
    replay_segments(spark, str(seg), sink)
    assert _models(sink) == WANT


@pytest.mark.parametrize("transport", ["binlog_parquet", "kafka_parquet"])
def test_run_ingest_evolves(spark, tmp_path, transport):
    from embulk_util_json_spark.ingest import run_ingest
    from embulk_util_json_spark.sources.kafka import to_kafka_frame

    src = str(tmp_path / "in")
    events = spark.createDataFrame(EVOLVING, "seq long, event_json string")
    if transport == "binlog_parquet":
        events.write.parquet(src)
    else:
        to_kafka_frame(events, n_partitions=2).write.parquet(src)
    res = run_ingest(spark, {
        "in": {"type": transport, "path": src},
        "merge": {"num_buckets": 2},
        "out": {"root": str(tmp_path / "t")},
        "run": {"num_batches": 2},
    })
    assert _models(res["sink"]) == WANT


def test_parse_kafka_events_default_evolves(spark, tmp_path):
    from embulk_util_json_spark.sources.kafka import (
        parse_kafka_events,
        to_kafka_frame,
    )

    events = spark.createDataFrame(EVOLVING, "seq long, event_json string")
    frame = to_kafka_frame(events, n_partitions=2)
    sink = ParquetSnapshotSink(spark, str(tmp_path / "t"), num_buckets=2)
    sink.apply(parse_kafka_events(frame, n_partitions=2), "k0")
    assert _models(sink) == WANT


@pytest.mark.parametrize("wire", ["native", "debezium"])
def test_read_published_evolves(spark, tmp_path, wire):
    from embulk_util_json_spark.sinks.publish import publish_changes, read_published

    src = ParquetSnapshotSink(spark, str(tmp_path / "s"), num_buckets=2)
    apply_events_batch(
        spark.createDataFrame(EVOLVING, "seq long, event_json string"), src, "b0"
    )
    out = str(tmp_path / "topic")
    publish_changes(src, "exporter", out, wire=wire)
    dst = ParquetSnapshotSink(spark, str(tmp_path / "d"), num_buckets=2)
    dst.apply(read_published(spark, out), "p0")
    assert _models(dst) == WANT


# ---- one projection ------------------------------------------------------


def _package_trees():
    for root, _, files in os.walk(PKG):
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(root, f)
                with open(path) as fh:
                    yield os.path.relpath(path, PKG), ast.parse(fh.read())


def test_no_column_try_cast():
    """``Column.try_cast`` exists only from PySpark 4.0; the SQL
    ``try_cast`` runs on every supported line."""
    hits = [
        f"{rel}:{n.lineno}"
        for rel, tree in _package_trees()
        for n in ast.walk(tree)
        if isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr == "try_cast"
    ]
    assert hits == []


# parse_* functions in sources/ that delegate instead of projecting:
# the Kafka transport hands the payload to a dialect parser, the
# wal2json transaction splitter returns raw rows and markers
DELEGATES = {"parse_kafka_events", "parse_wal2json_txn_stream"}


def test_every_dialect_parser_uses_the_one_projection():
    parsers = {}
    for rel, tree in _package_trees():
        if not rel.startswith("sources" + os.sep):
            continue
        for n in tree.body:
            if isinstance(n, ast.FunctionDef) and n.name.startswith("parse_"):
                parsers[n.name] = (rel, n)
        names = {
            x.id for x in ast.walk(tree) if isinstance(x, ast.Name)
        }
        if rel != os.path.join("sources", "events.py"):
            # _extras is built in canonical_rows only
            assert "EXTRAS_COL" not in names, rel
    assert len(parsers) >= 8, sorted(parsers)
    for name, (rel, fn) in parsers.items():
        if name in DELEGATES:
            continue
        calls = {
            getattr(c.func, "id", getattr(c.func, "attr", None))
            for c in ast.walk(fn)
            if isinstance(c, ast.Call)
        }
        assert "canonical_rows" in calls, f"{rel}:{name}"
