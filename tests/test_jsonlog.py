"""Durable JSON metadata (``sinks/jsonlog``) and every caller of it.

The crash window of a metadata write is the publish step itself
(``os.link`` / ``os.replace``). For every caller, a fault injected
there must leave the previous metadata reading back byte-identical,
leave no temp file behind, and let the next call succeed. A process
killed mid-write (no cleanup at all) must leave nothing a later
reader trips over. A guard keeps the package from growing a new
hand-rolled write outside ``jsonlog``, and another keeps the stateful
appliers and views on ``jsonlog.StateDir``.
"""

from __future__ import annotations

import ast
import builtins
import datetime
import errno
import os
import pathlib

import pytest
from pyspark.sql import functions as F

import embulk_util_json_spark
from embulk_util_json_spark.sinks.snapshot import ParquetSnapshotSink
from embulk_util_json_spark.sinks.txn import TransactionLog


def _rows(spark, lo, hi):
    return spark.createDataFrame(
        [
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
        ],
        "conv_id string, turn_idx int, role string, text string, "
        "ts timestamp, op string, seq long",
    )


def _sink(spark, root, applies=1):
    sink = ParquetSnapshotSink(
        spark, str(root), num_buckets=2, keys=["conv_id", "turn_idx"],
        order_cols=["ts", "seq"], mode="mor",
    )
    for i in range(applies):
        sink.apply(_rows(spark, 10 * i, 10 * i + 10), f"b{i}")
    return sink


# Each case: setup(spark, tmp_path) -> (metadata dir, failing call,
# retry + check). setup leaves the caller's previous metadata in place.


def _manifest(spark, tmp_path):
    sink = _sink(spark, tmp_path / "t")

    def retry():
        sink.apply(_rows(spark, 10, 20), "b1")
        assert sink.current_version() == 2
        assert sink.read().count() == 12

    return (
        tmp_path / "t" / "_manifests",
        lambda: sink.apply(_rows(spark, 10, 20), "b1"),
        retry,
    )


def _tag(spark, tmp_path):
    sink = _sink(spark, tmp_path / "t")
    sink.create_tag("first")

    def retry():
        sink.create_tag("second")
        assert set(sink.tags()) == {"first", "second"}

    return tmp_path / "t" / "_tags", lambda: sink.create_tag("second"), retry


def _txn_record(spark, tmp_path):
    log = TransactionLog(str(tmp_path / "x"))
    log.txn_apply({}, {}, "t1")

    def retry():
        log.txn_apply({}, {}, "t2")
        assert log.current_seq() == 2
        assert log.pending_intents() == {}

    return tmp_path / "x" / "_txns", lambda: log.txn_apply({}, {}, "t2"), retry


def _txn_intent(spark, tmp_path):
    log = TransactionLog(str(tmp_path / "x"))
    log.txn_apply({}, {}, "t1")

    def retry():
        log.txn_apply({}, {}, "t2")
        assert log.current_seq() == 2

    return (
        tmp_path / "x" / "_txns" / "pending",
        lambda: log.txn_apply({}, {}, "t2"),
        retry,
    )


def _cursor(spark, tmp_path):
    from embulk_util_json_spark.sinks.feed import FeedCursor, cursors

    sink = _sink(spark, tmp_path / "t", applies=0)
    cur = FeedCursor(sink, "c")
    cur.reset(1)

    def retry():
        cur.reset(2)
        assert cursors(sink) == {"c": 2}

    return tmp_path / "t" / "_cursors", lambda: cur.reset(2), retry


def _published(spark, tmp_path):
    from embulk_util_json_spark.sinks.publish import (
        publish_changes,
        published_segments,
    )

    sink = _sink(spark, tmp_path / "t")
    out = str(tmp_path / "pub")
    publish_changes(sink, "p", out)
    sink.apply(_rows(spark, 10, 20), "b1")

    def retry():
        publish_changes(sink, "p", out)
        assert [s["to_version"] for s in published_segments(out)] == [1, 2]

    return tmp_path / "pub", lambda: publish_changes(sink, "p", out), retry


def _compacted(spark, tmp_path):
    from embulk_util_json_spark.sinks.publish import (
        compact_published,
        publish_changes,
        published_segments,
    )

    sink = _sink(spark, tmp_path / "t")
    out = str(tmp_path / "pub")
    publish_changes(sink, "p", out)
    for i in (1, 2):
        sink.apply(_rows(spark, 10 * i, 10 * i + 10), f"b{i}")
        publish_changes(sink, "p", out)

    def retry():
        assert compact_published(spark, out)["folded"] == 2
        segs = published_segments(out)
        assert [s.get("compacted", False) for s in segs] == [True, False]

    return tmp_path / "pub", lambda: compact_published(spark, out), retry


def _state_case(make, first, second):
    def setup(spark, tmp_path):
        obj = make(spark, _sink(spark, tmp_path / "t", applies=0), tmp_path / "w")
        obj.state_dir.publish(first)

        def retry():
            obj.state_dir.publish(second)
            assert obj.state_dir.read() == second

        return tmp_path / "w", lambda: obj.state_dir.publish(second), retry

    return setup


def _fenced(spark, sink, path):
    from embulk_util_json_spark.streaming.fenced import FencedApplier

    return FencedApplier(spark, sink, str(path))


def _txn_boundary(spark, sink, path):
    from embulk_util_json_spark.streaming.txn_boundary import TxnBoundaryApplier

    return TxnBoundaryApplier(spark, sink, str(path))


def _agg_view(spark, sink, path):
    from embulk_util_json_spark.pipeline.agg_view import IncrementalAggView

    return IncrementalAggView(spark, str(path), sink, ["conv_id"], {"n": F.lit(1)})


def _savepoint(spark, tmp_path):
    from embulk_util_json_spark.sinks.savepoint import (
        export_savepoint,
        import_savepoint,
    )

    sink = _sink(spark, tmp_path / "t")
    out = tmp_path / "sp"

    def retry():
        # a half-exported destination is not a savepoint; exporting
        # needs an empty destination, so the retry starts afresh
        with pytest.raises(ValueError, match="not a savepoint"):
            import_savepoint(spark, str(out))
        export_savepoint(sink, str(tmp_path / "sp2"))
        assert import_savepoint(spark, str(tmp_path / "sp2")).read().count() == 10

    return out, lambda: export_savepoint(sink, str(out)), retry


def _shards(spark, tmp_path):
    from embulk_util_json_spark.pipeline.export import export_shards

    out = tmp_path / "shards"

    def call():
        return export_shards(_rows(spark, 0, 20), str(out), 2, ["seq"])

    def retry():
        assert call()["total_rows"] == 20
        assert (out / "_shard_manifest.json").exists()

    return out, call, retry


CASES = {
    "manifest": _manifest,
    "tag": _tag,
    "txn_record": _txn_record,
    "txn_intent": _txn_intent,
    "feed_cursor": _cursor,
    "publish_manifest": _published,
    "compact_published_manifest": _compacted,
    "fenced_state": _state_case(
        _fenced, {"next_seq": 1, "pending": None}, {"next_seq": 7, "pending": None}
    ),
    "txn_boundary_state": _state_case(
        _txn_boundary,
        {"epoch": 1, "pending": None, "markers": None},
        {"epoch": 2, "pending": None, "markers": None},
    ),
    "agg_view_state": _state_case(
        _agg_view,
        {"table_version": 1, "data": None},
        {"table_version": 2, "data": None},
    ),
    "savepoint_meta": _savepoint,
    "shard_manifest": _shards,
}


def _json_files(d: pathlib.Path) -> dict[str, bytes]:
    if not d.is_dir():
        return {}
    return {p.name: p.read_bytes() for p in d.iterdir() if p.name.endswith(".json")}


def _temp_files(d: pathlib.Path) -> list[str]:
    if not d.is_dir():
        return []
    return [p.name for p in d.iterdir() if ".tmp" in p.name or "~" in p.name]


def _fail_json_publish(monkeypatch, meta_dir):
    """Make every link/replace onto a ``*.json`` name in ``meta_dir``
    fail like a crash at the publish step; other metadata, data-file
    links and directory renames pass."""
    for name in ("link", "replace"):
        real = getattr(os, name)

        def boom(src, dst, *a, _real=real, **kw):
            dst = os.fspath(dst)
            if dst.endswith(".json") and os.path.dirname(dst) == str(meta_dir):
                raise OSError(errno.EIO, "injected crash at the publish step")
            return _real(src, dst, *a, **kw)

        monkeypatch.setattr(os, name, boom)


@pytest.mark.parametrize("case", sorted(CASES))
def test_publish_step_crash_keeps_previous_metadata(
    spark, tmp_path, monkeypatch, case
):
    meta_dir, call, retry = CASES[case](spark, tmp_path)
    before = _json_files(meta_dir)
    _fail_json_publish(monkeypatch, meta_dir)
    with pytest.raises(OSError, match="injected crash"):
        call()
    monkeypatch.undo()
    assert _json_files(meta_dir) == before
    assert _temp_files(meta_dir) == []
    retry()


def test_killed_intent_write_leaves_no_torn_intent(tmp_path, monkeypatch):
    """A coordinator killed while writing its pending intent (half the
    bytes on disk, no cleanup) must not wedge the log: every later
    ``pending_intents()`` still parses, and the transaction replays."""
    log = TransactionLog(str(tmp_path))
    pending = os.path.join(str(tmp_path), "_txns", "pending")
    real_open = builtins.open

    class Killed(Exception):
        pass

    class TornFile:
        def __init__(self, fh):
            self._fh = fh

        def __enter__(self):
            return self

        def __exit__(self, *exc):
            self._fh.close()
            return False

        def write(self, s):
            self._fh.write(s[: max(1, len(s) // 2)])
            self._fh.flush()
            raise Killed

        def __getattr__(self, name):
            return getattr(self._fh, name)

    def torn_open(file, mode="r", *a, **kw):
        fh = real_open(file, mode, *a, **kw)
        if "w" in mode and os.path.dirname(os.fspath(file)) == pending:
            return TornFile(fh)
        return fh

    monkeypatch.setattr(builtins, "open", torn_open)
    monkeypatch.setattr(os, "unlink", lambda *a, **kw: None)  # no cleanup
    with pytest.raises(Killed):
        log.txn_apply({}, {}, "t1")
    monkeypatch.undo()

    assert log.pending_intents() == {}
    assert log.txn_apply({}, {}, "t1")["seq"] == 1
    assert log.pending_intents() == {}


def test_numbered_log_parses_wide_numbers_and_skips_temp_files(tmp_path):
    from embulk_util_json_spark.sinks.jsonlog import NumberedLog

    log = NumberedLog(str(tmp_path), "v")
    log.publish(7, {"n": 7})
    log.publish(123_456_789, {"n": 9})  # %08d widens past 10^8
    (tmp_path / ".v00000008.json.tmp-dead").write_text("{")
    assert log.numbers() == [7, 123_456_789]
    assert log.latest() == 123_456_789
    assert log.read(7) == {"n": 7}
    assert log.read(8) is None and log.read(0) is None


def test_no_hand_rolled_json_writes_outside_jsonlog():
    """``json.dump(`` and ``os.fsync(`` belong to ``sinks/jsonlog.py``
    alone: every durable metadata write goes through it."""
    pkg = pathlib.Path(embulk_util_json_spark.__file__).parent
    home = pkg / "sinks" / "jsonlog.py"
    offenders = []
    for path in sorted(pkg.rglob("*.py")):
        if path == home:
            continue
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            f = getattr(node, "func", None)
            if (
                isinstance(node, ast.Call)
                and isinstance(f, ast.Attribute)
                and isinstance(f.value, ast.Name)
                and (f.value.id, f.attr) in {("json", "dump"), ("os", "fsync")}
            ):
                offenders.append(f"{path.relative_to(pkg)}:{node.lineno}")
    assert offenders == []


STATEFUL = (
    "streaming/fenced.py",
    "streaming/txn_boundary.py",
    "pipeline/agg_view.py",
)


def test_applier_and_view_state_goes_through_state_dir():
    """The stateful appliers and views keep their state only through
    ``jsonlog.StateDir``: no state file read or written by hand, no
    generation written in place or removed outside its sweep."""
    pkg = pathlib.Path(embulk_util_json_spark.__file__).parent
    offenders = []
    for rel in STATEFUL:
        path = pkg / rel
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", "")
            overwrite = name == "mode" and any(
                isinstance(a, ast.Constant) and a.value == "overwrite"
                for a in node.args
            )
            rmtree = (
                name == "rmtree"
                and isinstance(f, ast.Attribute)
                and getattr(f.value, "id", "") == "shutil"
            )
            if overwrite or rmtree or name in {"read_json", "replace_json"}:
                offenders.append(f"{rel}:{node.lineno}")
    assert offenders == []
