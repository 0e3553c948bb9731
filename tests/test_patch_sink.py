"""Patch-mode ParquetSnapshotSink: incremental partial-update merge.

The contract under test: N incremental ``apply`` calls of a patch-
style change stream (MOW or MOR, in or out of batch order, with
compactions interleaved) produce EXACTLY the state of one
``lww_patch`` reduction over the full raw history — the storable
stamped form (``patch_stamp`` / ``lww_agg`` with ``patch_cols``) is a closed
associative operator, so the sink can persist intermediate reductions
without losing column-level carry-forward.

Reference tie-in: the reference applies captured values row-at-a-time
into the host's page builder (JsonParser/CapturingPointers →
PageBuilder); a partial-update feed there relies on the host's own
merge. Here the merge IS the engine's, so its algebra is pinned.
"""

from __future__ import annotations

import ast
import pathlib

import pytest
from pyspark.sql import functions as F

from embulk_util_json_spark.operators.lww import (
    PATCH_ORD_PREFIX,
    lww_agg,
    lww_patch,
    patch_stamp,
    stamp_batch,
)
from embulk_util_json_spark.sinks.snapshot import ParquetSnapshotSink
from tests.scratch import scratch

KEYS = ["conv_id", "turn_idx"]
ORDER = ["ts", "seq"]
PATCH = ["role", "text", "tool"]
M = "__unchanged__"
COLS = ["conv_id", "turn_idx", "ts", "seq", "op", "role", "text", "tool"]


def _stream(n=240, n_convs=5, n_turns=4, seed=7):
    """Deterministic patch-style change stream with ties on ts
    (broken by seq), deletes, and marker-patterned sparse updates."""
    rows = []
    for seq in range(1, n + 1):
        k = (seq * 7919 + seed) % (n_convs * n_turns)
        conv, turn = f"c{k % n_convs}", k // n_convs
        ts = seq // 3  # ties: several seqs share a ts
        r = (seq * 31 + seed) % 10
        if r == 0:
            rows.append((conv, turn, ts, seq, "delete", None, None, None))
        elif r in (1, 2):
            rows.append(
                (conv, turn, ts, seq, "insert",
                 f"r{seq % 3}", f"text {seq}", f"tool{seq % 4}")
            )
        else:
            # partial update: marker-out role/text/tool on patterns,
            # including an explicit NULL tool write every 7th event
            role = M if seq % 2 == 0 else f"r{seq % 3}"
            text = M if seq % 3 == 0 else f"text {seq} v2"
            tool = None if seq % 7 == 0 else (M if r < 8 else f"tool{seq % 4}")
            rows.append((conv, turn, ts, seq, "update", role, text, tool))
    return rows


_SCHEMA = (
    "conv_id string, turn_idx int, ts long, seq long, "
    "op string, role string, text string, tool string"
)


def _df(spark, rows):
    return spark.createDataFrame(rows, _SCHEMA)


def _oracle(spark, rows, marker=M):
    """Full-history column-level LWW (lww_patch is itself property-
    hardened against a pure-Python fold), tombstones filtered."""
    final = lww_patch(
        _df(spark, rows), KEYS, ORDER, PATCH,
        unchanged_marker=marker, absent_if=F.col("op") == "delete",
    )
    return final.filter(F.col("op") != "delete").select(
        "conv_id", "turn_idx", "role", "text", "tool"
    )


def _as_set(df):
    return {tuple(r) for r in df.collect()}


def _sink(spark, mode, **kw):
    return ParquetSnapshotSink(
        spark, scratch("patch_sink_"), num_buckets=4, keys=KEYS, order_cols=ORDER,
        mode=mode, patch_cols=PATCH, unchanged_marker=M, **kw,
    )


def _batches(rows, n_batches=4):
    """Contiguous seq ranges — the binlog-replay delivery shape."""
    size = (len(rows) + n_batches - 1) // n_batches
    return [rows[i * size:(i + 1) * size] for i in range(n_batches)]


def _visible(sink):
    return sink.read().select("conv_id", "turn_idx", "role", "text", "tool")


# ---- operator algebra ----------------------------------------------------


def test_stamp_reduce_equals_lww_patch(spark):
    rows = _stream()
    df = _df(spark, rows)
    via_patch = lww_patch(
        df, KEYS, ORDER, PATCH, unchanged_marker=M,
        absent_if=F.col("op") == "delete",
    )
    stamped = patch_stamp(
        df, ORDER, PATCH, unchanged_marker=M, absent_if=F.col("op") == "delete"
    )
    via_stamped = lww_agg(stamped, KEYS, ORDER, PATCH).drop(
        *[PATCH_ORD_PREFIX + c for c in PATCH]
    )
    assert _as_set(via_stamped.select(*via_patch.columns)) == _as_set(via_patch)


def test_stamped_reduction_is_associative(spark):
    """reduce(reduce(A) ∪ reduce(B)) == reduce(A ∪ B) for arbitrary
    splits — the property MOR chain-merge and compaction rest on."""
    rows = _stream(n=180)
    for pivot in (1, 60, 179):
        a, b = rows[:pivot], rows[pivot:]
        stamp = lambda rs: patch_stamp(  # noqa: E731
            _df(spark, rs), ORDER, PATCH, unchanged_marker=M,
            absent_if=F.col("op") == "delete",
        )
        red = lambda d: lww_agg(d, KEYS, ORDER, PATCH)  # noqa: E731
        split = red(red(stamp(a)).unionByName(red(stamp(b))))
        whole = red(stamp(rows))
        assert _as_set(split.select(*whole.columns)) == _as_set(whole)


# ---- the batch-stamping step both sinks share ----------------------------
#
# The Iceberg sink runs only with its runtime jar, so its stamping is
# pinned here through the shared function, with the types it resolves
# (``IcebergSink._patch_types``: recorded, else the table's, else
# ``string``).

_ROW = ["conv_id", "turn_idx", "op", "role", "text", "tool"]


def _merged(stamped):
    """Per-key state of a stamped frame, stamps dropped."""
    return _as_set(lww_agg(stamped, KEYS, ORDER, PATCH).select(*_ROW))


def _want(spark, rows):
    """lww_patch over the equivalent raw batch."""
    return _as_set(
        lww_patch(
            _df(spark, rows), KEYS, ORDER, PATCH, M, F.col("op") == "delete"
        ).select(*_ROW)
    )


def test_stamp_batch_extracts_column_riding_extras(spark):
    rows = _stream(n=120)
    raw = _df(spark, rows)
    batch = raw.withColumn(
        "_extras", F.create_map(F.lit("tool"), F.col("tool"))
    ).drop("tool")
    types = {"role": "string", "text": "string"}
    stamped = stamp_batch(batch, ORDER, PATCH, types, M)
    assert types["tool"] == "string"  # recorded for later sparse batches
    assert _merged(stamped.drop("_extras")) == _want(spark, rows)


def test_stamp_batch_aligns_absent_column_with_fallback_type(spark):
    from embulk_util_json_spark.sinks.iceberg import IcebergSink

    rows = _stream(n=120)
    batch = _df(spark, rows).drop("tool")
    # the Iceberg sink's resolution with no recorded type and no table
    sink = object.__new__(IcebergSink)
    sink.spark, sink.table = spark, "no_such_db.no_such_table"
    sink.patch_cols, sink.patch_types = PATCH, {"role": "string"}
    types = sink._patch_types(batch)
    assert types == {"role": "string", "text": "string", "tool": "string"}
    stamped = stamp_batch(batch, ORDER, PATCH, types, M)
    assert stamped.schema["tool"].dataType.simpleString() == "string"
    assert stamped.filter(F.col(PATCH_ORD_PREFIX + "tool").isNotNull()).count() == 0
    # never carried == carried as the marker on every event
    never = [(*r[:7], M) for r in rows]
    assert _merged(stamped) == _want(spark, never)
    # with no type to align by, the snapshot sink's config raises
    with pytest.raises(ValueError, match="no type"):
        stamp_batch(batch, ORDER, PATCH, {"role": "string", "text": "string"}, M)


def test_stamp_batch_keeps_stamps_of_stamped_frame(spark):
    rows = _stream(n=160)
    types = {c: "string" for c in PATCH}
    level = lww_agg(
        stamp_batch(_df(spark, rows[:100]), ORDER, PATCH, types, M),
        KEYS, ORDER, PATCH,
    )
    again = stamp_batch(level, ORDER, PATCH, types, M)
    assert again.columns == level.columns
    assert _as_set(again) == _as_set(level)
    tail = stamp_batch(_df(spark, rows[100:]), ORDER, PATCH, types, M)
    assert _merged(again.unionByName(tail)) == _want(spark, rows)
    # a level written before ``tool`` was a patch column aligns to
    # "never carried", like its raw events with the marker
    early = stamp_batch(
        level.drop("tool", PATCH_ORD_PREFIX + "tool"), ORDER, PATCH, types, M
    )
    assert _merged(early) == _want(
        spark, [(*r[:7], M) for r in rows[:100]]
    )


def test_stamp_batch_rejects_value_without_stamp(spark):
    types = {c: "string" for c in PATCH}
    stamped = stamp_batch(_df(spark, _stream(n=40)), ORDER, PATCH, types, M)
    with pytest.raises(ValueError, match="without its"):
        stamp_batch(
            stamped.drop(PATCH_ORD_PREFIX + "tool"), ORDER, PATCH, types, M
        )


def _by_function(tree):
    """(innermost enclosing ``def`` name or None, node) for every node."""
    stack = [(tree, None)]
    while stack:
        node, fn = stack.pop()
        yield fn, node
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            fn = node.name
        stack.extend((c, fn) for c in ast.iter_child_nodes(node))


def test_merge_algebra_has_one_home():
    """``operators/lww.py`` holds the one reduction (``lww_agg``), the
    one salted split and the one batch-stamping step: no second
    stamped reduction or sink-side stamper is defined anywhere in the
    package, and no sink calls ``patch_stamp`` directly except the
    ``evolve_patch_cols`` promotion, which stamps already-reduced rows
    at their own positions."""
    import embulk_util_json_spark

    pkg = pathlib.Path(embulk_util_json_spark.__file__).parent
    gone = {"lww_patch_stamped", "_stamp_aligned", "_align_patch"}
    offenders = []
    for path in sorted(pkg.rglob("*.py")):
        rel = str(path.relative_to(pkg))
        for fn, node in _by_function(ast.parse(path.read_text(), rel)):
            if (
                isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
                and node.name in gone
            ):
                offenders.append(f"{rel}:{node.lineno} defines {node.name}")
            if (
                rel.startswith("sinks/")
                and isinstance(node, ast.Call)
                and getattr(node.func, "id", getattr(node.func, "attr", None))
                == "patch_stamp"
                and fn != "evolve_patch_cols"
            ):
                offenders.append(f"{rel}:{node.lineno} patch_stamp in {fn}")
    assert offenders == []


# ---- sink end-to-end -----------------------------------------------------


@pytest.mark.parametrize("mode", ["mow", "mor"])
def test_incremental_apply_equals_full_history(spark, mode):
    rows = _stream()
    sink = _sink(spark, mode)
    for i, b in enumerate(_batches(rows)):
        sink.apply(_df(spark, b), f"b{i}")
    assert _as_set(_visible(sink)) == _as_set(_oracle(spark, rows))


@pytest.mark.parametrize("mode", ["mow", "mor"])
def test_out_of_order_batches(spark, mode):
    """Batches delivered out of order: per-column stamps make the
    merge order-insensitive, so the final state is identical."""
    rows = _stream()
    bs = _batches(rows)
    sink = _sink(spark, mode)
    for i in (2, 0, 3, 1):
        sink.apply(_df(spark, bs[i]), f"b{i}")
    assert _as_set(_visible(sink)) == _as_set(_oracle(spark, rows))


def test_mor_compact_preserves_state(spark):
    rows = _stream()
    sink = _sink(spark, "mor")
    for i, b in enumerate(_batches(rows, 6)):
        sink.apply(_df(spark, b), f"b{i}")
    before = _as_set(_visible(sink))
    sink.compact(drop_tombstones=False)
    assert _as_set(_visible(sink)) == before == _as_set(_oracle(spark, rows))


def test_idempotent_reapply(spark):
    rows = _stream()
    bs = _batches(rows)
    sink = _sink(spark, "mow")
    for i, b in enumerate(bs):
        sink.apply(_df(spark, b), f"b{i}")
    state = _as_set(_visible(sink))
    res = sink.apply(_df(spark, bs[1]), "b1")  # checkpoint replay
    assert res.get("skipped")
    assert _as_set(_visible(sink)) == state


def test_patch_config_adopted_from_manifest(spark):
    """A reader/writer opened WITHOUT patch args adopts the table's
    committed patch config — merging a patch chain row-level would
    corrupt carry-forward."""
    rows = _stream()
    sink = _sink(spark, "mor")
    bs = _batches(rows)
    for i, b in enumerate(bs[:2]):
        sink.apply(_df(spark, b), f"b{i}")
    reopened = ParquetSnapshotSink(
        spark, sink.root, keys=KEYS, order_cols=ORDER, mode="mor"
    )
    assert reopened.patch_cols == PATCH
    assert reopened.unchanged_marker == M
    for i, b in enumerate(bs[2:], start=2):
        reopened.apply(_df(spark, b), f"b{i}")
    assert _as_set(_visible(reopened)) == _as_set(_oracle(spark, rows))


def test_delete_then_patch_carries_pre_delete_columns(spark):
    """Carry-forward looks THROUGH tombstones (lww_patch contract):
    insert → delete → partial update revives the row with the
    pre-delete value of the untouched column."""
    rows = [
        ("c1", 0, 1, 1, "insert", "user", "hello", "search"),
        ("c1", 0, 2, 2, "delete", None, None, None),
        ("c1", 0, 3, 3, "update", M, "revived", M),
    ]
    sink = _sink(spark, "mow")
    for i, r in enumerate(rows):  # one event per batch — worst case
        sink.apply(_df(spark, [r]), f"b{i}")
    assert _as_set(_visible(sink)) == {("c1", 0, "user", "revived", "search")}


def test_sparse_mode_null_means_unchanged(spark):
    """marker=None: absent columns are simply NULL in the event."""
    rows = [
        ("c1", 0, 1, 1, "insert", "user", "hello", "search"),
        ("c1", 0, 2, 2, "update", None, "hello v2", None),
        ("c1", 1, 1, 3, "insert", "asst", "hi", None),
    ]
    sink = ParquetSnapshotSink(
        spark, scratch("patch_sink_"), num_buckets=4, keys=KEYS, order_cols=ORDER,
        mode="mow", patch_cols=PATCH,
    )
    sink.apply(_df(spark, rows[:1]), "b0")
    sink.apply(_df(spark, rows[1:]), "b1")
    assert _as_set(_visible(sink)) == {
        ("c1", 0, "user", "hello v2", "search"),
        ("c1", 1, "asst", "hi", None),
    }


def test_time_travel_read_in_patch_mode(spark):
    rows = _stream()
    bs = _batches(rows, 3)
    sink = _sink(spark, "mor")
    versions = []
    for i, b in enumerate(bs):
        sink.apply(_df(spark, b), f"b{i}")
        versions.append(sink.current_version())
    seen = rows[: len(bs[0]) + len(bs[1])]
    at_v2 = sink.read(at_version=versions[1]).select(
        "conv_id", "turn_idx", "role", "text", "tool"
    )
    assert _as_set(at_v2) == _as_set(_oracle(spark, seen))


def test_read_changes_patch_net_and_mirror(spark):
    """Patch-mode change feed: (1) emits exactly the keys whose
    RESOLVED row changed between versions; (2) its output is a valid
    stamped level — applying feeds to a fresh patch sink reproduces
    the source table (downstream mirror exactness)."""
    rows = _stream()
    bs = _batches(rows, 3)
    sink = _sink(spark, "mor")
    vs = [0]
    for i, b in enumerate(bs):
        sink.apply(_df(spark, b), f"b{i}")
        vs.append(sink.current_version())

    # (1) net changes v1 → v2: resolved rows that differ
    def resolved(rs):
        return lww_patch(
            _df(spark, rs), KEYS, ORDER, PATCH,
            unchanged_marker=M, absent_if=F.col("op") == "delete",
        ).select("conv_id", "turn_idx", "op", "ts", "seq", "role", "text", "tool")

    old = {(r.conv_id, r.turn_idx): tuple(r)[2:] for r in resolved(bs[0]).collect()}
    new = {
        (r.conv_id, r.turn_idx): tuple(r)[2:]
        for r in resolved(bs[0] + bs[1]).collect()
    }
    expected = {k for k, v in new.items() if old.get(k) != v}
    feed = sink.read_changes(vs[1], vs[2])
    got = {(r.conv_id, r.turn_idx) for r in feed.select(*KEYS).collect()}
    assert got == expected

    # (2) mirror: apply each version's feed to a fresh patch sink
    mirror = _sink(spark, "mor")
    for i in range(1, len(vs)):
        fd = sink.read_changes(vs[i - 1], vs[i])
        mirror.apply(fd, f"feed{i}")
    assert _as_set(_visible(mirror)) == _as_set(_visible(sink))


def test_read_changes_patch_compares_extras_map(spark):
    """The native parser always emits an ``_extras`` map. A map has no
    ordering, so the patch feed compares it by its sorted entries: the
    feed over two applies carrying the map holds exactly the rows of
    ``lww_patch`` over the raw batches whose resolved row changed."""
    bs = _batches(_stream(n=80), 2)

    def with_extras(rows):
        return _df(spark, rows).withColumn(
            "_extras",
            F.create_map(F.lit("src"), (F.col("seq") % 3).cast("string")),
        )

    sink = _sink(spark, "mor")
    sink.apply(with_extras(bs[0]), "b0")
    v1 = sink.current_version()
    sink.apply(with_extras(bs[1]), "b1")

    cols = ["conv_id", "turn_idx", "op", "ts", "seq", "role", "text", "tool"]

    def resolved(rows):
        # the oracle takes no map; ``src`` is the row winner's, a
        # function of its ``seq``
        return {
            (r.conv_id, r.turn_idx): (*r, str(r.seq % 3))
            for r in lww_patch(
                _df(spark, rows), KEYS, ORDER, PATCH,
                unchanged_marker=M, absent_if=F.col("op") == "delete",
            ).select(*cols).collect()
        }

    old, new = resolved(bs[0]), resolved(bs[0] + bs[1])
    feed = sink.read_changes(v1).select(*cols, "src").collect()
    assert sorted(map(tuple, feed)) == sorted(
        v for k, v in new.items() if old.get(k) != v
    )


def test_wire_envelope_to_patch_sink_preserves_marker_vs_null(spark):
    """Full wire path: JSON change envelopes (Debezium-style — every
    update restates all columns, unavailable ones as the marker
    string, explicit null meaning SET NULL) → permissive envelope
    parse → patch-mode sink. Pins that the parse keeps the
    marker / explicit-null distinction intact all the way into the
    stamped merge."""
    import json as _json

    from embulk_util_json_spark.streaming.runner import apply_events_batch

    def env(seq, ts, op, conv, turn, role, text, tool):
        return (seq, _json.dumps({
            "op": op, "ts": f"2024-01-01T00:00:{ts:02d}",
            "data": {"conv_id": conv, "turn_idx": turn,
                     "role": role, "text": text, "tool": tool},
        }))

    wire = [
        env(1, 1, "insert", "c1", 0, "user", "hello", "search"),
        # marker tool = unavailable (carry forward), new text
        env(2, 2, "update", "c1", 0, M, "hello v2", M),
        # explicit null tool = SET NULL (the Debezium contract)
        env(3, 3, "update", "c1", 0, M, M, None),
        env(4, 1, "insert", "c2", 5, "asst", "hi", None),
    ]
    sink = _sink(spark, "mor")
    events = spark.createDataFrame(wire, "seq long, event_json string")
    # two micro-batches through the runner's parse → apply path
    apply_events_batch(events.filter(F.col("seq") <= 2), sink, "b0")
    apply_events_batch(events.filter(F.col("seq") > 2), sink, "b1")
    assert _as_set(_visible(sink)) == {
        ("c1", 0, "user", "hello v2", None),
        ("c2", 5, "asst", "hi", None),
    }


def test_patch_sink_with_schema_evolution_extras(spark, tmp_path):
    """Patch mode × additive evolution: evolved fields ride the
    row-level `_extras` map (maps can't be patch columns), are
    promoted to real columns at read, and on a DENSE stream (every
    event restates all columns — the generated corpus) the patch
    sink's visible state equals the sequential row-level oracle."""
    from embulk_util_json_spark.sources.generator import generate_events
    from embulk_util_json_spark.streaming.runner import replay_segments
    from tests.segments import write_segments
    from tests.test_cdc_e2e import sequential_oracle

    t = generate_events(4000, n_convs=20, n_turns=20, evolve_after=0.5)
    path = write_segments(t, str(tmp_path / "evo"), 2)
    sink = ParquetSnapshotSink(
        spark, str(tmp_path / "t_patch_evo"), num_buckets=4,
        patch_cols=PATCH, unchanged_marker=M,
    )
    replay_segments(spark, path, sink, num_batches=2)
    out = sink.read()
    assert "model" in out.columns
    rows = out.collect()
    got = {
        (r.conv_id, r.turn_idx): (r.role, r.text, r.tool, r.model)
        for r in rows
    }
    oracle = sequential_oracle(
        zip(t.column("seq").to_pylist(), t.column("event_json").to_pylist())
    )
    want = {
        k: (v["role"], v["text"], v["tool"], v["model"])
        for k, v in oracle.items()
    }
    assert got == want


def test_bootstrap_handoff_preserves_column_positions(spark):
    """Snapshot → tail handoff BETWEEN PATCH SINKS: the seeded rows
    must re-enter the merge at the positions their column values were
    written (stamps ride the snapshot), not at the row-winner position
    — a tail patch with event time between a column's last write and
    the row winner must WIN that column, exactly as in a full replay.
    Collapsing stamps at the handoff would make it lose."""
    from pyspark.sql import functions as F2

    from embulk_util_json_spark.streaming.runner import bootstrap_snapshot

    def tdf(rows):
        return _df(spark, rows).withColumn(
            "ts", F2.timestamp_seconds(F2.col("ts"))
        )

    prefix = [
        # key (c1,0): tool last written at ts=3; row winner at ts=33
        ("c1", 0, 3, 10, "insert", "user", "t1", "x"),
        ("c1", 0, 33, 100, "update", M, "t2", M),
        # key (c2,1): plain history + a delete to carry through
        ("c2", 1, 4, 11, "insert", "asst", "hi", "z"),
        ("c2", 1, 30, 90, "delete", None, None, None),
    ]
    tail = [
        # ts=5: OLDER than (c1,0)'s row winner but NEWER than tool's
        # last write -> must win tool, lose text
        ("c1", 0, 5, 130, "update", M, "stale", "y"),
        # revival patch for the tombstoned key
        ("c2", 1, 35, 131, "update", M, "revived", M),
    ]
    a = _sink(spark, "mor")
    a.apply(tdf(prefix), "p0")
    b = _sink(spark, "mor")
    bootstrap_snapshot(
        b, a.read(include_tombstones=True, include_meta=True), 100
    )
    for s, name in ((a, "a"), (b, "b")):
        s.apply(tdf(tail), f"tail-{name}")

    want = _as_set(
        lww_patch(
            tdf(prefix + tail), KEYS, ORDER, PATCH,
            unchanged_marker=M, absent_if=F2.col("op") == "delete",
        ).filter(F2.col("op") != "delete").select(
            "conv_id", "turn_idx", "role", "text", "tool"
        )
    )
    assert _as_set(_visible(b)) == _as_set(_visible(a)) == want
    # the discriminating cell: tool won by the out-of-order tail patch
    got = {(r[0], r[1]): r for r in _as_set(_visible(b))}
    assert got[("c1", 0)] == ("c1", 0, "user", "t2", "y")
    assert got[("c2", 1)] == ("c2", 1, "asst", "revived", "z")
