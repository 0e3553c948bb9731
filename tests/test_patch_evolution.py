"""Patch-column evolution (``ParquetSnapshotSink.evolve_patch_cols``).

The contract: the set of columns merged with COLUMN-level LWW can be
extended mid-stream, versioned in the manifest like every other piece
of table config.

- ADDITIVE (column never stored): metadata-only — stored levels align
  to typed-NULL value + NULL stamp at merge time, which is exactly
  "never present yet". Final state ≡ one ``lww_patch`` over the full
  raw history in which pre-evolution events simply do not carry the
  column.
- PROMOTION (column already stored row-level, or inside ``_extras``):
  one manifest-committed rewrite — current state collapsed under the
  OLD config, promoted columns stamped at each surviving row's own
  (ts, seq). Final state ≡ ``lww_patch`` over (collapsed pre-history
  as pseudo-events) ∪ (post-evolution events).

Reference tie-in: the reference's schema story is additive capture of
newly-appearing members (InternalJsonValueReader builds whatever the
document carries); evolution here extends that to the MERGE config
itself, which only exists engine-side.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from embulk_util_json_spark.operators.lww import lww_patch, lww_window
from embulk_util_json_spark.sinks.snapshot import ParquetSnapshotSink
from tests.scratch import scratch

KEYS = ["conv_id", "turn_idx"]
ORDER = ["ts", "seq"]
M = "__unchanged__"

_EARLY_SCHEMA = (
    "conv_id string, turn_idx int, ts long, seq long, "
    "op string, role string, text string"
)
_LATE_SCHEMA = _EARLY_SCHEMA + ", tool string"


def _stream(n=240, n_convs=5, n_turns=4, seed=11):
    """Early half: events carry only role/text (no ``tool`` column).
    Late half: ``tool`` appears, marker-patterned like a patch feed."""
    early, late = [], []
    for seq in range(1, n + 1):
        k = (seq * 7919 + seed) % (n_convs * n_turns)
        conv, turn = f"c{k % n_convs}", k // n_convs
        ts = seq // 3
        r = (seq * 31 + seed) % 10
        if r == 0:
            row = (conv, turn, ts, seq, "delete", None, None)
            tool = None
        elif r in (1, 2):
            row = (conv, turn, ts, seq, "insert", f"r{seq % 3}", f"text {seq}")
            tool = f"tool{seq % 4}"
        else:
            role = M if seq % 2 == 0 else f"r{seq % 3}"
            text = M if seq % 3 == 0 else f"text {seq} v2"
            row = (conv, turn, ts, seq, "update", role, text)
            tool = None if seq % 7 == 0 else (M if r < 8 else f"tool{seq % 4}")
        if seq <= n // 2:
            early.append(row)
        else:
            late.append(row + (tool,))
    return early, late


def _oracle(spark, early, late):
    """lww_patch over the full raw history: pre-evolution events carry
    ``tool`` as the marker (= not present), exactly the semantics the
    sink must reproduce through the evolution boundary."""
    rows = [r + (M,) for r in early] + late
    final = lww_patch(
        spark.createDataFrame(rows, _LATE_SCHEMA),
        KEYS, ORDER, ["role", "text", "tool"],
        unchanged_marker=M, absent_if=F.col("op") == "delete",
    )
    return final.filter(F.col("op") != "delete").select(
        "conv_id", "turn_idx", "role", "text", "tool"
    )


def _as_set(df):
    return {tuple(r) for r in df.collect()}


def _sink(spark, mode, patch_cols=("role", "text"), **kw):
    return ParquetSnapshotSink(
        spark, scratch("patch_evo_"), num_buckets=4, keys=KEYS, order_cols=ORDER,
        mode=mode, patch_cols=list(patch_cols), unchanged_marker=M, **kw,
    )


def _batches(rows, n):
    size = (len(rows) + n - 1) // n
    return [rows[i * size:(i + 1) * size] for i in range(n)]


def _visible(sink):
    return sink.read().select("conv_id", "turn_idx", "role", "text", "tool")


# ---- additive evolution --------------------------------------------------


@pytest.mark.parametrize("mode", ["mow", "mor"])
def test_additive_evolution_equals_full_history(spark, mode):
    early, late = _stream()
    sink = _sink(spark, mode)
    for i, b in enumerate(_batches(early, 2)):
        sink.apply(spark.createDataFrame(b, _EARLY_SCHEMA), f"e{i}")
    res = sink.evolve_patch_cols({"tool": "string"})
    assert res["promoted"] == [] and not res["rewritten"]
    for i, b in enumerate(_batches(late, 2)):
        sink.apply(spark.createDataFrame(b, _LATE_SCHEMA), f"l{i}")
    assert _as_set(_visible(sink)) == _as_set(_oracle(spark, early, late))


def test_additive_evolution_is_metadata_only(spark):
    """The additive commit must not touch data files: the manifest's
    bucket → file map is unchanged across the evolution."""
    early, _ = _stream()
    sink = _sink(spark, "mor")
    sink.apply(spark.createDataFrame(early, _EARLY_SCHEMA), "e0")
    before = sink.current_manifest()["buckets"]
    sink.evolve_patch_cols({"tool": "string"})
    after = sink.current_manifest()
    assert after["buckets"] == before
    assert after["patch_cols"] == ["role", "text", "tool"]
    assert after["patch_types"]["tool"] == "string"


def test_sparse_post_evolution_batch_omits_column(spark):
    """A post-evolution batch that does not carry the evolved column
    at all (sparse feed) aligns to NULL — no event in it touched the
    column, so nothing changes."""
    early, late = _stream()
    sink = _sink(spark, "mor")
    sink.apply(spark.createDataFrame(early, _EARLY_SCHEMA), "e0")
    sink.evolve_patch_cols({"tool": "string"})
    lb = _batches(late, 3)
    sink.apply(spark.createDataFrame(lb[0], _LATE_SCHEMA), "l0")
    # middle batch arrives WITHOUT the tool column (old producer)
    sink.apply(
        spark.createDataFrame([r[:7] for r in lb[1]], _EARLY_SCHEMA), "l1"
    )
    sink.apply(spark.createDataFrame(lb[2], _LATE_SCHEMA), "l2")
    # oracle: the column-less batch's events carry tool "not present"
    relabeled = lb[0] + [r[:7] + (M,) for r in lb[1]] + lb[2]
    assert _as_set(_visible(sink)) == _as_set(_oracle(spark, early, relabeled))


def test_mor_compact_across_evolution_boundary(spark):
    early, late = _stream()
    sink = _sink(spark, "mor")
    for i, b in enumerate(_batches(early, 2)):
        sink.apply(spark.createDataFrame(b, _EARLY_SCHEMA), f"e{i}")
    sink.evolve_patch_cols({"tool": "string"})
    for i, b in enumerate(_batches(late, 2)):
        sink.apply(spark.createDataFrame(b, _LATE_SCHEMA), f"l{i}")
    before = _as_set(_visible(sink))
    sink.compact(drop_tombstones=False)
    assert _as_set(_visible(sink)) == before == _as_set(
        _oracle(spark, early, late)
    )


def test_time_travel_before_evolution_unchanged(spark):
    """read(at_version=pre-evolution) merges under the config
    committed THEN: no ``tool`` column in the output."""
    early, late = _stream()
    sink = _sink(spark, "mor")
    sink.apply(spark.createDataFrame(early, _EARLY_SCHEMA), "e0")
    v_pre = sink.current_version()
    sink.evolve_patch_cols({"tool": "string"})
    sink.apply(spark.createDataFrame(late, _LATE_SCHEMA), "l0")
    old = sink.read(at_version=v_pre)
    assert "tool" not in old.columns
    want = lww_patch(
        spark.createDataFrame(early, _EARLY_SCHEMA), KEYS, ORDER,
        ["role", "text"], unchanged_marker=M,
        absent_if=F.col("op") == "delete",
    ).filter(F.col("op") != "delete").select("conv_id", "turn_idx", "role", "text")
    assert _as_set(old.select("conv_id", "turn_idx", "role", "text")) == _as_set(want)


def test_stale_handle_adopts_evolution(spark):
    """A sink handle constructed BEFORE the evolution re-adopts the
    new config on its next apply — it must not keep stamping under
    the old column set."""
    early, late = _stream()
    sink = _sink(spark, "mor")
    stale = ParquetSnapshotSink(
        spark, sink.root, keys=KEYS, order_cols=ORDER, mode="mor"
    )
    sink.apply(spark.createDataFrame(early, _EARLY_SCHEMA), "e0")
    sink.evolve_patch_cols({"tool": "string"})
    stale.apply(spark.createDataFrame(late, _LATE_SCHEMA), "l0")
    assert stale.patch_cols == ["role", "text", "tool"]
    assert _as_set(_visible(stale)) == _as_set(_oracle(spark, early, late))


def test_read_changes_feed_mirrors_across_evolution(spark):
    """Change feeds spanning the evolution boundary still reproduce
    the source state on a downstream mirror (the mirror is evolved
    before the post-evolution feed arrives)."""
    early, late = _stream()
    sink = _sink(spark, "mor")
    vs = [0]
    sink.apply(spark.createDataFrame(early, _EARLY_SCHEMA), "e0")
    vs.append(sink.current_version())
    sink.evolve_patch_cols({"tool": "string"})
    sink.apply(spark.createDataFrame(late, _LATE_SCHEMA), "l0")
    vs.append(sink.current_version())

    mirror = _sink(spark, "mor")
    mirror.apply(sink.read_changes(vs[0], vs[1]), "f0")
    mirror.evolve_patch_cols({"tool": "string"})
    mirror.apply(sink.read_changes(vs[1], vs[2]), "f1")
    assert _as_set(_visible(mirror)) == _as_set(_visible(sink))


# ---- promotion -----------------------------------------------------------


def _dense_stream(n=200, n_convs=4, n_turns=4, seed=3):
    """Row-level stream: every event restates all columns."""
    rows = []
    for seq in range(1, n + 1):
        k = (seq * 6271 + seed) % (n_convs * n_turns)
        conv, turn = f"c{k % n_convs}", k // n_convs
        ts = seq // 2
        r = (seq * 13 + seed) % 11
        if r == 0:
            rows.append((conv, turn, ts, seq, "delete", None, None, None))
        else:
            rows.append(
                (conv, turn, ts, seq, "insert" if r < 4 else "update",
                 f"r{seq % 3}", f"text {seq}",
                 None if seq % 5 == 0 else f"tool{seq % 4}")
            )
    return rows


_DENSE_SCHEMA = (
    "conv_id string, turn_idx int, ts long, seq long, "
    "op string, role string, text string, tool string"
)


def _patchify(rows):
    """Turn dense rows into marker-patterned partial updates."""
    out = []
    for (conv, turn, ts, seq, op, role, text, tool) in rows:
        if op == "delete":
            out.append((conv, turn, ts, seq, op, None, None, None))
        else:
            out.append(
                (conv, turn, ts, seq, "update",
                 M if seq % 2 == 0 else role,
                 M if seq % 3 == 0 else text,
                 M if seq % 4 != 0 else tool)
            )
    return out


def test_promotion_row_level_to_patch(spark):
    """Row-level history → evolve to patch mode → patched tail.
    Contract: collapsed pre-history re-enters as pseudo-events at the
    winners' own positions; lww_patch over (pseudo ∪ tail) is the
    oracle. Promotion itself cannot resurrect collapsed history."""
    rows = _dense_stream()
    pre, post = rows[:120], _patchify(rows[120:])
    root = scratch("patch_evo_")
    sink = ParquetSnapshotSink(
        spark, root, num_buckets=4, keys=KEYS, order_cols=ORDER, mode="mor"
    )
    for i, b in enumerate(_batches(pre, 2)):
        sink.apply(spark.createDataFrame(b, _DENSE_SCHEMA), f"p{i}")
    res = sink.evolve_patch_cols(
        {"role": "string", "text": "string", "tool": "string"},
        unchanged_marker=M,
    )
    assert res["rewritten"] and res["promoted"] == ["role", "text", "tool"]
    for i, b in enumerate(_batches(post, 2)):
        sink.apply(spark.createDataFrame(b, _DENSE_SCHEMA), f"q{i}")

    pseudo = lww_window(
        spark.createDataFrame(pre, _DENSE_SCHEMA), KEYS, ORDER
    )
    oracle = lww_patch(
        pseudo.unionByName(spark.createDataFrame(post, _DENSE_SCHEMA)),
        KEYS, ORDER, ["role", "text", "tool"],
        unchanged_marker=M, absent_if=F.col("op") == "delete",
    ).filter(F.col("op") != "delete").select(
        "conv_id", "turn_idx", "role", "text", "tool"
    )
    assert _as_set(_visible(sink)) == _as_set(oracle)


def test_promotion_from_extras_map(spark):
    """A field that evolved additively into the ``_extras`` map is
    promoted to a first-class patch column: the rewrite extracts the
    stored map values (stamped at the rows' own positions) and removes
    the key from the map; later batches patch it column-level."""
    sink = _sink(spark, "mor")
    rows = [
        ("c1", 0, 1, 1, "insert", "user", "hello", {"model": "m-base"}),
        ("c2", 0, 1, 2, "insert", "asst", "hi", {}),
    ]
    schema = (
        "conv_id string, turn_idx int, ts long, seq long, op string, "
        "role string, text string, _extras map<string,string>"
    )
    sink.apply(spark.createDataFrame(rows, schema), "b0")
    # simulate the runner's discovery bookkeeping: the manifest lists
    # the field (apply() aggregates map keys into extra_fields)
    assert "model" in sink.current_manifest()["extra_fields"]
    res = sink.evolve_patch_cols({"model": "string"})
    assert res["rewritten"] and res["promoted"] == ["model"]
    # later partial update touches only model for c2; c1 carries forward
    late = [
        ("c2", 0, 2, 3, "update", M, M, "m-tuned"),
    ]
    late_schema = (
        "conv_id string, turn_idx int, ts long, seq long, op string, "
        "role string, text string, model string"
    )
    sink.apply(spark.createDataFrame(late, late_schema), "b1")
    out = sink.read().select("conv_id", "turn_idx", "role", "text", "model")
    assert _as_set(out) == {
        ("c1", 0, "user", "hello", "m-base"),
        ("c2", 0, "asst", "hi", "m-tuned"),
    }
    # the promoted key no longer rides the extras map
    meta = sink.read(include_meta=True)
    if "_extras" in meta.columns:
        leftover = meta.select(
            F.explode_outer(F.map_keys(F.col("_extras"))).alias("k")
        ).filter(F.col("k") == "model")
        assert leftover.count() == 0


# ---- guard rails ---------------------------------------------------------


def test_evolution_is_idempotent(spark):
    early, _ = _stream()
    sink = _sink(spark, "mor")
    sink.apply(spark.createDataFrame(early, _EARLY_SCHEMA), "e0")
    v1 = sink.evolve_patch_cols({"tool": "string"})["version"]
    res = sink.evolve_patch_cols({"tool": "string"})
    assert res.get("skipped") and sink.current_version() == v1


def test_evolution_rejects_bad_columns(spark):
    sink = _sink(spark, "mor")
    with pytest.raises(ValueError, match="map-typed"):
        sink.evolve_patch_cols({"blob": "map<string,string>"})
    with pytest.raises(ValueError, match="key/order/op"):
        sink.evolve_patch_cols({"conv_id": "string"})
    with pytest.raises(ValueError, match="key/order/op"):
        sink.evolve_patch_cols({"ts": "long"})


def test_evolution_rejects_marker_conflict(spark):
    sink = _sink(spark, "mor")
    with pytest.raises(ValueError, match="marker"):
        sink.evolve_patch_cols({"tool": "string"}, unchanged_marker="other")


def test_streaming_e2e_promotion_between_restarts(spark, tmp_path):
    """Full wire path under Structured Streaming with evolution at a
    checkpoint boundary: JSON envelopes → stream_directory → patch
    sink (role/text column-level; tool still row-level, the source
    ships the marker for it), stream stopped, ``tool`` PROMOTED to a
    patch column (stored marker values stamp to absent), stream
    resumed from the same checkpoint over new files carrying real
    tool patches. Final state ≡ one lww_patch over the whole wire
    history — the mid-stream-evolution story end-to-end."""
    import json as _json

    import pyarrow as pa
    import pyarrow.parquet as pq

    from embulk_util_json_spark.streaming.runner import stream_directory

    M_ = M

    def env(seq, ts, op, conv, turn, role, text, tool):
        return (seq, _json.dumps({
            "op": op, "ts": f"2024-01-01T00:00:{ts:02d}",
            "data": {"conv_id": conv, "turn_idx": turn,
                     "role": role, "text": text, "tool": tool},
        }))

    early_wire = [
        env(1, 1, "insert", "c1", 0, "user", "hello", M_),
        env(2, 2, "update", "c1", 0, M_, "hello v2", M_),
        env(3, 1, "insert", "c2", 5, "asst", "hi", M_),
        env(4, 3, "delete", "c2", 5, None, None, None),
    ]
    late_wire = [
        # revives c2 turn 5 via patch; touches only tool on c1
        env(5, 4, "update", "c2", 5, M_, "revived", "browser"),
        env(6, 5, "update", "c1", 0, M_, M_, "search"),
    ]

    def write(rows, path):
        seqs, js = zip(*rows)
        pq.write_table(
            pa.table({"seq": pa.array(seqs, pa.int64()),
                      "event_json": pa.array(js)}), str(path))

    src = tmp_path / "wire"
    src.mkdir()
    ckpt = str(tmp_path / "ck")
    sink = ParquetSnapshotSink(
        spark, str(tmp_path / "t"), num_buckets=4, mode="mor",
        patch_cols=["role", "text"], unchanged_marker=M,
    )
    write(early_wire, src / "p0.parquet")
    q = stream_directory(spark, str(src), sink, ckpt)
    q.processAllAvailable(); q.stop()

    res = sink.evolve_patch_cols({"tool": "string"})
    assert res["promoted"] == ["tool"] and res["rewritten"]

    write(late_wire, src / "p1.parquet")
    q = stream_directory(spark, str(src), sink, ckpt)
    q.processAllAvailable(); q.stop()

    got = {
        (r.conv_id, r.turn_idx): (r.role, r.text, r.tool)
        for r in sink.read().collect()
    }
    assert got == {
        ("c1", 0): ("user", "hello v2", "search"),
        # carry-forward looks through the tombstone; tool was never
        # carried pre-promotion (markers stamped to absent)
        ("c2", 5): ("asst", "revived", "browser"),
    }


def test_extras_resident_patch_col_sparse_batches(spark):
    """A patch column that only ever arrives inside ``_extras``: the
    extraction records its type, so a later batch carrying neither the
    column nor the map still aligns instead of raising."""
    sink = _sink(spark, "mor", patch_cols=("role", "text", "model"))
    schema_extras = (
        "conv_id string, turn_idx int, ts long, seq long, op string, "
        "role string, text string, _extras map<string,string>"
    )
    schema_bare = (
        "conv_id string, turn_idx int, ts long, seq long, op string, "
        "role string, text string"
    )
    sink.apply(spark.createDataFrame(
        [("c1", 0, 1, 1, "insert", "user", "hi", {"model": "m-base"})],
        schema_extras), "b0")
    assert sink.current_manifest()["patch_types"]["model"] == "string"
    # neither `model` nor `_extras` in this batch — must align, not raise
    sink.apply(spark.createDataFrame(
        [("c1", 0, 2, 2, "update", M, "hi v2", )],
        schema_bare.replace("text string", "text string")  # no-op, clarity
        ), "b1")
    got = {
        (r.conv_id, r.turn_idx): (r.role, r.text, r.model)
        for r in sink.read().collect()
    }
    assert got == {("c1", 0): ("user", "hi v2", "m-base")}


def test_read_columns_meta_requires_include_meta(spark):
    sink = _sink(spark, "mor")
    early, _ = _stream(n=30)
    sink.apply(spark.createDataFrame(early, _EARLY_SCHEMA), "b0")
    with pytest.raises(ValueError, match="include_meta"):
        sink.read(columns=["text", "seq"])
    # with include_meta the meta column survives
    df = sink.read(columns=["text", "seq"], include_meta=True)
    assert "seq" in df.columns


def test_evolution_loses_occ_race_cleanly_and_retries(spark, tmp_path):
    """evolve_patch_cols racing a concurrent apply: the loser raises
    ConcurrentCommitError (no torn manifest), and a plain retry
    succeeds — the re-read manifest carries the competitor's batch and
    the evolution lands on the next free version."""
    import json as _json

    from embulk_util_json_spark.sinks.snapshot import ConcurrentCommitError

    early, late = _stream(n=60)
    sink = _sink(spark, "mor")
    sink.apply(spark.createDataFrame(early, _EARLY_SCHEMA), "e0")

    stolen = {"done": False}
    orig_commit = sink._commit

    def stealing_commit(manifest, **kw):
        if not stolen["done"]:
            stolen["done"] = True
            m = sink.current_manifest()
            with open(sink._log.path(manifest["version"]), "w") as fh:
                _json.dump(
                    {**m, "version": manifest["version"],
                     "batch_ids": m["batch_ids"] + ["writer-b"]}, fh)
        orig_commit(manifest, **kw)

    sink._commit = stealing_commit
    try:
        import pytest as _pytest

        with _pytest.raises(ConcurrentCommitError):
            sink.evolve_patch_cols({"tool": "string"})
        # retry: manifest re-read, evolution lands cleanly
        res = sink.evolve_patch_cols({"tool": "string"})
        assert res["patch_cols"] == ["role", "text", "tool"]
    finally:
        sink._commit = orig_commit
    assert "writer-b" in sink.current_manifest()["batch_ids"]
    sink.apply(spark.createDataFrame(late, _LATE_SCHEMA), "l0")
    assert _as_set(_visible(sink)) == _as_set(_oracle(spark, early, late))
