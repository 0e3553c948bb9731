"""Footer zone maps + freshness-pruned reads (sinks/snapshot.py
file_stats / read(min_ts=...)): every bucket-partitioned write records
per-chain-element [min, max] epoch-µs of the order column from parquet
row-group footers (driver-side metadata read, no extra job);
read(min_ts=T) returns keys whose LWW winner is at/after T and prunes
chain elements whose zone map proves max < T before the scan.

Exactness pins: lower-bound pruning never changes the result (a pruned
row either loses to an in-range row or its key's winner is below the
bound and filtered anyway); patch-mode tables skip pruning because
carry-forward reads column values out of old rows."""

import ast
import os
import pathlib

import pytest
from pyspark.sql import functions as F

import embulk_util_json_spark
from embulk_util_json_spark.sinks.merge import merge_into
from embulk_util_json_spark.sinks.snapshot import BUCKET_COL, ParquetSnapshotSink
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


def test_stats_recorded_and_read_pruned(spark, tmp_path):
    sink = ParquetSnapshotSink(spark, str(tmp_path / "t"), num_buckets=2, mode="mor")
    # three day-ordered deltas (the CDC shape: commits roughly time-ordered)
    apply_events_batch(_mk(spark, [_ev(0, "insert", "a", 1, 1)]), sink, "b0")
    apply_events_batch(_mk(spark, [_ev(1, "insert", "b", 1, 5)]), sink, "b1")
    apply_events_batch(_mk(spark, [_ev(2, "insert", "c", 1, 9)]), sink, "b2")
    stats = sink.current_manifest()["file_stats"]
    assert stats, "zone maps must be recorded at write"
    for lo, hi in stats.values():
        assert isinstance(lo, int) and isinstance(hi, int) and lo <= hi
    full_files = set(sink.read().inputFiles())
    fresh = sink.read(min_ts="2026-01-07")
    assert _state(fresh) == [("c", 1, "t2")]
    pruned_files = set(fresh.inputFiles())
    assert pruned_files < full_files, "old deltas must be pruned from the scan"
    # pruning to nothing: typed empty frame, not a crash
    assert sink.read(min_ts="2027-01-01").count() == 0


def test_pruning_exactness_winner_below_and_above_bound(spark, tmp_path):
    """Key updated across the bound: the in-range winner survives and
    the pruned old row changes nothing. Key entirely below: dropped by
    the residual either way. Result must equal residual-only filtering
    of the unpruned state."""
    sink = ParquetSnapshotSink(spark, str(tmp_path / "t"), num_buckets=2, mode="mor")
    apply_events_batch(
        _mk(spark, [_ev(0, "insert", "a", 1, 1), _ev(1, "insert", "old", 1, 2)]),
        sink,
        "b0",
    )
    apply_events_batch(
        _mk(spark, [_ev(2, "update", "a", 1, 8, text="new"),
                    _ev(3, "delete", "gone", 1, 9)]),
        sink,
        "b1",
    )
    want = _state(
        sink.read().filter(F.col("ts") >= F.lit("2026-01-05").cast("timestamp"))
    )
    got = _state(sink.read(min_ts="2026-01-05"))
    assert got == want == [("a", 1, "new")]
    # tombstoned key with an in-range delete winner stays out of state
    # but shows with include_tombstones
    tomb = sink.read(min_ts="2026-01-05", include_tombstones=True)
    assert ("gone", 1, "t3") in _state(tomb)


def test_min_ts_with_key_pruned_reads(spark, tmp_path):
    sink = ParquetSnapshotSink(spark, str(tmp_path / "t"), num_buckets=4, mode="mor")
    apply_events_batch(_mk(spark, [_ev(0, "insert", "a", 1, 1)]), sink, "b0")
    apply_events_batch(_mk(spark, [_ev(1, "update", "a", 1, 8, text="hot")]), sink, "b1")
    apply_events_batch(_mk(spark, [_ev(2, "insert", "z", 1, 2)]), sink, "b2")
    # point lookup: only 'a's chain, minus the pruned old delta
    got = sink.read(key_eq={"conv_id": "a"}, min_ts="2026-01-05")
    assert _state(got) == [("a", 1, "hot")]
    # stale point lookup: residual filters the winner out
    assert sink.read(key_eq={"conv_id": "z"}, min_ts="2026-01-05").count() == 0
    # probe-keys set read composes the same way
    probe = spark.createDataFrame([("a",), ("z",)], "conv_id string")
    assert _state(sink.read(probe_keys=probe, min_ts="2026-01-05")) == [
        ("a", 1, "hot")
    ]


def test_compact_rewrites_stats_and_drops_stale_entries(spark, tmp_path):
    sink = ParquetSnapshotSink(
        spark, str(tmp_path / "t"), num_buckets=2, mode="mor", compact_every=64
    )
    apply_events_batch(_mk(spark, [_ev(0, "insert", "a", 1, 1)]), sink, "b0")
    apply_events_batch(_mk(spark, [_ev(1, "insert", "b", 1, 9)]), sink, "b1")
    sink.compact()
    m = sink.current_manifest()
    referenced = {p for b in m["buckets"] for p in m["buckets"][b]}
    assert set(m["file_stats"]) <= referenced, "stale zone-map entries must drop"
    assert m["file_stats"], "compacted chains must be re-statted"
    # post-compact chains are single fully-merged elements spanning all
    # days, so a freshness read prunes nothing — but stays exact
    assert _state(sink.read(min_ts="2026-01-05")) == [("b", 1, "t1")]


def test_patch_mode_skips_pruning_keeps_carry_forward(spark, tmp_path):
    """Patch table: column written on day 1, another on day 9. A
    min_ts=day 5 read keeps the key (winner ts = day 9) and MUST still
    carry the day-1 column value — file pruning would lose it, so
    patch mode prunes nothing and only applies the residual."""
    sink = ParquetSnapshotSink(
        spark,
        str(tmp_path / "p"),
        num_buckets=2,
        mode="mor",
        patch_cols=["role", "text", "tool"],
    )

    def _patch(seq, day, **cols):
        body = ",".join(
            f'"{k}":"{v}"' for k, v in cols.items()
        )
        return (
            seq,
            f'{{"op":"update","ts":"2026-01-{day:02d} 00:00:00.000000",'
            f'"data":{{"conv_id":"a","turn_idx":1,{body}}}}}',
        )

    apply_events_batch(_mk(spark, [_patch(0, 1, role="r1")]), sink, "b0")
    apply_events_batch(_mk(spark, [_patch(1, 9, text="late")]), sink, "b1")
    got = sink.read(min_ts="2026-01-05").collect()
    assert len(got) == 1
    assert (got[0].role, got[0].text) == ("r1", "late")
    # full scan confirmed: nothing pruned for patch tables
    assert set(sink.read(min_ts="2026-01-05").inputFiles()) == set(
        sink.read().inputFiles()
    )
    # and below-bound winners are still residual-filtered
    assert sink.read(min_ts="2026-02-01").count() == 0


def test_banded_compact_preserves_state_and_pruning(spark, tmp_path):
    """Time-banded compaction: state identical to plain compaction,
    chain = one element per (band, bucket), zone maps recorded per
    band path, and a freshness read still prunes the cold bands —
    plain compaction would have collapsed to one all-time element and
    killed the prune."""
    sink = ParquetSnapshotSink(
        spark, str(tmp_path / "t"), num_buckets=2, mode="mor", compact_every=64
    )
    apply_events_batch(
        _mk(spark, [_ev(0, "insert", "a", 1, 1), _ev(1, "insert", "b", 1, 2)]),
        sink, "b0",
    )
    apply_events_batch(
        _mk(spark, [_ev(2, "update", "a", 1, 6, text="mid")]), sink, "b1"
    )
    apply_events_batch(_mk(spark, [_ev(3, "insert", "c", 1, 9)]), sink, "b2")
    want = _state(sink.read())
    sink.compact(
        drop_tombstones=False, ts_bands=["2026-01-04", "2026-01-08"]
    )
    m = sink.current_manifest()
    assert _state(sink.read()) == want, "banded compact must not change state"
    all_paths = [p for b in m["buckets"] for p in m["buckets"][b]]
    assert any("_band=" in p for p in all_paths)
    assert set(m["file_stats"]) == set(all_paths), "every band path statted"
    fresh = sink.read(min_ts="2026-01-08 12:00:00")
    assert _state(fresh) == [("c", 1, "t3")]
    assert set(fresh.inputFiles()) < set(sink.read().inputFiles()), (
        "freshness read must prune cold bands post-compaction"
    )


def test_banded_compact_quantile_edges(spark, tmp_path):
    sink = ParquetSnapshotSink(
        spark, str(tmp_path / "t"), num_buckets=2, mode="mor", compact_every=64
    )
    apply_events_batch(
        _mk(spark, [_ev(i, "insert", f"c{i}", 1, 1 + 3 * i) for i in range(8)]),
        sink, "b0",
    )
    want = _state(sink.read())
    res = sink.compact(drop_tombstones=False, ts_bands=4)
    assert _state(sink.read()) == want
    bands = {
        p.split("/")[-2]
        for b in sink.current_manifest()["buckets"]
        for p in sink.current_manifest()["buckets"][b]
    }
    assert len(bands) >= 2, f"quantile banding must split time: {bands}"
    with pytest.raises(ValueError, match=">= 2"):
        sink.compact(ts_bands=1)


def test_vacuum_handles_band_layout(spark, tmp_path):
    sink = ParquetSnapshotSink(
        spark, str(tmp_path / "t"), num_buckets=2, mode="mor", compact_every=64
    )
    apply_events_batch(_mk(spark, [_ev(0, "insert", "a", 1, 1)]), sink, "b0")
    apply_events_batch(_mk(spark, [_ev(1, "insert", "b", 1, 9)]), sink, "b1")
    sink.compact(drop_tombstones=False, ts_bands=["2026-01-05"])
    want = _state(sink.read())
    # band dirs still referenced by the current manifest: must survive
    sink.vacuum(keep_versions=1)
    assert _state(sink.read()) == want
    banded_version_dirs = [
        d for d in (tmp_path / "t" / "data").iterdir()
        if any(s.name.startswith("_band=") for s in d.iterdir())
    ]
    assert banded_version_dirs, "referenced band layout must survive vacuum"
    # plain re-compaction supersedes the bands; vacuum reclaims them
    sink.compact(drop_tombstones=False)
    sink.vacuum(keep_versions=1)
    assert _state(sink.read()) == want
    leftover = [
        s
        for d in (tmp_path / "t" / "data").iterdir() if d.is_dir()
        for s in d.iterdir() if s.name.startswith("_band=")
    ]
    assert not leftover, f"superseded band dirs must be reclaimed: {leftover}"


def test_key_range_skipping_point_lookup(spark, tmp_path):
    """Footer key-range zone maps: a point lookup opens only the chain
    elements whose [min,max] key range can contain the probed key —
    deltas that touched disjoint key ranges are skipped entirely."""
    sink = ParquetSnapshotSink(spark, str(tmp_path / "t"), num_buckets=1, mode="mor")
    apply_events_batch(
        _mk(spark, [_ev(0, "insert", "aa", 1, 1), _ev(1, "insert", "ab", 1, 1)]),
        sink, "b0",
    )
    apply_events_batch(
        _mk(spark, [_ev(2, "insert", "zy", 1, 2), _ev(3, "insert", "zz", 1, 2)]),
        sink, "b1",
    )
    apply_events_batch(
        _mk(spark, [_ev(4, "update", "aa", 1, 3, text="hot")]), sink, "b2"
    )
    assert sink.current_manifest()["key_stats"], "key zone maps recorded"
    full = set(sink.read().inputFiles())
    zz = sink.read(key_eq={"conv_id": "zz"})
    assert _state(zz) == [("zz", 1, "t3")]
    assert set(zz.inputFiles()) < full, "disjoint-key deltas must be skipped"
    # key updated across deltas: both its elements open, result exact
    assert _state(sink.read(key_eq={"conv_id": "aa"})) == [("aa", 1, "hot")]
    # miss inside the bucket: skipping alone may empty the chain — the
    # typed-empty fall-through must hold
    assert sink.read(key_eq={"conv_id": "mm"}).count() == 0


def test_key_skipping_exact_in_patch_mode(spark, tmp_path):
    """Key skipping removes only OTHER keys' rows, so unlike ts
    pruning it stays exact for patch tables: the looked-up key's
    carry-forward columns must survive."""
    sink = ParquetSnapshotSink(
        spark, str(tmp_path / "p"), num_buckets=1, mode="mor",
        patch_cols=["role", "text", "tool"],
    )

    def _patch(seq, conv, day, **cols):
        body = ",".join(f'"{k}":"{v}"' for k, v in cols.items())
        return (
            seq,
            f'{{"op":"update","ts":"2026-01-{day:02d} 00:00:00.000000",'
            f'"data":{{"conv_id":"{conv}","turn_idx":1,{body}}}}}',
        )

    apply_events_batch(_mk(spark, [_patch(0, "aa", 1, role="r1")]), sink, "b0")
    apply_events_batch(_mk(spark, [_patch(1, "zz", 2, role="rz")]), sink, "b1")
    apply_events_batch(_mk(spark, [_patch(2, "aa", 3, text="late")]), sink, "b2")
    row = sink.read(key_eq={"conv_id": "aa"}).collect()[0]
    assert (row.role, row.text) == ("r1", "late"), "carry-forward intact"
    zz = sink.read(key_eq={"conv_id": "zz"})
    assert set(zz.inputFiles()) < set(sink.read().inputFiles())


def _setup_with_stats(spark, root, mode, num_buckets=2, more_keys=0):
    """Base + two deltas per touched bucket, with a declared stats
    column: b0, a compaction, then b1 and b2 (an update, an insert, a
    delete). ``more_keys`` adds that many inserted keys to b0 and b1.
    Returns the sink and the raw events."""
    sink = ParquetSnapshotSink(
        spark, root, num_buckets=num_buckets, mode=mode, compact_every=64,
        stats_cols=["turn_idx"],
    )
    b0 = [_ev(0, "insert", "a", 1, 1), _ev(1, "insert", "b", 2, 2),
          _ev(2, "insert", "c", 3, 3)]
    b1 = [_ev(3, "update", "a", 1, 5, text="a2"), _ev(4, "insert", "d", 4, 6)]
    b2 = [_ev(5, "delete", "b", 2, 8), _ev(6, "insert", "e", 5, 9)]
    # keys arrive out of order, so a sorted file is the writer's doing
    b0 += [_ev(100 + i, "insert", f"m{-i % more_keys:02d}", i, 2) for i in range(more_keys)]
    b1 += [_ev(200 + i, "insert", f"n{-i % more_keys:02d}", i, 5) for i in range(more_keys)]
    apply_events_batch(_mk(spark, b0), sink, "b0")
    sink.compact(drop_tombstones=False)
    apply_events_batch(_mk(spark, b1), sink, "b1")
    apply_events_batch(_mk(spark, b2), sink, "b2")
    return sink, _mk(spark, b0 + b1 + b2)


_STATE = [("a", 1, "a2"), ("c", 3, "t2"), ("d", 4, "t4"), ("e", 5, "t6")]


def _restore(sink, events):
    from embulk_util_json_spark.operators.lww import lww_agg
    from embulk_util_json_spark.sources.events import parse_change_events

    truth = lww_agg(
        parse_change_events(events), ["conv_id", "turn_idx"], ["ts", "seq"]
    )
    return sink.restore_buckets(truth, [0])


def _apply_b3(sink, events):
    return apply_events_batch(
        _mk(sink.spark, [_ev(7, "insert", "f", 6, 10)]), sink, "b3"
    )


def _merge(sink, events):
    src = sink.spark.createDataFrame(
        [("c", 3, "r", "merged", "x", "2026-01-11"),
         ("g", 7, "r", "new", "x", "2026-01-11")],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    return merge_into(sink, src, "m1")


# writer → (sink mode, the op after the set-up, expected state)
_WRITERS = {
    "mor_apply": ("mor", _apply_b3, _STATE + [("f", 6, "t7")]),
    "mow_apply": ("mow", _apply_b3, _STATE + [("f", 6, "t7")]),
    "merge_into": (
        "mor",
        _merge,
        [("a", 1, "a2"), ("c", 3, "merged"), ("d", 4, "t4"), ("e", 5, "t6"),
         ("g", 7, "new")],
    ),
    "compact": ("mor", lambda sink, ev: sink.compact(), _STATE),
    "compact_banded": (
        "mor",
        lambda sink, ev: sink.compact(
            drop_tombstones=False, ts_bands=["2026-01-04", "2026-01-07"]
        ),
        _STATE,
    ),
    "compact_minor": (
        "mor", lambda sink, ev: sink.compact_minor(min_delta_levels=1), _STATE
    ),
    "rebucket": ("mor", lambda sink, ev: sink.rebucket(3), _STATE),
    "restore_buckets": ("mor", _restore, _STATE),
    "evolve_patch_cols": (
        "mor",
        lambda sink, ev: sink.evolve_patch_cols(
            {"role": "string"}, unchanged_marker="__u__"
        ),
        _STATE,
    ),
    "rewrite": (
        "mor",
        lambda sink, ev: sink.rewrite(
            lambda df: df.withColumn("text", F.upper("text"))
        ),
        [(c, t, x.upper()) for c, t, x in _STATE],
    ),
    "purge": (
        "mor",
        lambda sink, ev: sink.purge(key_eq={"conv_id": "a"}, expire_history=False),
        _STATE[1:],
    ),
}


@pytest.mark.parametrize("writer", sorted(_WRITERS))
def test_every_writer_keeps_zone_maps_exact(spark, tmp_path, writer):
    """Whatever wrote the current version, its manifest zone maps cover
    exactly the referenced paths: every path has ``file_stats``,
    ``key_stats`` and a ``col_stats`` bound for the declared column, no
    per-path map keeps an entry for a replaced path, ``fsck`` is clean
    and the state is the expected one."""
    from embulk_util_json_spark.pipeline.reconcile import fsck

    mode, op, want = _WRITERS[writer]
    sink, events = _setup_with_stats(spark, str(tmp_path / "t"), mode)
    res = op(sink, events)
    assert not res.get("skipped") and res.get("rewritten", True), res
    m = sink.current_manifest()
    referenced = {p for b in m["buckets"] for p in sink._paths_of(m, b)}
    assert referenced
    for p in referenced:
        assert p in m["file_stats"] and p in m["key_stats"], p
        assert "turn_idx" in m["col_stats"].get(p, {}), p
    for kind in ("file_stats", "key_stats", "col_stats", "blooms"):
        assert set(m.get(kind) or {}) <= referenced, kind
    assert fsck(sink)["ok"]
    assert _state(sink.read()) == sorted(want)


@pytest.mark.parametrize("writer", sorted(_WRITERS))
def test_crash_before_commit_leaves_table_unchanged(
    spark, tmp_path, monkeypatch, writer
):
    """A writer that dies after staging its level but before the
    manifest commit changes nothing a reader sees: same version, same
    batch ledger, same state, ``fsck`` clean (deep), the staged dir is
    an orphan that ``remove_orphans`` reclaims, and re-running the op
    reaches the expected state."""
    from embulk_util_json_spark.pipeline.reconcile import fsck

    mode, op, want = _WRITERS[writer]
    sink, events = _setup_with_stats(spark, str(tmp_path / "t"), mode)
    version, batch_ids = sink.current_version(), sink.applied_batch_ids()
    state = _state(sink.read())
    data = tmp_path / "t" / "data"
    dirs = set(os.listdir(data))

    def crash(self, manifest, path_stats=None):
        raise RuntimeError("crash before the commit")

    with monkeypatch.context() as m:
        m.setattr(ParquetSnapshotSink, "_commit", crash)
        with pytest.raises(RuntimeError, match="crash before the commit"):
            op(sink, events)
    assert set(os.listdir(data)) > dirs, "the level was staged"
    assert sink.current_version() == version
    assert sink.applied_batch_ids() == batch_ids
    assert _state(sink.read()) == state
    assert fsck(sink, deep=True)["ok"]
    sink.remove_orphans(grace_seconds=0)
    assert set(os.listdir(data)) == dirs
    op(sink, events)
    assert _state(sink.read()) == sorted(want)


@pytest.mark.parametrize("writer", sorted(_WRITERS))
def test_every_writer_writes_one_key_sorted_file_per_bucket(spark, tmp_path, writer):
    """A write task may hold several buckets (8 buckets, at most
    ``spark.sql.shuffle.partitions`` = 4 tasks, one after adaptive
    coalescing), yet every bucket dir a writer adds holds exactly one
    parquet file, sorted by the keys."""
    import pyarrow.parquet as pq

    mode, op, _ = _WRITERS[writer]
    sink, events = _setup_with_stats(
        spark, str(tmp_path / "t"), mode, num_buckets=8, more_keys=40
    )
    data = tmp_path / "t" / "data"
    before = set(os.listdir(data))
    op(sink, events)
    levels = [
        d
        for v in set(os.listdir(data)) - before
        for d, _, _ in os.walk(data / v)
        if os.path.basename(d).startswith(f"{BUCKET_COL}=")
    ]
    assert levels
    for d in levels:
        files = [f for f in os.listdir(d) if f.endswith(".parquet")]
        assert len(files) == 1, (d, files)
        rows = pq.read_table(os.path.join(d, files[0]), columns=sink.keys).to_pylist()
        keys = [tuple(r[k] for k in sink.keys) for r in rows]
        assert keys == sorted(keys), d


def test_where_prunes_declared_column_after_compact(spark, tmp_path):
    """Compaction records ``col_stats`` for the chains it writes, so
    ``read(where=...)`` on the declared column still skips a chain."""
    sink = ParquetSnapshotSink(
        spark, str(tmp_path / "t"), num_buckets=2, mode="mor",
        compact_every=64, stats_cols=["turn_idx"],
    )
    convs = [f"k{i}" for i in range(40)]
    low = [c for c in convs if sink.bucket_of(c) == 0][:3]
    high = [c for c in convs if sink.bucket_of(c) == 1][:3]
    rows = [_ev(i, "insert", c, 1 + i, 1) for i, c in enumerate(low)]
    rows += [_ev(10 + i, "insert", c, 50 + i, 2) for i, c in enumerate(high)]
    apply_events_batch(_mk(spark, rows[:3]), sink, "b0")
    apply_events_batch(_mk(spark, rows[3:]), sink, "b1")
    sink.compact()
    got = sink.read(where=[("turn_idx", ">=", 50)])
    assert _state(got) == sorted(
        (c, 50 + i, f"t{10 + i}") for i, c in enumerate(high)
    )
    assert set(got.inputFiles()) < set(sink.read().inputFiles())


def _by_function(tree):
    """(innermost enclosing ``def`` name or None, node) for every node."""
    stack = [(tree, None)]
    while stack:
        node, fn = stack.pop()
        yield fn, node
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            fn = node.name
        stack.extend((c, fn) for c in ast.iter_child_nodes(node))


def test_bucket_writes_and_zone_map_merges_have_one_home():
    """Every bucket write goes through ``_write_buckets`` (the only
    ``.partitionBy(`` in ``sinks/snapshot.py``), whose one caller is
    ``_write_level``, the only code that builds a chain map (sets a
    ``buckets`` key); and only ``_commit`` merges the per-path zone
    maps: no other code in the package sets a ``file_stats`` /
    ``key_stats`` / ``col_stats`` key. Exempt: ``_copy`` (the table
    copy) re-keying the source's chains and maps to the copy's paths,
    and ``_empty_manifest``'s empty chain map."""
    pkg = pathlib.Path(embulk_util_json_spark.__file__).parent
    maps = {"file_stats", "key_stats", "col_stats"}
    offenders = []
    for path in sorted(pkg.rglob("*.py")):
        rel = str(path.relative_to(pkg))
        for fn, node in _by_function(ast.parse(path.read_text(), rel)):
            if (
                rel == "sinks/snapshot.py"
                and isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "partitionBy"
                and fn != "_write_buckets"
            ):
                offenders.append(f"{rel}:{node.lineno} partitionBy in {fn}")
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "_write_buckets"
                and fn != "_write_level"
            ):
                offenders.append(f"{rel}:{node.lineno} _write_buckets in {fn}")
            if isinstance(node, ast.Dict):
                keys = node.keys
            elif isinstance(node, ast.Subscript) and isinstance(node.ctx, ast.Store):
                keys = [node.slice]
            elif isinstance(node, ast.keyword):
                keys = [ast.Constant(node.arg)]
            else:
                continue
            if fn not in ("_commit", "_copy") and any(
                isinstance(k, ast.Constant) and k.value in maps for k in keys
            ):
                offenders.append(f"{rel}:{node.lineno} zone map set in {fn}")
            if fn not in ("_write_level", "_copy", "_empty_manifest") and any(
                isinstance(k, ast.Constant) and k.value == "buckets" for k in keys
            ):
                offenders.append(f"{rel}:{node.lineno} chain map set in {fn}")
    assert offenders == []


# the constructor layout a copy forwards (``_layout``)
_LAYOUT = {"keys", "order_cols", "bucket_by", "mode", "compact_every", "num_buckets"}


def test_table_copies_have_one_home():
    """Data directories in ``sinks/`` are copied or linked only by the
    table copy, ``ParquetSnapshotSink._copy``: no ``shutil.copy*`` /
    ``shutil.copytree`` or ``os.link`` anywhere else in ``sinks/`` bar
    ``jsonlog.py`` (whose ``create_json`` links metadata). And no
    ``ParquetSnapshotSink(`` call in ``snapshot.py`` or ``savepoint.py``
    hand-lists a layout kwarg: a copy's handle is built from the one
    ``_layout`` dict (a savepoint's recorded ``layout`` included)."""
    pkg = pathlib.Path(embulk_util_json_spark.__file__).parent
    offenders = []
    for path in sorted((pkg / "sinks").glob("*.py")):
        rel = str(path.relative_to(pkg))
        for fn, node in _by_function(ast.parse(path.read_text(), rel)):
            if (
                isinstance(node, ast.Attribute)
                and isinstance(node.value, ast.Name)
                and (
                    (node.value.id == "shutil" and node.attr.startswith("copy"))
                    or (node.value.id == "os" and node.attr == "link")
                )
                and fn != "_copy"
                and rel != "sinks/jsonlog.py"
            ):
                offenders.append(f"{rel}:{node.lineno} {node.value.id}.{node.attr} in {fn}")
            if (
                rel in ("sinks/snapshot.py", "sinks/savepoint.py")
                and isinstance(node, ast.Call)
                and isinstance(node.func, ast.Name)
                and node.func.id == "ParquetSnapshotSink"
                and {k.arg for k in node.keywords} & _LAYOUT
            ):
                offenders.append(f"{rel}:{node.lineno} hand-listed layout in {fn}")
    assert offenders == []


# per-version provenance markers (``snapshot._MARKERS``)
_MARKERS = {"branched_from", "rolled_back", "cloned_from", "savepoint_of"}


def _constants(nodes):
    return {
        c.value
        for n in nodes
        for c in ast.walk(n)
        if isinstance(c, ast.Constant) and isinstance(c.value, str)
    }


def test_next_manifests_have_one_home():
    """Only ``_next_manifest`` derives a manifest's log and provenance:
    no other code in the package sets an ``applies`` key (bar
    ``_empty_manifest``'s empty log) or strips a provenance marker (a
    ``not in`` / ``==`` test, a ``.pop``, a ``del`` or a loop naming
    one)."""
    pkg = pathlib.Path(embulk_util_json_spark.__file__).parent
    home = ("_next_manifest", "_empty_manifest")
    offenders = []
    for path in sorted(pkg.rglob("*.py")):
        rel = str(path.relative_to(pkg))
        for fn, node in _by_function(ast.parse(path.read_text(), rel)):
            if fn in home:
                continue
            if isinstance(node, ast.Dict):
                keys = [k for k in node.keys if k is not None]
            elif isinstance(node, ast.Subscript) and isinstance(node.ctx, ast.Store):
                keys = [node.slice]
            elif isinstance(node, ast.keyword) and node.arg:
                keys = [ast.Constant(node.arg)]
            else:
                keys = []
            if any(isinstance(k, ast.Constant) and k.value == "applies" for k in keys):
                offenders.append(f"{rel}:{node.lineno} applies set in {fn}")
            if isinstance(node, ast.Compare):
                stripped = [node.left, *node.comparators]
            elif (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "pop"
            ):
                stripped = node.args
            elif isinstance(node, ast.Delete):
                stripped = node.targets
            elif isinstance(node, ast.For):
                stripped = [node.iter]
            else:
                stripped = []
            if _constants(stripped) & _MARKERS:
                offenders.append(f"{rel}:{node.lineno} marker stripped in {fn}")
    assert offenders == []


def test_maintenance_has_one_path():
    """Level rewrites and reclaim each take one path. No code in the
    package names ``pre_partitioned`` (``_write_buckets`` always
    repartitions by ``_bucket`` and the planner drops that exchange
    over ``_partitioned_reduce`` output); ``sinks/snapshot.py`` calls
    ``.repartition(`` only in those two; and only ``vacuum`` and
    ``remove_orphans`` build the other branches' references or call
    the deletion step, ``_reclaim``."""
    pkg = pathlib.Path(embulk_util_json_spark.__file__).parent
    offenders = []
    for path in sorted(pkg.rglob("*.py")):
        rel = str(path.relative_to(pkg))
        for fn, node in _by_function(ast.parse(path.read_text(), rel)):
            name = (
                getattr(node, "id", None)
                or getattr(node, "arg", None)
                or getattr(node, "attr", None)
                or getattr(node, "name", None)
            )
            if name == "pre_partitioned":
                offenders.append(f"{rel}:{node.lineno} pre_partitioned in {fn}")
            if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)):
                continue
            call = node.func.attr
            if (
                rel == "sinks/snapshot.py"
                and call == "repartition"
                and fn not in ("_write_buckets", "_partitioned_reduce")
            ):
                offenders.append(f"{rel}:{node.lineno} repartition in {fn}")
            if call in ("_foreign_branch_refs", "_reclaim") and fn not in (
                "vacuum",
                "remove_orphans",
            ):
                offenders.append(f"{rel}:{node.lineno} {call} in {fn}")
    assert offenders == []
