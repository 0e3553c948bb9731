"""Queryable metadata tables (sinks/snapshot history/files/snapshots):
the Iceberg metadata-table surface over the manifest log — commit
history with maintenance kinds, per-path zone maps, and per-version
time-travel summary with applied frontiers."""

from pyspark.sql import functions as F

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


def _build(spark, tmp_path):
    sink = ParquetSnapshotSink(spark, str(tmp_path / "t"), num_buckets=2, mode="mor")
    apply_events_batch(_mk(spark, [_ev(0, "insert", "a", 1, 1)]), sink, "b0")
    apply_events_batch(_mk(spark, [_ev(1, "insert", "a", 2, 5)]), sink, "b1")
    sink.compact_minor(min_delta_levels=1)
    apply_events_batch(_mk(spark, [_ev(2, "insert", "c", 1, 9)]), sink, "b2")
    return sink


def test_history_kinds_and_order(spark, tmp_path):
    sink = _build(spark, tmp_path)
    rows = sink.history().orderBy("seq_no").collect()
    assert [r.kind for r in rows] == ["apply", "apply", "compact_minor", "apply"]
    assert [r.batch_id for r in rows if r.kind == "apply"] == ["b0", "b1", "b2"]
    assert all(r.detail for r in rows), "heterogeneous fields preserved as JSON"


def _kinds(sink):
    return [r.kind for r in sink.history().orderBy("seq_no").collect()]


def test_history_names_every_commit_once(spark, tmp_path):
    """Every commit of the table's own log adds exactly one history row
    under its own kind — maintenance, DDL, blooms, MERGE INTO and
    rollback included — and a rollback's log is the restored version's
    log plus the rollback row."""
    from embulk_util_json_spark.sinks.merge import merge_into
    from embulk_util_json_spark.sources.events import parse_change_events

    sink = ParquetSnapshotSink(spark, str(tmp_path / "t"), num_buckets=2, mode="mor")
    apply_events_batch(
        _mk(spark, [_ev(0, "insert", "a", 1, 1), _ev(1, "insert", "b", 1, 2)]),
        sink, "b0",
    )
    sink.rewrite(lambda df: df.withColumn("text", F.upper("text")))
    sink.purge(where=F.col("conv_id") == "b", expire_history=False)
    sink.restore_buckets(
        sink.read(include_tombstones=True, include_meta=True), [0]
    )
    src = parse_change_events(_mk(spark, [_ev(2, "insert", "c", 1, 3)]))
    merge_into(sink, src.drop("op", "seq", "_extras"), "m0")
    v_merge = sink.current_version()
    sink.analyze_blooms(columns=["role"])
    sink.rename_column("text", "body")
    ops = [
        "apply", "rewrite", "purge", "restore", "merge_into",
        "analyze_blooms", "rename_column",
    ]
    assert _kinds(sink) == ops
    rows = sink.history().orderBy("seq_no").collect()
    assert [r.version for r in rows] == list(range(1, len(ops) + 1))
    assert [r.batch_id for r in rows] == ["b0", None, None, None, "m0", None, None]

    sink.rollback(v_merge)
    assert _kinds(sink) == ops[:v_merge] + ["rollback"]
    assert sink.history().collect()[-1].version == sink.current_version()


def test_files_zone_map_join(spark, tmp_path):
    sink = _build(spark, tmp_path)
    f = sink.files()
    chains = sink.current_manifest()["buckets"]
    assert f.count() == sum(len(ps) for ps in chains.values())
    statted = f.filter(F.col("ts_min_us").isNotNull())
    assert statted.count() == f.count(), "every written path carries ts stats"
    r = statted.orderBy("bucket", "chain_pos").collect()[0]
    assert r.ts_min_us <= r.ts_max_us and r.key_min <= r.key_max


def test_snapshots_versions_and_frontier(spark, tmp_path):
    sink = _build(spark, tmp_path)
    snaps = {r.version: r for r in sink.snapshots().collect()}
    assert set(snaps) == {1, 2, 3, 4}
    assert snaps[sink.current_version()].n_batches == 3
    # frontier grows with applied event time (day 1 → day 5 → day 9)
    fr = [snaps[v].frontier_us for v in sorted(snaps)]
    assert all(f is not None for f in fr)
    assert fr == sorted(fr) and fr[0] < fr[-1]
    # vacuum drops versions from the listing
    sink.vacuum(keep_versions=1, protect_cursors=False)
    assert [r.version for r in sink.snapshots().collect()] == [4]
