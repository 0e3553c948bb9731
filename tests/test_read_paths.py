"""Every way ``ParquetSnapshotSink.read`` picks its files — the
``key_eq`` bucket, the ``probe_keys`` hit set, all buckets — combined
with ``min_ts``, ``where``, ``columns`` and ``at_version``, returns the
full read filtered in Python. The sink is MOR with ``stats_cols``, a
compacted base and two delta levels, so every pruning step (where-skip,
zone-map prune, key-range skip) has something to drop. Also pinned:
the merge runs only when a read chain has more than one level, and the
change feeds treat ``to_version=0`` as the empty version."""

import datetime

import pytest
from pyspark.sql import functions as F

from embulk_util_json_spark.sinks.snapshot import ParquetSnapshotSink
from embulk_util_json_spark.streaming.runner import apply_events_batch

CONVS = ["a", "b", "c", "d", "e", "f"]


def _ev(seq, op, conv, turn, day):
    return (
        seq,
        f'{{"op":"{op}","ts":"2026-01-{day:02d} 00:00:00.000000",'
        f'"data":{{"conv_id":"{conv}","turn_idx":{turn},"role":"r",'
        f'"text":"t{seq}","tool":"x"}}}}',
    )


def _apply(spark, sink, batch_id, events):
    first = len(sink.applied_batch_ids()) * 1000
    rows = [_ev(seq, *e) for seq, e in enumerate(events, start=first)]
    apply_events_batch(spark.createDataFrame(rows, "seq long, event_json string"), sink, batch_id)


@pytest.fixture(scope="module")
def sink(spark, tmp_path_factory):
    s = ParquetSnapshotSink(
        spark, str(tmp_path_factory.mktemp("read_paths")), num_buckets=2,
        mode="mor", stats_cols=["turn_idx"],
    )
    _apply(spark, s, "b0", [("insert", c, t, 1) for c in CONVS for t in range(4)])
    _apply(spark, s, "b1", [("update", c, 3, 2) for c in CONVS[:3]])
    s.compact()
    # two delta levels over the compacted base; "a" changes in every level
    _apply(spark, s, "d1", [("update", c, t, 5) for c in "abc" for t in range(3)]
           + [("delete", "d", 1, 5)])
    _apply(spark, s, "d2", [("update", "a", 0, 9), ("update", "e", 2, 9),
                            ("insert", "g", 0, 9)])
    return s


def _rows(df):
    cols = sorted(df.columns)
    return cols, sorted(tuple(r[c] for c in cols) for r in df.collect())


def _expected(full, conv=None, probe=None, min_ts=None, where=None, columns=None):
    rows = [r.asDict() for r in full.collect()]
    if conv is not None:
        rows = [r for r in rows if r["conv_id"] == conv]
    if probe is not None:
        rows = [r for r in rows if r["conv_id"] in probe]
    if min_ts is not None:
        rows = [r for r in rows if r["ts"] >= datetime.datetime.fromisoformat(min_ts)]
    if where is not None:
        rows = [r for r in rows if r["turn_idx"] >= where]
    cols = sorted(["conv_id", "turn_idx", *columns] if columns else full.columns)
    return cols, sorted(tuple(r[c] for c in cols) for r in rows)


OPTIONS = {
    "plain": {},
    "min_ts": {"min_ts": "2026-01-04"},
    "where": {"where": [("turn_idx", ">=", 2)]},
    "columns": {"columns": ["text"]},
    "at_version": {"at_version": 4},
    "all": {
        "min_ts": "2026-01-04",
        "where": [("turn_idx", ">=", 2)],
        "columns": ["text"],
        "at_version": 5,
    },
}


@pytest.mark.parametrize("path", ["key_eq", "probe_keys", "full"])
@pytest.mark.parametrize("opt", list(OPTIONS))
def test_read_path_equals_filtered_full_read(spark, sink, path, opt):
    kw = dict(OPTIONS[opt])
    filt = {
        "min_ts": kw.get("min_ts"),
        "where": 2 if "where" in kw else None,
        "columns": kw.get("columns"),
    }
    if path == "key_eq":
        kw["key_eq"] = {"conv_id": "a"}
        filt["conv"] = "a"
    elif path == "probe_keys":
        probe = ["a", "d", "g"]
        kw["probe_keys"] = spark.createDataFrame([(c,) for c in probe], "conv_id string")
        filt["probe"] = probe
    full = sink.read(at_version=kw.get("at_version"))
    want = _expected(full, **filt)
    assert want[1], "the case must select some rows"
    assert _rows(sink.read(**kw)) == want


def test_key_eq_and_probe_keys_both_restrict(spark, sink):
    def probe(*convs):
        return spark.createDataFrame([(c,) for c in convs], "conv_id string")

    assert sink.read(key_eq={"conv_id": "a"}, probe_keys=probe("b")).count() == 0
    assert _rows(sink.read(key_eq={"conv_id": "a"}, probe_keys=probe("a", "b"))) == _rows(
        sink.read(key_eq={"conv_id": "a"})
    )


def _plans_aggregate(df) -> bool:
    return "Aggregate" in df._jdf.queryExecution().optimizedPlan().toString()


def test_merge_runs_only_for_multi_level_chains(sink):
    chains = sink.current_manifest()["buckets"].values()
    assert max(len(c) for c in chains) >= 3, "compacted base + two deltas"
    # only the last delta is fresh enough: one level per bucket, no merge
    fresh = sink.read(min_ts="2026-01-08")
    assert not _plans_aggregate(fresh)
    assert _rows(fresh) == _expected(sink.read(), min_ts="2026-01-08")
    # "a" lives in the base and in both deltas: the chain needs the merge
    point = sink.read(key_eq={"conv_id": "a"})
    assert _plans_aggregate(point)
    assert _rows(point) == _expected(sink.read(), conv="a")


def test_to_version_zero_is_the_empty_version(sink):
    assert sink.read().count() > 0
    assert sink.read_changes(0, 0).count() == 0
    assert sink.changed_keys(0, 0).count() == 0
    # None still means "current": the whole table as inserts
    assert sink.read_changes(0).filter(F.col("op") != "delete").count() == sink.read().count()
