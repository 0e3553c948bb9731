"""Crash matrix of the applier and view state step
(``sinks.jsonlog.StateDir``), driven through each of its users.

Every user runs one scenario: set-up, one call that fails, then the
calls that follow it. The failure is injected at each step of a state
change: the generation write (the Spark write job itself fails), the
state publish (``os.replace`` onto the state file) and the sweep (the
process dies as the sweep begins). After the failure the committed
state must read back and every generation it names must load; after
each following call no generation the state does not name may be
left; and the run must reach the sink or view state of an
uninterrupted run.
"""

from __future__ import annotations

import os
import shutil

import pyarrow.parquet as pq
import pytest
from pyspark.sql import Row, functions as F

from embulk_util_json_spark.pipeline.agg_view import IncrementalAggView
from embulk_util_json_spark.sinks.jsonlog import StateDir, replace_json
from embulk_util_json_spark.sinks.snapshot import ParquetSnapshotSink
from embulk_util_json_spark.sources.generator import generate_events
from embulk_util_json_spark.streaming.fenced import FencedApplier
from embulk_util_json_spark.streaming.runner import apply_events_batch
from embulk_util_json_spark.streaming.txn_boundary import TxnBoundaryApplier

N = 300


class Injected(RuntimeError):
    pass


@pytest.fixture(scope="module")
def ev_parquet(tmp_path_factory):
    path = str(tmp_path_factory.mktemp("state_dir") / "events.parquet")
    pq.write_table(generate_events(N, n_convs=10, n_turns=10), path)
    return path


# Each scenario: (spark, events, root) -> (user, output frame of the
# sink or view, the call that fails, the calls that follow it).


def _fenced(spark, ev, root):
    s = F.col("seq")
    sink = ParquetSnapshotSink(spark, str(root / "t"), num_buckets=2)
    fa = FencedApplier(spark, sink, str(root / "w"))
    fa.apply(ev.filter((s < 100) | (s >= 120)))  # holds [120, N)

    def tick():  # nothing new: the hole stays open, the pending rows
        return fa.apply(ev.limit(0))  # are written again

    def refetch():
        return fa.apply(ev.filter((s >= 100) & (s < 120)))

    return fa, sink.read, tick, [tick, refetch]


def _markers(spark, txids):
    return spark.createDataFrame([Row(txid=t, status="commit") for t in txids])


def _txn_boundary(spark, ev, root):
    ev = ev.withColumn("txid", F.expr("seq div 30"))
    t = F.col("txid")
    sink = ParquetSnapshotSink(spark, str(root / "t"), num_buckets=2)
    ap = TxnBoundaryApplier(spark, sink, str(root / "w"))
    ap.apply(ev.filter(t < 5), _markers(spark, range(3)))  # holds 3, 4

    def batch():  # commits 3..7, holds 8 and 9; redelivered as is
        return ap.apply(ev.filter(t >= 5), _markers(spark, range(3, 8)))

    def drain():
        return ap.apply(ev.limit(0), _markers(spark, range(8, 10)))

    return ap, sink.read, batch, [batch, drain]


def _agg_view(spark, ev, root):
    s = F.col("seq")
    sink = ParquetSnapshotSink(spark, str(root / "t"), num_buckets=2)
    mv = IncrementalAggView(
        spark, str(root / "w"), sink, ["conv_id"],
        {"n": F.lit(1), "len": F.length("text")},
    )
    apply_events_batch(ev.filter(s < 100), sink, "b0")
    mv.refresh()
    apply_events_batch(ev.filter((s >= 100) & (s < 200)), sink, "b1")

    def next_refresh():
        apply_events_batch(ev.filter(s >= 200), sink, "b2")
        return mv.refresh()

    return mv, mv.read, mv.refresh, [next_refresh]


SCENARIOS = {
    "fenced": (_fenced, {"pending": "pending-"}),
    "txn_boundary": (
        _txn_boundary, {"pending": "pending-", "markers": "markers-"}
    ),
    "agg_view": (_agg_view, {"data": "agg-"}),
}


def _inject(monkeypatch, spark, point, work):
    if point == "write":
        # PySpark 4's classic DataFrame overrides ``write``, so the
        # property of the concrete class is the one to patch
        cls = type(spark.range(1))
        real = cls.write.fget
        monkeypatch.setattr(
            cls, "write", property(lambda df: _FailingWriter(df, real, work))
        )
    elif point == "publish":
        real_replace = os.replace

        def replace(src, dst, *a, **kw):
            dst = os.fspath(dst)
            if os.path.dirname(dst) == work and dst.endswith(".json"):
                raise Injected("crash at the state publish")
            return real_replace(src, dst, *a, **kw)

        monkeypatch.setattr(os, "replace", replace)
    else:
        real_rmtree = shutil.rmtree

        def rmtree(path, *a, **kw):
            if os.fspath(path).startswith(work):
                raise Injected("crash as the sweep began")
            return real_rmtree(path, *a, **kw)

        monkeypatch.setattr(shutil, "rmtree", rmtree)


class _FailingWriter:
    """``df.write`` stand-in: a parquet write into ``work`` runs with a
    column that raises, so the write job starts (and, in overwrite
    mode, has already cleared its target) and then fails. Other
    writes replay their calls on the real writer."""

    def __init__(self, df, make, work):
        self._df, self._make, self._work, self._calls = df, make, work, []

    def __getattr__(self, name):
        def call(*args, **kw):
            if name != "parquet":
                self._calls.append((name, args, kw))
                return self
            df = self._df
            if os.fspath(args[0]).startswith(self._work):
                df = df.withColumn(
                    "_injected", F.raise_error(F.lit("injected write failure"))
                )
            writer = self._make(df)
            for n, a, k in self._calls:
                writer = getattr(writer, n)(*a, **k)
            return writer.parquet(*args, **kw)

        return call


def _rows(df):
    return sorted(map(str, df.collect()))


def _observe(user, read, generations):
    """The sink or view rows plus the rows of every generation the
    committed state names (names differ between runs, content not;
    rows are a multiset: a redelivered batch holds each row once)."""
    state = user.state_dir.read()
    held = {
        f: _rows(user.state_dir.load(state, f)) if state.get(f) else None
        for f in generations
    }
    return held, _rows(read())


def _assert_swept(work, user, generations):
    state = user.state_dir.read()
    named = {state[f] for f in generations if state.get(f)}
    on_disk = {
        f for f in os.listdir(work) if f.startswith(tuple(generations.values()))
    }
    assert on_disk == named


@pytest.fixture(scope="module")
def uninterrupted(spark, ev_parquet, tmp_path_factory):
    """Per scenario, what each following call observes when the call
    before it did not fail."""
    ev = spark.read.parquet(ev_parquet)
    out = {}
    for name, (make, generations) in SCENARIOS.items():
        user, read, call, follow = make(
            spark, ev, tmp_path_factory.mktemp(f"clean_{name}")
        )
        call()
        out[name] = []
        for step in follow:
            step()
            out[name].append(_observe(user, read, generations))
    return out


@pytest.mark.parametrize("point", ["write", "publish", "sweep"])
@pytest.mark.parametrize("name", sorted(SCENARIOS))
def test_crash_at_each_step_converges(
    spark, ev_parquet, uninterrupted, tmp_path, monkeypatch, name, point
):
    ev = spark.read.parquet(ev_parquet)
    make, generations = SCENARIOS[name]
    user, read, call, follow = make(spark, ev, tmp_path)
    work = str(tmp_path / "w")

    _inject(monkeypatch, spark, point, work)
    with pytest.raises(Exception, match="injected|crash"):
        call()
    monkeypatch.undo()

    # the committed state reads back and every generation it names loads
    state = user.state_dir.read()
    for f in generations:
        if state.get(f):
            user.state_dir.load(state, f).collect()

    for step, want in zip(follow, uninterrupted[name]):
        step()
        _assert_swept(work, user, generations)
        assert _observe(user, read, generations) == want


def test_older_work_dir_loads_and_sweep_keeps_other_entries(tmp_path):
    """A work dir whose generations carry the older fixed names
    (``pending-<fence>.parquet``) still loads; a publish sweeps only
    the generations the new state does not name."""
    for d in ("pending-500.parquet", "pending-abandon-900.parquet", "other"):
        (tmp_path / d).mkdir()
    replace_json(
        str(tmp_path / "fence.json"),
        {"next_seq": 500, "pending": "pending-500.parquet"},
    )
    sd = StateDir(
        str(tmp_path), "fence.json", {"next_seq": None, "pending": None},
        {"pending": "pending-"}, lambda path: path,
    )
    state = sd.read()
    assert sd.load(state, "pending") == str(tmp_path / "pending-500.parquet")
    name = sd.stage("pending", os.mkdir)
    assert name.startswith("pending-") and name != state["pending"]
    sd.publish({"next_seq": 600, "pending": name})
    assert sorted(os.listdir(tmp_path)) == sorted(["fence.json", "other", name])
    assert sd.read() == {"next_seq": 600, "pending": name}
