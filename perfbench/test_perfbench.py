"""The benchmark's own tests, at tiny sizes.

    python3 -m pytest perfbench -q

One Spark session with event logging serves every test: untraced runs
ignore the log.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import run as bench  # noqa: E402
from perfbench.tracing import Tracer  # noqa: E402
from perfbench.workloads import WORKLOADS, Ctx, ReplayBulk, Sizes  # noqa: E402

TINY = Sizes(
    bulk_events=6_000,
    bulk_batches=2,
    bulk_buckets=4,
    trickle_events=6_000,
    trickle_segments=8,
    trickle_read_every=2,
    trickle_buckets=4,
    trickle_compact_every=1,
    docs=600,
    warm_events=2_000,
    compute_sample_docs=50,
)

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


@pytest.fixture(scope="module")
def session(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("perfbench"))
    log_dir = os.path.join(work, "eventlog")
    spark = bench.start_spark(work, 2, log_dir)
    yield spark, work, log_dir
    bench.stop_spark(spark)


def _run(session, workload: str, trace: int) -> dict:
    spark, work, log_dir = session
    args = argparse.Namespace(workload=workload, seed=7, seconds=0.0, trace=trace)
    sub = os.path.join(work, f"{workload}-{trace}")
    os.makedirs(sub)
    result, _ = bench.run_in_session(spark, args, sub, log_dir, (1.0, 1.0, 0.0), TINY)
    return result


def _expect_metrics(result: dict, specs: list[dict]) -> None:
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    got = result["metrics"]
    assert set(got) == {m["name"] for m in specs}
    for m in specs:
        assert got[m["name"]]["unit"] == m["unit"]
        assert isinstance(got[m["name"]]["value"], (int, float))


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_end_to_end_metrics_named_with_units(session, workload):
    result = _run(session, workload, 0)
    _expect_metrics(result, SPEC["end_to_end"])
    assert all(v["value"] > 0 for v in result["metrics"].values())


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_traced_run_emits_every_layer_metric(session, workload):
    result = _run(session, workload, 1)
    _expect_metrics(result, SPEC["per_layer"])
    m = {k: v["value"] for k, v in result["metrics"].items()}
    if workload == "capture_docs":
        assert m["operators.capture.docs_out"] > TINY.docs  # concatenated documents
        assert m["functions.json_values.compute_s_per_doc"] > 0
    else:
        assert m["sinks.snapshot.apply.jobs"] > 0 and m["sinks.snapshot.apply.tasks"] > 0
        assert m["sources.events.rows"] > 0
        # the four layers' self times account for the workload's wall
        assert abs(m["trace.layer_coverage"] - 1) < 0.05
    if workload == "trickle_read":
        assert m["sinks.snapshot.compact.calls"] > 0


def test_benchmark_json_names_known_workloads():
    assert {w["name"] for w in SPEC["workloads"]} <= set(WORKLOADS)


def test_corrupted_table_is_caught(session, tmp_path):
    spark, _, _ = session
    ctx = Ctx(spark, Tracer(), str(tmp_path), 3, TINY, 2)
    w = ReplayBulk(ctx)
    bench.generate(w, str(tmp_path / "inputs"))
    tally = w.measure(0.0)
    assert tally.failed == 0

    # Rewrite the text of one stored row that the last read returned.
    live = set(w.reads[-1][2].column("text").to_pylist())
    for d, _, files in sorted(os.walk(os.path.join(w.sink.root, "data"))):
        paths = [os.path.join(d, f) for f in sorted(files) if f.endswith(".parquet")]
        hits = [(p, t) for p in paths for t in [pq.read_table(p)] if live & set(t.column("text").to_pylist())]
        if hits:
            break
    path, t = hits[0]
    text = t.column("text").to_pylist()
    text[next(i for i, x in enumerate(text) if x in live)] = "corrupted"
    pq.write_table(t.set_column(t.schema.get_field_index("text"), "text", [text]), path)
    # Hadoop's local file system would reject the file on its stale checksum
    crc = os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    segments = w._segments_of(w.events_dir)
    w.reads.clear()
    w._read(w.sink, "scan", len(segments))
    w.verify(segments)
    assert w.tally.failed == 1
