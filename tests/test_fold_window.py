"""The one refresh step of a table consumer, ``sinks.feed.fold_window``:
a metadata-only source window commits its empty batch for every
consumer (the index's mark advances like the mirror's), the aggregate
view keeps its own position over such a window, and no consumer forks
the window protocol again."""

from __future__ import annotations

import ast
import pathlib

from pyspark.sql import functions as F

import embulk_util_json_spark
from embulk_util_json_spark.pipeline.agg_view import IncrementalAggView
from embulk_util_json_spark.sinks.index import SecondaryIndex, last_indexed_version
from embulk_util_json_spark.sinks.snapshot import ParquetSnapshotSink
from embulk_util_json_spark.streaming.runner import apply_events_batch


def _ev(seq, conv, tool):
    return (
        seq,
        f'{{"op":"insert","ts":"2026-01-01 00:00:{seq:02d}.000000",'
        f'"data":{{"conv_id":"{conv}","turn_idx":0,"role":"r",'
        f'"text":"t{seq}","tool":"{tool}"}}}}',
    )


def _base(spark, tmp_path):
    base = ParquetSnapshotSink(spark, str(tmp_path / "t"), num_buckets=2)
    rows = [_ev(1, "c1", "search"), _ev(2, "c2", "python"), _ev(3, "c3", "search")]
    apply_events_batch(
        spark.createDataFrame(rows, "seq long, event_json string"), base, "b0"
    )
    return base


def test_index_metadata_only_window_advances_mark(spark, tmp_path):
    """An ``add_column``-only source window commits the index's empty
    batch, so ``last_indexed_version`` reaches the source's version and
    the next refresh is up to date (the mirror's rule)."""
    base = _base(spark, tmp_path)
    ix = SecondaryIndex(spark, str(tmp_path / "ix"), base, "tool")
    assert not ix.refresh()["skipped"]
    base.add_column("score", "int")  # metadata-only commit
    r = ix.refresh()
    assert not r["skipped"]
    assert (r["from_version"], r["to_version"]) == (1, 2)
    assert last_indexed_version(ix.index) == base.current_version() == 2
    assert ix.refresh()["reason"] == "up-to-date"
    keys = sorted(r.conv_id for r in ix.lookup("search").collect())
    assert keys == ["c1", "c3"]


def test_agg_view_metadata_only_window_keeps_groups(spark, tmp_path):
    """The aggregate view keeps its own position: over an
    ``add_column``-only window it advances its folded version and
    leaves its groups unchanged."""
    base = _base(spark, tmp_path)
    mv = IncrementalAggView(
        spark, str(tmp_path / "mv"), base, ["tool"], {"n": F.lit(1)}
    )
    mv.refresh()
    before = sorted(tuple(r) for r in mv.read().collect())
    base.add_column("score", "int")
    r = mv.refresh()
    assert r == {"skipped": False, "table_version": 2, "empty": True}
    assert sorted(tuple(r) for r in mv.read().collect()) == before
    assert before == [("python", 1), ("search", 2)]


def test_window_folds_have_one_home():
    """Every consumer that folds source change feeds into its own sink
    goes through ``fold_window``: no ``window_batch_id(`` call in the
    package outside ``sinks/feed.py``, and ``stream_directory`` takes
    no ``view`` (a view is attached through ``on_batch``)."""
    pkg = pathlib.Path(embulk_util_json_spark.__file__).parent
    offenders = []
    for path in sorted(pkg.rglob("*.py")):
        rel = str(path.relative_to(pkg))
        for node in ast.walk(ast.parse(path.read_text(), rel)):
            if (
                isinstance(node, ast.Call)
                and "window_batch_id"
                in (getattr(node.func, "id", None), getattr(node.func, "attr", None))
                and rel != "sinks/feed.py"
            ):
                offenders.append(f"{rel}:{node.lineno} window_batch_id")
            if (
                isinstance(node, ast.FunctionDef)
                and node.name == "stream_directory"
                and "view" in [a.arg for a in node.args.args + node.args.kwonlyargs]
            ):
                offenders.append(f"{rel}:{node.lineno} stream_directory(view=)")
    assert offenders == []
