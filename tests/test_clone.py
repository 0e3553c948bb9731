"""Cross-root clone (shallow zero-copy / deep self-contained) and
single-commit cherry-pick.

Contracts under test (Delta CLONE / Iceberg cherrypick_snapshot
analogues over the engine's own manifest log):

- shallow clone copies ZERO data bytes, reads bit-identically, and
  diverges independently after writes to either side;
- the source-side pin tag keeps the clone readable across source
  vacuum, and is created before the clone commits, so a clone that
  crashed at either step re-runs pinned; the clone's own
  vacuum/compact never touch source files;
- deep clone (including deep-of-shallow, which exercises absolute →
  relative path re-rooting) survives deletion of every source root,
  and one that crashed mid-copy re-runs;
- cherry-pick transplants exactly one commit's net changes under LWW
  with an idempotent batch id, and refuses patch-mode tables.
"""

from __future__ import annotations

import glob
import os
import shutil

import pytest
from pyspark.sql import functions as F

from embulk_util_json_spark.sinks.snapshot import ParquetSnapshotSink
from embulk_util_json_spark.sources.events import parse_change_events


def _changes(spark, lo, hi, tag):
    rows = [
        (
            i,
            '{"op":"%s","ts":"2024-01-01 00:%02d:%02d.%06d","data":{"conv_id":"c%d",'
            '"turn_idx":%d,"role":"user","text":"%s-%d","tool":null}}'
            % ("delete" if i % 11 == 10 else "insert", i // 60, i % 60, i, i % 7, i % 5, tag, i),
        )
        for i in range(lo, hi)
    ]
    return parse_change_events(
        spark.createDataFrame(rows, "seq long, event_json string")
    )


def _state(sink, **kw):
    return sorted(
        (r.conv_id, r.turn_idx, r.text, str(r.ts)) for r in sink.read(**kw).collect()
    )


def _parquet_under(root):
    return glob.glob(os.path.join(root, "data", "**", "*.parquet"), recursive=True)


@pytest.fixture()
def src(spark, tmp_path):
    s = ParquetSnapshotSink(
        spark, str(tmp_path / "src"), num_buckets=4, mode="mor"
    )
    s.apply(_changes(spark, 0, 60, "a"), "b0")
    s.apply(_changes(spark, 60, 120, "b"), "b1")
    return s


def test_shallow_clone_zero_copy_bit_equal(spark, tmp_path, src):
    clone = src.clone_to(str(tmp_path / "cl"))
    assert _parquet_under(str(tmp_path / "cl")) == []  # zero bytes copied
    assert _state(clone) == _state(src)
    # independent table identity: own version log from 1
    assert clone.current_version() == 1
    assert clone.current_manifest()["cloned_from"]["version"] == 2
    # batch ids carry over → pre-clone replay is a no-op
    assert clone.apply(_changes(spark, 0, 60, "a"), "b0")["skipped"]


def test_clone_divergence_and_isolation(spark, tmp_path, src):
    clone = src.clone_to(str(tmp_path / "cl"))
    src.apply(_changes(spark, 120, 150, "src-only"), "b2")
    clone.apply(_changes(spark, 150, 180, "clone-only"), "b2c")
    src_texts = {t for _, _, t, _ in _state(src)}
    clone_texts = {t for _, _, t, _ in _state(clone)}
    assert any(t.startswith("src-only") for t in src_texts)
    assert not any(t.startswith("clone-only") for t in src_texts)
    assert any(t.startswith("clone-only") for t in clone_texts)
    assert not any(t.startswith("src-only") for t in clone_texts)


def test_clone_maintenance_is_root_local(spark, tmp_path, src):
    clone = src.clone_to(str(tmp_path / "cl"))
    clone.apply(_changes(spark, 120, 150, "c"), "b2c")
    before = set(_parquet_under(src.root))
    want = _state(clone)
    clone.compact()  # localizes: rewrites chains into clone-local files
    clone.vacuum(keep_versions=1, protect_cursors=False)
    assert set(_parquet_under(src.root)) == before  # source untouched
    assert _state(clone) == want
    # post-compaction the clone no longer references foreign files
    m = clone.current_manifest()
    assert all(
        not os.path.isabs(p)
        for b in m["buckets"]
        for p in clone._paths_of(m, b)
    )


def test_pin_tag_protects_clone_across_source_vacuum(spark, tmp_path, src):
    clone = src.clone_to(str(tmp_path / "cl"))
    want = _state(clone)
    assert any(t.startswith("clone-cl-v") for t in src.tags())
    src.apply(_changes(spark, 120, 150, "c"), "b2")
    src.compact()
    r = src.vacuum(keep_versions=1, protect_cursors=False)
    assert _state(clone) == want  # pinned refs survived reclaim
    # dropping the tag transfers the documented shallow-clone risk
    src.delete_tag(next(t for t in src.tags() if t.startswith("clone-")))
    src.vacuum(keep_versions=1, protect_cursors=False)
    with pytest.raises(Exception):
        clone.read().collect()


def test_deep_clone_and_deep_of_shallow_self_contained(spark, tmp_path, src):
    shallow = src.clone_to(str(tmp_path / "cl"))
    want = _state(src)
    # deep-of-shallow: sources are ABSOLUTE paths → re-rooted rel names
    deep = shallow.clone_to(str(tmp_path / "deep"), deep=True)
    assert _state(deep) == want
    m = deep.current_manifest()
    assert all(
        not os.path.isabs(p)
        for b in m["buckets"]
        for p in deep._paths_of(m, b)
    )
    shutil.rmtree(src.root)
    shutil.rmtree(shallow.root)
    assert _state(deep) == want  # no dangling reference anywhere


def test_clone_refuses_nonempty_dest_and_empty_src(spark, tmp_path, src):
    dest = ParquetSnapshotSink(spark, str(tmp_path / "d"), num_buckets=4)
    dest.apply(_changes(spark, 0, 5, "x"), "z0")
    with pytest.raises(ValueError, match="not empty"):
        src.clone_to(str(tmp_path / "d"))
    empty = ParquetSnapshotSink(spark, str(tmp_path / "e"), num_buckets=4)
    with pytest.raises(ValueError, match="empty table"):
        empty.clone_to(str(tmp_path / "e2"))


def test_cherrypick_single_commit_equals_sequential_oracle(spark, tmp_path):
    a = ParquetSnapshotSink(spark, str(tmp_path / "a"), num_buckets=4, mode="mor")
    b = ParquetSnapshotSink(spark, str(tmp_path / "b"), num_buckets=4, mode="mor")
    for s in (a, b):
        s.apply(_changes(spark, 0, 40, "x"), "c0")
    b.apply(_changes(spark, 40, 80, "y"), "c1")
    b.apply(_changes(spark, 80, 120, "z"), "c2")
    r = a.cherrypick_from(b, 2)  # transplant ONLY c1's commit
    assert not r.get("skipped")
    oracle = ParquetSnapshotSink(
        spark, str(tmp_path / "o"), num_buckets=4, mode="mor"
    )
    oracle.apply(_changes(spark, 0, 40, "x"), "c0")
    oracle.apply(_changes(spark, 40, 80, "y"), "c1")
    assert _state(a) == _state(oracle)
    # idempotent on the derived batch id
    assert a.cherrypick_from(b, 2)["skipped"]


def test_cherrypick_lww_conflicts_keep_newer_local_rows(spark, tmp_path):
    """A picked row lands only if it beats the local winner: local
    writes NEWER than the picked commit's stamps survive."""
    a = ParquetSnapshotSink(spark, str(tmp_path / "a"), num_buckets=4)
    b = ParquetSnapshotSink(spark, str(tmp_path / "b"), num_buckets=4)
    a.apply(_changes(spark, 200, 260, "newer"), "n0")  # higher seq+ts
    b.apply(_changes(spark, 0, 60, "old"), "c0")
    a.cherrypick_from(b, 1)
    texts = {t for _, _, t, _ in _state(a)}
    assert all(t.startswith("newer") for t in texts)


def test_cherrypick_refuses_patch_mode(spark, tmp_path):
    a = ParquetSnapshotSink(
        spark, str(tmp_path / "a"), num_buckets=4, patch_cols=["text", "tool"]
    )
    b = ParquetSnapshotSink(spark, str(tmp_path / "b"), num_buckets=4)
    b.apply(_changes(spark, 0, 10, "x"), "c0")
    with pytest.raises(ValueError, match="row-level"):
        a.cherrypick_from(b, 1)
    with pytest.raises(ValueError, match="no committed version"):
        b.cherrypick_from(b, 9)


def test_shallow_clone_is_pinned_before_it_commits(spark, tmp_path, src, monkeypatch):
    """A shallow clone tags the source version before it commits: a
    crash at the pin leaves no version at the destination, a crash
    after it leaves the tag and an empty destination, and each re-run
    produces a pinned clone that reads the source's state."""
    want = _state(src)
    for crash in ("create_tag", "_copy"):
        real = getattr(ParquetSnapshotSink, crash)
        calls = []

        def dying(self, *a, _real=real, **kw):
            if not calls:
                calls.append(1)
                raise RuntimeError("injected crash")
            return _real(self, *a, **kw)

        monkeypatch.setattr(ParquetSnapshotSink, crash, dying)
        dest = str(tmp_path / f"cl_{crash}")
        with pytest.raises(RuntimeError, match="injected crash"):
            src.clone_to(dest)
        monkeypatch.undo()
        assert ParquetSnapshotSink(spark, dest).current_version() == 0
        clone = src.clone_to(dest)
        assert clone.current_version() == 1
        tag = f"clone-cl_{crash}-v{src.current_version()}"
        assert src.tags()[tag]["version"] == src.current_version()
        assert _state(clone) == want


def test_deep_clone_reruns_after_crash_mid_copy(spark, tmp_path, src, monkeypatch):
    """A deep clone that dies mid-copy, before its commit, leaves no
    version at the destination; the re-run replaces the files it left
    and reads correctly without the source."""
    real_link, placed = os.link, []

    def dying_link(s, d, *a, **kw):
        if len(placed) == 3:
            raise RuntimeError("injected crash mid-copy")
        placed.append(d)
        return real_link(s, d, *a, **kw)

    monkeypatch.setattr(os, "link", dying_link)
    with pytest.raises(RuntimeError, match="injected crash"):
        src.clone_to(str(tmp_path / "deep"), deep=True)
    monkeypatch.undo()
    assert ParquetSnapshotSink(spark, str(tmp_path / "deep")).current_version() == 0
    want = _state(src)
    deep = src.clone_to(str(tmp_path / "deep"), deep=True)
    shutil.rmtree(src.root)
    assert _state(deep) == want
    assert deep.current_version() == 1
