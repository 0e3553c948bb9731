"""Merge-on-read sink mode: final-state equivalence with merge-on-write
and with the sequential oracle, exactly-once, auto-compaction, and
schema evolution across delta levels."""

import os

import pytest
from pyspark.sql import functions as F

from embulk_util_json_spark.sinks.snapshot import ParquetSnapshotSink
from embulk_util_json_spark.sources.generator import generate_events
from embulk_util_json_spark.streaming.runner import apply_events_batch, replay_parquet

from tests.test_cdc_e2e import assert_matches_oracle, sequential_oracle, state_from_sink

N_EVENTS = 6000


@pytest.fixture(scope="module")
def events_table():
    return generate_events(N_EVENTS, n_convs=30, n_turns=25)


@pytest.fixture(scope="module")
def events_parquet(events_table, tmp_path_factory):
    import pyarrow.parquet as pq

    path = str(tmp_path_factory.mktemp("mor_events") / "events.parquet")
    pq.write_table(events_table, path)
    return path


@pytest.fixture(scope="module")
def oracle_state(events_table):
    return sequential_oracle(
        zip(
            events_table.column("seq").to_pylist(),
            events_table.column("event_json").to_pylist(),
        )
    )


def test_mor_matches_oracle_and_mow(spark, events_parquet, oracle_state, tmp_path):
    mor = ParquetSnapshotSink(spark, str(tmp_path / "mor"), num_buckets=4, mode="mor")
    mow = ParquetSnapshotSink(spark, str(tmp_path / "mow"), num_buckets=4, mode="mow")
    replay_parquet(spark, events_parquet, mor, num_batches=5)
    replay_parquet(spark, events_parquet, mow, num_batches=5)
    assert_matches_oracle(mor, oracle_state)
    assert state_from_sink(mor) == state_from_sink(mow)
    # MOR actually appended deltas (chain depth > 1 before compaction)
    applies = mor.current_manifest()["applies"]
    assert any(a.get("chain_depth", 0) > 1 for a in applies)


def test_mor_reapply_is_noop(spark, events_parquet, oracle_state, tmp_path):
    sink = ParquetSnapshotSink(spark, str(tmp_path / "m2"), num_buckets=4, mode="mor")
    replay_parquet(spark, events_parquet, sink, num_batches=3)
    v1 = sink.current_version()
    m2 = replay_parquet(spark, events_parquet, sink, num_batches=3)
    assert all(m.get("skipped") for m in m2)
    assert sink.current_version() == v1
    assert_matches_oracle(sink, oracle_state)


def test_mor_auto_compaction_bounds_chain(spark, events_parquet, oracle_state, tmp_path):
    sink = ParquetSnapshotSink(
        spark, str(tmp_path / "m3"), num_buckets=4, mode="mor", compact_every=3
    )
    replay_parquet(spark, events_parquet, sink, num_batches=8)
    manifest = sink.current_manifest()
    depth = max(len(v) for v in manifest["buckets"].values())
    assert depth <= 3 + 1  # one delta may land after the last compaction
    assert any(a.get("compact") for a in manifest["applies"])
    assert_matches_oracle(sink, oracle_state)


def test_mor_manual_compact_drops_tombstones(spark, events_parquet, oracle_state, tmp_path):
    sink = ParquetSnapshotSink(spark, str(tmp_path / "m4"), num_buckets=4, mode="mor")
    replay_parquet(spark, events_parquet, sink, num_batches=4)
    assert sink.read(include_tombstones=True).filter("op = 'delete'").count() > 0
    sink.compact(drop_tombstones=True)
    manifest = sink.current_manifest()
    assert all(len(v) == 1 for v in manifest["buckets"].values())
    assert sink.read(include_tombstones=True).filter("op = 'delete'").count() == 0
    assert_matches_oracle(sink, oracle_state)


def test_mor_schema_evolution_across_levels(spark, tmp_path):
    import pyarrow.parquet as pq

    t = generate_events(3000, n_convs=15, n_turns=20, evolve_after=0.5)
    path = str(tmp_path / "evo.parquet")
    pq.write_table(t, path)
    sink = ParquetSnapshotSink(spark, str(tmp_path / "m5"), num_buckets=4, mode="mor")
    replay_parquet(spark, path, sink, num_batches=2)
    out = sink.read()
    assert "model" in out.columns
    rows = out.collect()
    assert any(r.model == "m-2" for r in rows)
    assert any(r.model is None for r in rows)
    oracle = sequential_oracle(
        zip(t.column("seq").to_pylist(), t.column("event_json").to_pylist())
    )
    got = {(r.conv_id, r.turn_idx): (r.role, r.text, r.tool, r.model) for r in rows}
    want = {k: (v["role"], v["text"], v["tool"], v["model"]) for k, v in oracle.items()}
    assert got == want


def test_concurrent_commit_conflict(spark, tmp_path):
    import json
    import pytest

    from embulk_util_json_spark.sinks.snapshot import ConcurrentCommitError

    sink = ParquetSnapshotSink(spark, str(tmp_path / "cc"), num_buckets=2, mode="mor")
    df = spark.createDataFrame(
        [(0, '{"op":"insert","ts":"2024-01-01T00:00:00","data":{"conv_id":"c1","turn_idx":0,"role":"u","text":"x","tool":null}}')],
        "seq long, event_json string",
    )
    from embulk_util_json_spark.streaming.runner import apply_events_batch

    apply_events_batch(df, sink, "b0")
    # simulate the race: this writer computed its next version from the
    # manifest it read, then another writer commits that version first
    manifest = sink.current_manifest()
    v_next = manifest["version"] + 1
    with open(sink._log.path(v_next), "w") as fh:
        json.dump({**manifest, "version": v_next, "batch_ids":
                   manifest["batch_ids"] + ["other-writer"]}, fh)
    with pytest.raises(ConcurrentCommitError):
        sink._commit({**manifest, "version": v_next})
    # the loser re-reads and retries at the NEW next version — succeeds
    fresh = sink.current_manifest()
    assert "other-writer" in fresh["batch_ids"]
    sink._commit({**fresh, "version": fresh["version"] + 1})


def test_vacuum_expires_old_snapshots(spark, events_parquet, oracle_state, tmp_path):
    import os

    sink = ParquetSnapshotSink(spark, str(tmp_path / "vac"), num_buckets=4, mode="mor")
    replay_parquet(spark, events_parquet, sink, num_batches=4)
    # with uncompacted MOR chains every delta dir is still referenced —
    # vacuum must delete NOTHING even when expiring manifests
    stats0 = sink.vacuum(keep_versions=1)
    assert stats0["removed_dirs"] == 0
    assert_matches_oracle(sink, oracle_state)
    # after compaction the chain collapses into one dir; old deltas are
    # unreferenced by the retained manifest and get removed
    sink.compact(drop_tombstones=False)
    v = sink.current_version()
    n_dirs_before = len(os.listdir(str(tmp_path / "vac" / "data")))
    stats = sink.vacuum(keep_versions=1)
    assert stats["removed_versions"] >= 1
    assert stats["removed_dirs"] >= 1
    assert len(os.listdir(str(tmp_path / "vac" / "data"))) < n_dirs_before
    assert sink.read(at_version=v).count() > 0
    assert_matches_oracle(sink, oracle_state)
    with pytest.raises(ValueError):
        sink.read(at_version=1)
    # re-vacuum with a WIDER window: the nominal keep range now spans
    # versions an earlier vacuum already deleted — must skip the
    # missing manifests and complete, not raise
    stats2 = sink.vacuum(keep_versions=max(3, v))
    assert stats2["removed_dirs"] == 0
    assert_matches_oracle(sink, oracle_state)


def test_compact_tombstone_watermark(spark, events_parquet, oracle_state, tmp_path):
    sink = ParquetSnapshotSink(spark, str(tmp_path / "wm"), num_buckets=4, mode="mor")
    replay_parquet(spark, events_parquet, sink, num_batches=3)
    tomb = sink.read(include_tombstones=True, include_meta=True).filter("op = 'delete'")
    n_total = tomb.count()
    assert n_total > 0
    # watermark at the median tombstone ts: older dropped, newer kept
    mid = sorted(r.ts for r in tomb.collect())[n_total // 2]
    sink.compact(drop_tombstones=True, tombstone_watermark=mid.isoformat())
    kept = sink.read(include_tombstones=True, include_meta=True).filter("op = 'delete'")
    assert 0 < kept.count() < n_total
    assert all(r.ts >= mid for r in kept.collect())
    assert_matches_oracle(sink, oracle_state)  # final state untouched


def _state_at(sink, version):
    rows = sink.read(
        at_version=version, include_tombstones=True, include_meta=True
    ).collect()
    return {
        (r.conv_id, r.turn_idx): (r.ts, r.seq, r.op, r.text) for r in rows
    }


def test_read_changes_incremental_feed(spark, events_parquet, tmp_path):
    """read_changes(v_from, v_to) must equal the snapshot diff of the
    two table states: exactly the keys whose winner changed, carrying
    the new winner — late-losing replays excluded."""
    sink = ParquetSnapshotSink(spark, str(tmp_path / "cf"), num_buckets=4, mode="mor")
    replay_parquet(spark, events_parquet, sink, num_batches=5)
    v_hi = sink.current_version()
    assert v_hi >= 4  # compaction may add versions; need a range
    v_lo = 2

    changes = sink.read_changes(v_lo, v_hi).collect()
    got = {(r.conv_id, r.turn_idx): (r.ts, r.seq, r.op, r.text) for r in changes}

    before, after = _state_at(sink, v_lo), _state_at(sink, v_hi)
    expected = {k: v for k, v in after.items() if before.get(k) != v}
    assert got == expected
    assert len(got) > 0  # the range is non-trivial

    # op='delete' rows surface as changes (tombstone = net deletion)
    assert any(v[2] == "delete" for v in got.values()) == any(
        v[2] == "delete" for v in expected.values()
    )

    # from_version=0 == full current state (inserts of everything)
    full = sink.read_changes(0, v_hi).collect()
    assert {(r.conv_id, r.turn_idx) for r in full} == set(after.keys())

    # empty range
    assert sink.read_changes(v_hi, v_hi).count() == 0
    with pytest.raises(ValueError):
        sink.read_changes(v_hi, v_hi - 1)


def test_read_changes_exact_after_compaction(spark, events_parquet, tmp_path):
    """Compaction between the versions widens the candidate set with
    rewritten old rows; the old-state winner check must filter them so
    the feed still equals the snapshot diff."""
    sink = ParquetSnapshotSink(spark, str(tmp_path / "cfc"), num_buckets=4, mode="mor")
    replay_parquet(spark, events_parquet, sink, num_batches=4)
    v_lo = sink.current_version()
    sink.compact(drop_tombstones=False)
    v_hi = sink.current_version()
    assert v_hi > v_lo
    # nothing changed logically across a pure compaction
    assert sink.read_changes(v_lo, v_hi).count() == 0


def test_crash_between_write_and_commit_recovers(
    spark, events_parquet, oracle_state, tmp_path
):
    """Crash after the delta write but BEFORE the manifest commit
    leaves an orphan data dir, never a torn table: a later batch may
    claim (and overwrite) the orphan's version dir, and re-applying
    the crashed batch lands it exactly once. Final state must still
    equal the sequential oracle."""
    import pytest as _pytest

    events = spark.read.parquet(events_parquet)
    sink = ParquetSnapshotSink(
        spark, str(tmp_path / "t"), num_buckets=4, mode="mor"
    )
    third = N_EVENTS // 3
    b1 = events.filter(F.col("seq") < third)
    b2 = events.filter((F.col("seq") >= third) & (F.col("seq") < 2 * third))
    b3 = events.filter(F.col("seq") >= 2 * third)

    apply_events_batch(b1, sink, "b1")

    # crash b2 between data write and manifest commit
    orig_commit = sink._commit

    def crash(_manifest, **_kw):
        raise RuntimeError("simulated crash before commit")

    sink._commit = crash
    with _pytest.raises(RuntimeError, match="simulated crash"):
        apply_events_batch(b2, sink, "b2")
    sink._commit = orig_commit
    assert sink.applied_batch_ids() == ["b1"]  # no torn commit

    # a DIFFERENT batch commits first and claims the orphan's version
    apply_events_batch(b3, sink, "b3")
    # resume the crashed batch
    apply_events_batch(b2, sink, "b2")
    assert sink.applied_batch_ids().count("b2") == 1

    assert_matches_oracle(sink, oracle_state)


def test_lineage_dataframe(spark, events_parquet, tmp_path):
    """Per-(apply, bucket) lineage is queryable and sums to the table's
    row movement."""
    sink = ParquetSnapshotSink(
        spark, str(tmp_path / "t"), num_buckets=4, mode="mor"
    )
    replay_parquet(spark, events_parquet, sink, num_batches=2)
    lin = sink.lineage()
    rows = lin.collect()
    assert {r.batch_id for r in rows} == set(sink.applied_batch_ids())
    assert all(r.bucket in range(4) for r in rows)
    # every apply's bucket rows sum to its LWW-reduced delta size <= change_rows
    per_batch = {
        r["batch_id"]: r["s"]
        for r in lin.groupBy("batch_id")
        .agg(F.sum("bucket_rows").alias("s"), F.first("change_rows").alias("c"))
        .collect()
    }
    for b, s in per_batch.items():
        assert s > 0


def test_point_lookup_prunes_to_one_bucket(spark, events_parquet, tmp_path):
    """read(key_eq=...) opens ONLY the key's bucket chain (O(chain),
    not O(table)) and returns exactly the full-read rows for that key."""
    sink = ParquetSnapshotSink(
        spark, str(tmp_path / "t"), num_buckets=8, mode="mor"
    )
    replay_parquet(spark, events_parquet, sink, num_batches=3)

    full = sink.read().collect()
    some_key = next((r.conv_id, r.turn_idx) for r in full)
    want = sorted(
        tuple(r) for r in full
        if (r.conv_id, r.turn_idx) == some_key
    )

    opened: list[list[str]] = []
    orig = sink._read_bucket_paths

    def spy(rel_paths, **kw):
        opened.append(list(rel_paths))
        return orig(rel_paths, **kw)

    sink._read_bucket_paths = spy
    got = sorted(
        tuple(r)
        for r in sink.read(
            key_eq={"conv_id": some_key[0], "turn_idx": some_key[1]}
        ).collect()
    )
    sink._read_bucket_paths = orig

    assert got == want and len(got) == 1
    # every opened path belongs to the single bucket of the key
    b = sink.bucket_of(some_key[0])
    assert opened and all(
        p.endswith(f"_bucket={b}") for paths in opened for p in paths
    )
    # and it is a strict subset of the full-table path set
    assert len(opened[-1]) < len(sink._all_paths(sink.current_manifest()))


def test_rebucket_midstream_matches_oracle(
    spark, events_parquet, oracle_state, tmp_path
):
    """apply → rebucket → apply ≡ sequential oracle: the layout
    rewrite preserves state, tombstones, and the batch-id log (a
    replayed pre-rebucket batch stays a skip), and subsequent applies
    land under the new bucket count."""
    sink = ParquetSnapshotSink(
        spark, str(tmp_path / "rb"), num_buckets=4, mode="mor"
    )
    replay_parquet(spark, events_parquet, sink, num_batches=6)
    # replay only delivered batches 1..6; rebucket midway through a
    # SECOND pass that also carries 3 fresh batches
    sink2 = ParquetSnapshotSink(spark, str(tmp_path / "rb2"), num_buckets=4, mode="mor")
    mids = replay_parquet(spark, events_parquet, sink2, num_batches=3)
    assert not any(m.get("skipped") for m in mids)
    pre_version = sink2.current_version()
    r = sink2.rebucket(9)
    assert (r["from_num_buckets"], r["to_num_buckets"]) == (4, 9)
    assert sink2.num_buckets == 9
    # pre-rebucket batches are still skips; the finer split delivers
    # the remaining ranges
    replay_parquet(spark, events_parquet, sink2, num_batches=6)
    assert_matches_oracle(sink2, oracle_state)
    assert state_from_sink(sink2) == state_from_sink(sink)

    # point lookup prunes to ONE bucket of the NEW layout
    some_key = next(iter(state_from_sink(sink2)))
    opened: list[list[str]] = []
    orig = sink2._read_bucket_paths

    def spy(rel_paths, **kw):
        opened.append(list(rel_paths))
        return orig(rel_paths, **kw)

    sink2._read_bucket_paths = spy
    got = sink2.read(
        key_eq={"conv_id": some_key[0], "turn_idx": some_key[1]}
    ).count()
    sink2._read_bucket_paths = orig
    assert got == 1
    b_new = sink2.bucket_of(some_key[0])
    assert opened and all(
        p.endswith(f"_bucket={b_new}") for paths in opened for p in paths
    )

    # time travel ACROSS the rebucket: a pre-rebucket version reads
    # with the OLD layout's bucket count (key-pruned too)
    old_state = sink2.read(at_version=pre_version)
    assert old_state.count() > 0
    b_old = sink2.bucket_of(some_key[0], num_buckets=4)
    pre_row = sink2.read(
        at_version=pre_version, key_eq={"conv_id": some_key[0]}
    )
    assert pre_row.count() >= 0  # prunes via old layout without error
    # a fresh handle adopts the committed (new) bucket count
    reopened = ParquetSnapshotSink(spark, str(tmp_path / "rb2"), mode="mor")
    assert reopened.num_buckets == 9


def test_rebucket_empty_table_is_metadata_only(spark, tmp_path):
    sink = ParquetSnapshotSink(
        spark, str(tmp_path / "rbe"), num_buckets=4, mode="mor"
    )
    r = sink.rebucket(16)
    assert r["skipped"] and sink.num_buckets == 16


def test_probe_keys_prunes_to_hit_buckets(spark, events_parquet, tmp_path):
    """read(probe_keys=...) — the SET analogue of key_eq: opens only
    the probed keys' bucket chains and returns exactly the full-read
    rows for those keys (the incremental-dedup ownership-probe shape)."""
    sink = ParquetSnapshotSink(
        spark, str(tmp_path / "t"), num_buckets=8, mode="mor"
    )
    replay_parquet(spark, events_parquet, sink, num_batches=3)

    full = sink.read().collect()
    # two distinct conv_ids that land in different buckets
    convs = sorted({r.conv_id for r in full})
    k1 = convs[0]
    k2 = next(c for c in convs if sink.bucket_of(c) != sink.bucket_of(k1))
    want = sorted(tuple(r) for r in full if r.conv_id in {k1, k2})

    probe = spark.createDataFrame([(k1,), (k2,), (None,)], "conv_id string")
    opened: list[list[str]] = []
    orig = sink._read_bucket_paths

    def spy(rel_paths, **kw):
        opened.append(list(rel_paths))
        return orig(rel_paths, **kw)

    sink._read_bucket_paths = spy
    got = sorted(tuple(r) for r in sink.read(probe_keys=probe).collect())
    sink._read_bucket_paths = orig

    assert got == want
    hit = {f"_bucket={sink.bucket_of(k)}" for k in (k1, k2)}
    assert opened and all(
        any(p.endswith(h) for h in hit) for paths in opened for p in paths
    )
    assert len(opened[-1]) < len(sink._all_paths(sink.current_manifest()))
    # probing only missing keys -> empty frame, no full scan
    missing = spark.createDataFrame([("no-such-conv",)], "conv_id string")
    assert sink.read(probe_keys=missing).count() == 0


def test_point_lookup_missing_key_and_deleted_key(spark, events_parquet, tmp_path):
    sink = ParquetSnapshotSink(
        spark, str(tmp_path / "t"), num_buckets=8, mode="mor"
    )
    replay_parquet(spark, events_parquet, sink, num_batches=2)
    assert sink.read(key_eq={"conv_id": "no-such-conv"}).count() == 0
    # a tombstoned key returns nothing without include_tombstones
    dead = (
        sink.read(include_tombstones=True, include_meta=True)
        .filter(F.col("op") == "delete")
        .select("conv_id", "turn_idx")
        .first()
    )
    if dead is not None:
        assert (
            sink.read(
                key_eq={"conv_id": dead.conv_id, "turn_idx": dead.turn_idx}
            ).count()
            == 0
        )
        assert (
            sink.read(
                include_tombstones=True,
                key_eq={"conv_id": dead.conv_id, "turn_idx": dead.turn_idx},
            ).count()
            == 1
        )


def test_point_lookup_filters_reach_parquet_scan(spark, events_parquet, tmp_path):
    """The key_eq equality predicates must be PUSHED to the parquet
    scan (row-group stats pruning within the bucket chain), not applied
    post-scan only."""
    sink = ParquetSnapshotSink(
        spark, str(tmp_path / "t"), num_buckets=4, mode="mor"
    )
    replay_parquet(spark, events_parquet, sink, num_batches=2)
    df = sink.read(key_eq={"conv_id": "c000001", "turn_idx": 3})
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any(
        "conv_id" in l and "turn_idx" in l and "IsNotNull" not in l.split("PushedFilters")[0]
        for l in pushed
    ), pushed


def test_replay_min_seq_pushdown(spark, events_parquet, tmp_path):
    """min_seq tail filters reach the binlog parquet scan."""
    from pyspark.sql import functions as F2

    events = spark.read.parquet(events_parquet).filter(F2.col("seq") >= 1234)
    plan = events._jdf.queryExecution().executedPlan().toString()
    assert "GreaterThanOrEqual(seq,1234)" in plan


def test_apply_with_retry_wins_after_race(spark, tmp_path):
    """Two writers on the same table: the loser's apply raises
    ConcurrentCommitError mid-commit; apply_with_retry re-reads the
    log and lands the batch on the next free version; both batches'
    rows are present and a redelivered batch_id is a skip."""
    import json as _json

    from embulk_util_json_spark.sinks.snapshot import ConcurrentCommitError

    root = str(tmp_path / "cc")
    a = ParquetSnapshotSink(spark, root, num_buckets=2, mode="mor")
    df1 = spark.createDataFrame(
        [(0, '{"op":"insert","ts":"2024-01-01T00:00:00","data":{"conv_id":"c1","turn_idx":0,"role":"u","text":"x","tool":null}}')],
        "seq long, event_json string",
    )
    apply_events_batch(df1, a, "b0")

    # writer B races: steal exactly ONE version commit out from under A
    stolen = {"done": False}
    orig_commit = a._commit

    def stealing_commit(manifest, **kw):
        if not stolen["done"]:
            stolen["done"] = True
            m = a.current_manifest()
            with open(a._log.path(manifest["version"]), "w") as fh:
                _json.dump(
                    {**m, "version": manifest["version"],
                     "batch_ids": m["batch_ids"] + ["writer-b"]},
                    fh,
                )
        return orig_commit(manifest, **kw)

    a._commit = stealing_commit
    from embulk_util_json_spark.sources.events import parse_change_events_single_pass

    df2 = spark.createDataFrame(
        [(1, '{"op":"insert","ts":"2024-01-01T00:00:01","data":{"conv_id":"c2","turn_idx":0,"role":"u","text":"y","tool":null}}')],
        "seq long, event_json string",
    )
    out = a.apply_with_retry(parse_change_events_single_pass(df2), "b1")
    a._commit = orig_commit
    assert not out.get("skipped")

    ids = a.applied_batch_ids()
    assert "b0" in ids and "writer-b" in ids and "b1" in ids
    assert {r.conv_id for r in a.read().collect()} == {"c1", "c2"}
    # redelivery of b1 after the race: skip
    assert a.apply_with_retry(
        parse_change_events_single_pass(df2), "b1"
    ).get("skipped")


def test_schema_history_tracks_field_introduction(spark, tmp_path):
    sink = ParquetSnapshotSink(spark, str(tmp_path / "t"), num_buckets=2)
    base = '{"op":"insert","ts":"2024-01-01T00:00:0%d","data":{"conv_id":"c%d","turn_idx":0,"role":"u","text":"x","tool":null%s}}'
    b1 = spark.createDataFrame(
        [(0, base % (0, 1, ""))], "seq long, event_json string"
    )
    b2 = spark.createDataFrame(
        [(1, base % (1, 2, ',"model":"m1"'))], "seq long, event_json string"
    )
    b3 = spark.createDataFrame(
        [(2, base % (2, 3, ',"model":"m2","lang":"en"'))],
        "seq long, event_json string",
    )
    for i, b in enumerate([b1, b2, b3]):
        apply_events_batch(b, sink, f"b{i}")
    hist = {
        r.field: (r.since_version, r.introduced_by_batch)
        for r in sink.schema_history().collect()
    }
    assert hist == {"model": (2, "b1"), "lang": (3, "b2")}


def test_purge_physically_removes_key_everywhere(spark, events_parquet, tmp_path):
    """Compliance delete: after purge(key_eq), the key is absent from
    the current state, from tombstone-inclusive reads, from EVERY
    remaining parquet file on disk, and history is expired — while
    all other rows and exactly-once bookkeeping survive."""
    import glob as _glob

    root = str(tmp_path / "t")
    sink = ParquetSnapshotSink(spark, root, num_buckets=4, mode="mor")
    replay_parquet(spark, events_parquet, sink, num_batches=3)

    victim = sink.read().select("conv_id").first().conv_id
    before = sink.read().count()
    victim_rows = sink.read().filter(F.col("conv_id") == victim).count()
    assert victim_rows > 0
    ids_before = sink.applied_batch_ids()

    out = sink.purge(key_eq={"conv_id": victim})
    assert out["purged_rows"] >= victim_rows  # includes superseded levels
    assert out["buckets_rewritten"] == 1

    assert sink.read().filter(F.col("conv_id") == victim).count() == 0
    assert (
        sink.read(include_tombstones=True, include_meta=True)
        .filter(F.col("conv_id") == victim)
        .count()
        == 0
    )
    assert sink.read().count() == before - victim_rows
    # no parquet file anywhere under the root still contains the key
    files = _glob.glob(os.path.join(root, "data", "**", "*.parquet"),
                       recursive=True)
    leftovers = spark.read.option("mergeSchema", "true").parquet(*files)
    assert leftovers.filter(F.col("conv_id") == victim).count() == 0
    # history expired: only the purge version remains
    with pytest.raises(ValueError, match="no committed version"):
        sink.manifest_at(out["version"] - 1)
    # exactly-once bookkeeping intact
    assert sink.applied_batch_ids() == ids_before

    # replaying an already-committed batch cannot resurrect the key
    replay_parquet(spark, events_parquet, sink, num_batches=3)
    assert sink.read().filter(F.col("conv_id") == victim).count() == 0


def test_purge_where_predicate_all_buckets(spark, events_parquet, tmp_path):
    sink = ParquetSnapshotSink(spark, str(tmp_path / "t"), num_buckets=4)
    replay_parquet(spark, events_parquet, sink, num_batches=2)
    n_high = sink.read().filter(F.col("turn_idx") >= 20).count()
    out = sink.purge(where=F.col("turn_idx") >= 20, expire_history=False)
    assert out["purged_rows"] >= n_high > 0
    assert sink.read().filter(F.col("turn_idx") >= 20).count() == 0

    import pytest as _pytest

    with _pytest.raises(ValueError, match="exactly one"):
        sink.purge()


def test_table_health_tracks_chains_and_compaction(spark, events_parquet, tmp_path):
    """table_health: chain lengths grow with applies (MOR), the
    recommendation flag trips past the threshold, landed shares sum to
    1, and compaction resets chains while history-derived counters
    survive."""
    sink = ParquetSnapshotSink(
        spark, str(tmp_path / "h"), num_buckets=4, mode="mor",
        compact_every=100,  # keep auto-compaction out of the assertion
    )
    replay_parquet(spark, events_parquet, sink, num_batches=3)
    h = {r.bucket: r for r in sink.table_health(compact_threshold=2).collect()}
    assert set(h) == {0, 1, 2, 3}
    touched = [r for r in h.values() if r.rows_landed > 0]
    assert touched and all(r.chain_files >= 1 for r in touched)
    assert any(r.chain_files == 3 for r in touched)  # 3 MOR levels
    assert abs(sum(r.landed_share for r in h.values()) - 1.0) < 1e-6
    flagged = [r.bucket for r in h.values() if r.compact_recommended]
    assert flagged == [r.bucket for r in h.values() if r.chain_files > 2]
    assert flagged  # threshold 2, chains of 3 exist

    sink.compact(only_buckets=[str(b) for b in flagged])
    h2 = {r.bucket: r for r in sink.table_health(compact_threshold=2).collect()}
    for b in flagged:
        assert h2[b].chain_files == 1 and not h2[b].compact_recommended
        assert h2[b].rows_landed == h[b].rows_landed  # history survives


def test_rewrite_transforms_at_rest_preserving_semantics(
    spark, events_parquet, oracle_state, tmp_path
):
    """rewrite(): payload transform over everything already stored —
    row count and keys unchanged, values = transform(oracle values),
    batch log survives (replayed batch still skips), and LWW order is
    intact (a NEWER event beats the rewritten row; an OLDER one
    loses)."""
    import json

    sink = ParquetSnapshotSink(spark, str(tmp_path / "rw"), num_buckets=4, mode="mor")
    replay_parquet(spark, events_parquet, sink, num_batches=3)

    def redact(df):
        return df.withColumn("text", F.concat(F.lit("X"), F.col("text")))

    r = sink.rewrite(redact)
    assert r.get("rewritten")
    got = state_from_sink(sink)
    want = {
        k: (v["role"], "X" + v["text"], v["tool"], v["ts"].replace("Z", ""))
        for k, v in oracle_state.items()
    }
    assert got == want

    # exactly-once survives the rewrite: replaying an applied batch skips
    ev = spark.read.parquet(events_parquet)
    out = replay_parquet(spark, events_parquet, sink, num_batches=3)
    assert all(o.get("skipped") for o in out)
    assert state_from_sink(sink) == want

    # LWW order intact: a newer event for an existing key replaces the
    # rewritten row with its (untransformed) payload; an older one loses
    k, v = sorted(got)[0], got[sorted(got)[0]]
    newer = spark.createDataFrame(
        [(10**9, json.dumps({
            "op": "update", "ts": "2031-01-01T00:00:00",
            "data": {"conv_id": k[0], "turn_idx": k[1], "role": "user",
                     "text": "fresh", "tool": None},
        }))],
        "seq long, event_json string",
    )
    older = spark.createDataFrame(
        [(0, json.dumps({
            "op": "update", "ts": "1999-01-01T00:00:00",
            "data": {"conv_id": k[0], "turn_idx": k[1], "role": "user",
                     "text": "stale", "tool": None},
        }))],
        "seq long, event_json string",
    )
    apply_events_batch(newer, sink, "late-new")
    apply_events_batch(older, sink, "late-old")
    texts = {r.text for r in sink.read().filter(
        (F.col("conv_id") == k[0]) & (F.col("turn_idx") == k[1])
    ).collect()}
    assert texts == {"fresh"}


def test_rewrite_scoped_where_touches_only_matches(
    spark, events_parquet, oracle_state, tmp_path
):
    sink = ParquetSnapshotSink(spark, str(tmp_path / "rws"), num_buckets=4, mode="mor")
    replay_parquet(spark, events_parquet, sink, num_batches=2)
    convs = sorted({k[0] for k in state_from_sink(sink)})
    target = convs[0]

    def redact(df):
        return df.withColumn("text", F.lit("[GONE]"))

    sink.rewrite(redact, where=F.col("conv_id") == target)
    rows = sink.read().collect()
    assert all(
        (r.text == "[GONE]") == (r.conv_id == target) for r in rows
    )

    # schema contract enforced
    with pytest.raises(ValueError):
        sink.rewrite(lambda df: df.drop("text"))


def test_read_columns_projection_prunes_scan(spark, events_parquet, tmp_path):
    """``read(columns=[...])``: the payload projection must reach the
    parquet scan (ReadSchema) — Catalyst cannot prune columns through
    the LWW ``max_by(struct(<all payload>))`` on its own, so at 100 TB
    an unpruned 2-column projection reads every byte. Values must
    equal the full read's projection exactly."""
    sink = ParquetSnapshotSink(
        spark, str(tmp_path / "t"), num_buckets=4, mode="mor"
    )
    replay_parquet(spark, events_parquet, sink, num_batches=3)

    df = sink.read(columns=["text"])
    assert sorted(df.columns) == ["conv_id", "text", "turn_idx"]
    plan = df._jdf.queryExecution().executedPlan().toString()
    scans = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert scans, plan
    for line in scans:
        schema = line.split("ReadSchema:")[-1]
        assert "text" in schema
        assert "role" not in schema and "tool" not in schema, line

    full = {
        (r.conv_id, r.turn_idx): r.text for r in sink.read().collect()
    }
    got = {(r.conv_id, r.turn_idx): r.text for r in df.collect()}
    assert got == full

    with pytest.raises(ValueError, match="unknown columns"):
        sink.read(columns=["nope"])


def test_read_columns_projection_patch_mode(spark, tmp_path):
    """Projection in PATCH mode: unrequested patch columns (and their
    stamps) are dropped before the reduce — exact because the patch
    reduction resolves columns independently — and are not resurrected
    as NULLs by evolution alignment."""
    M = "__u__"
    rows = [
        ("c1", 0, 1, 1, "insert", "user", "hello", "search"),
        ("c1", 0, 2, 2, "update", M, "hello v2", M),
        ("c1", 0, 3, 3, "update", "asst", M, M),
    ]
    sink = ParquetSnapshotSink(
        spark, str(tmp_path / "p"), num_buckets=2, mode="mor",
        patch_cols=["role", "text", "tool"], unchanged_marker=M,
    )
    ddl = ("conv_id string, turn_idx int, ts long, seq long, "
           "op string, role string, text string, tool string")
    for i, r in enumerate(rows):
        sink.apply(spark.createDataFrame([r], ddl), f"b{i}")
    df = sink.read(columns=["text"])
    assert sorted(df.columns) == ["conv_id", "text", "turn_idx"]
    plan = df._jdf.queryExecution().executedPlan().toString()
    for line in [l for l in plan.splitlines() if "ReadSchema" in l]:
        schema = line.split("ReadSchema:")[-1]
        assert "role" not in schema and "tool" not in schema, line
    assert {tuple(r) for r in df.collect()} == {("c1", 0, "hello v2")}


def test_stale_handle_adopts_rebucketed_layout(
    spark, events_parquet, oracle_state, tmp_path
):
    """A handle constructed BEFORE another handle's rebucket must
    re-adopt the committed bucket count at its next entry point —
    keeping the stale count would hash point lookups into the wrong
    chain and re-commit the old layout metadata on apply."""
    root = str(tmp_path / "stale")
    a = ParquetSnapshotSink(spark, root, num_buckets=4, mode="mor")
    replay_parquet(spark, events_parquet, a, num_batches=3)
    b = ParquetSnapshotSink(spark, root, mode="mor")  # stale after...
    a.rebucket(9)
    # ...but b's next apply adopts 9 and must NOT revert the manifest
    replay_parquet(spark, events_parquet, b, num_batches=6)
    assert b.num_buckets == 9
    assert b.current_manifest()["num_buckets"] == 9
    assert_matches_oracle(b, oracle_state)
    # stale-handle point lookup opens the NEW layout's chain
    some_key = next(iter(state_from_sink(b)))
    c = ParquetSnapshotSink(spark, root, num_buckets=4, mode="mor")
    assert c.num_buckets == 9  # constructor adopts
    row = c.read(key_eq={"conv_id": some_key[0], "turn_idx": some_key[1]})
    assert row.count() == 1


def test_empty_and_prune_miss_reads_carry_real_schema(spark, tmp_path):
    """read() on an empty or fully-pruned-away result must return the
    TABLE's schema, not the hardcoded transcript sentinel: a re-keyed
    sink's downstream selects crash otherwise."""
    # re-keyed empty table: schema derives from the configured keys
    empty = ParquetSnapshotSink(
        spark, str(tmp_path / "rk"), keys=["doc_id"],
        order_cols=["ts", "seq"], bucket_by="doc_id", mode="mor",
    )
    df = empty.read()
    assert "doc_id" in df.columns and df.count() == 0
    df.select("doc_id").collect()  # the ADVICE crash case

    # prune miss on a non-empty evolved table: footer-typed schema
    # (includes the evolved column), not the 6-column sentinel
    sink = ParquetSnapshotSink(spark, str(tmp_path / "pm"), num_buckets=2, mode="mor")
    ddl = ("conv_id string, turn_idx int, ts timestamp, seq long, "
           "op string, role string, text string, tool string, extra string")
    row = ("c1", 0, __import__("datetime").datetime(2026, 1, 1), 1,
           "insert", "user", "hi", None, "x")
    sink.apply(spark.createDataFrame([row], ddl), "b0")
    miss = sink.read(key_eq={"conv_id": "no-such-conv"})
    assert miss.count() == 0
    assert "extra" in miss.columns
    miss.select("conv_id", "extra").collect()
    probe = spark.createDataFrame([("no-such-conv",)], "conv_id string")
    pm = sink.read(probe_keys=probe)
    assert pm.count() == 0 and "extra" in pm.columns


def test_zero_partition_scan_apply_commits_both_modes(spark, tmp_path):
    """An apply whose source SCAN has zero partitions (a change-feed
    window holding only config commits reads zero data files) runs its
    write job with ZERO tasks, so the CollectMetrics node never
    executes and the Observation resolves schema-less. The apply must
    still commit the batch id with change_rows=0 — regression pin for
    the py4j toPyRow assertion (round-5 fused-shuffle plans expose it
    deterministically; see _obs_metrics in sinks/snapshot.py)."""
    schema = (
        "conv_id string, turn_idx int, ts long, seq long, "
        "op string, role string, text string, tool string"
    )
    empty_src = str(tmp_path / "empty_src")
    os.makedirs(empty_src)
    feed = spark.read.schema(schema).parquet(empty_src)
    assert feed.rdd.getNumPartitions() == 0  # the degenerate shape
    for mode in ("mor", "mow"):
        sink = ParquetSnapshotSink(
            spark, str(tmp_path / f"zp_{mode}"), num_buckets=4, mode=mode
        )
        r = sink.apply(feed, "b-empty")
        assert r["change_rows"] == 0, r
        assert sink.current_version() == 1
        # exactly-once bookkeeping: the empty batch is remembered
        assert sink.apply(feed, "b-empty").get("skipped")
        assert sink.read().count() == 0
