"""Round-5 apply-path floor work: fused single-shuffle reduce+write,
driver-side schema merge (no inference job per chain read), manifest
caching, changed-keys superset feed, and pin_probe bucket-collect
fusion. Each optimization carries an exactness pin here.

Reference anchor: these are host-pipeline costs the reference
delegates to Embulk's executor (JsonParserPlugin runs inside Embulk's
page loop); the engine owns them, so their scaling behavior is graded
like any operator.
"""

import datetime
import os

import pytest
from pyspark.sql import functions as F

from embulk_util_json_spark.sinks.snapshot import BUCKET_COL, ParquetSnapshotSink


def _events_df(spark, n=300, convs=7):
    rows = [
        (
            f"c{i % convs}",
            i % 5,
            "user",
            f"t{i}",
            None,
            datetime.datetime(2025, 1, 1, 0, i % 60, i % 60),
            "upsert" if i % 11 else "delete",
            i,
        )
        for i in range(n)
    ]
    return spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp, op string, seq long",
    )


def test_partitioned_reduce_single_shuffle(spark, tmp_path):
    """The fused path must shuffle ONCE: the aggregation reuses the
    bucket repartition (hashpartitioning on _bucket, a subset of the
    grouping keys) — no second exchange by the full key set."""
    sink = ParquetSnapshotSink(spark, str(tmp_path / "s"), num_buckets=4, mode="mor")
    staged = _events_df(spark).withColumn(BUCKET_COL, sink._bucket_expr())
    red = sink._partitioned_reduce(staged)
    red.collect()
    plan = red._jdf.queryExecution().executedPlan().toString()
    ex_lines = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    assert ex_lines, "expected the bucket repartition exchange"
    for l in ex_lines:
        assert "conv_id" not in l, f"aggregation added its own key shuffle: {l}"
        assert f"{BUCKET_COL}#" in l


def _write_exchanges(spark, run):
    """Exchange nodes of the executed plan of the one bucket write that
    ``run()`` makes, read from the SQL status store: the execution of
    a job in ``run``'s job group whose plan holds the file write."""
    sc = spark.sparkContext
    group = f"write-exchanges-{id(run)}"
    sc.setJobGroup(group, "read the plan of one bucket write")
    try:
        run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    writes = []
    for i in range(execs.size()):
        e = execs.apply(i)
        if not any(e.jobs().contains(j) for j in jobs):
            continue
        nodes = store.planGraph(e.executionId()).allNodes()
        names = [nodes.apply(k).name() for k in range(nodes.size())]
        if any("InsertIntoHadoopFsRelationCommand" in n for n in names):
            writes.append([
                nodes.apply(k).desc()
                for k in range(nodes.size())
                if nodes.apply(k).name() == "Exchange"
            ])
    assert len(writes) == 1, writes
    return writes[0]


_REWRITES = {
    "rewrite": lambda sink: sink.rewrite(
        lambda df: df.withColumn("text", F.upper("text"))
    ),
    "purge": lambda sink: sink.purge(key_eq={"conv_id": "c1"}, expire_history=False),
    "promotion": lambda sink: sink.evolve_patch_cols(
        {"role": "string"}, unchanged_marker="__u__"
    ),
}


@pytest.mark.parametrize("writer", sorted(_REWRITES))
def test_level_rewrites_shuffle_once(spark, tmp_path, writer):
    """A rewrite that reduces stored levels (unscoped ``rewrite``,
    ``purge``, the ``evolve_patch_cols`` promotion) writes through
    ``_partitioned_reduce``: its write job plans ONE exchange, the
    bucket repartition the reduce reuses, where a reduce by key then
    a repartition by bucket planned two."""
    sink = ParquetSnapshotSink(spark, str(tmp_path / "s"), num_buckets=4, mode="mor")
    df = _events_df(spark)
    sink.apply(df.filter("seq < 150"), "b0")
    sink.apply(df.filter("seq >= 150"), "b1")
    exchanges = _write_exchanges(spark, lambda: _REWRITES[writer](sink))
    assert len(exchanges) == 1, exchanges
    assert exchanges[0].startswith(f"Exchange hashpartitioning({BUCKET_COL}#"), exchanges


def _files_per_level(sink):
    """Parquet files in each bucket dir of the sink's data tree, after
    checking that the dirs are exactly the current chain elements."""
    out = {}
    for d, _, files in os.walk(os.path.join(sink.root, "data")):
        if os.path.basename(d).startswith(f"{BUCKET_COL}="):
            out[d] = sum(f.endswith(".parquet") for f in files)
    m = sink.current_manifest()
    assert len(out) == sum(len(sink._paths_of(m, b)) for b in m["buckets"])
    return sorted(out.values())


def _write_tasks(spark, sink, df, batch_id):
    """Tasks of the final stage of the last job that ``sink.apply``
    runs: the bucket write. Read through a job group and the status
    tracker."""
    sc = spark.sparkContext
    group = f"write-tasks-{batch_id}-{id(sink)}"
    sc.setJobGroup(group, "count the write tasks of one apply")
    try:
        sink.apply(df, batch_id)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    last_job = tracker.getJobInfo(max(tracker.getJobIdsForGroup(group)))
    return tracker.getStageInfo(max(last_job.stageIds)).numTasks


def test_trickle_apply_write_is_sized_by_its_data(spark, tmp_path):
    """The fused reduce+write shuffle names no partition count, so
    adaptive execution coalesces a small apply into 8 buckets into ONE
    write task (a count-pinned repartition ran one task per bucket)."""
    sink = ParquetSnapshotSink(spark, str(tmp_path / "s"), num_buckets=8, mode="mor")
    df = _events_df(spark)
    assert _write_tasks(spark, sink, df, "b0") == 1
    assert _files_per_level(sink) == [1] * len(sink.current_manifest()["buckets"])


def test_apply_without_aqe_keeps_one_file_per_bucket(spark, tmp_path):
    """With adaptive execution off the write runs
    ``spark.sql.shuffle.partitions`` tasks, each holding whole
    buckets: the same two applies read back the same rows and every
    level still holds one file per bucket."""
    df = _events_df(spark)
    cuts = [df.filter("seq < 150"), df.filter("seq >= 150")]
    reads = []
    for aqe in ("true", "false"):
        prev = spark.conf.get("spark.sql.adaptive.enabled")
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
        try:
            sink = ParquetSnapshotSink(
                spark, str(tmp_path / f"aqe_{aqe}"), num_buckets=8, mode="mor"
            )
            for i, cut in enumerate(cuts):
                sink.apply(cut, f"b{i}")
            rows = sorted(map(tuple, sink.read().collect()))
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", prev)
        assert set(_files_per_level(sink)) == {1}
        reads.append(rows)
    assert reads[0] == reads[1] and reads[0]


def test_apply_equivalence_mor_vs_mow_after_fusion(spark, tmp_path):
    df = _events_df(spark)
    mor = ParquetSnapshotSink(spark, str(tmp_path / "mor"), num_buckets=4, mode="mor")
    mow = ParquetSnapshotSink(spark, str(tmp_path / "mow"), num_buckets=4, mode="mow")
    for lo, hi in ((0, 100), (100, 200), (200, 300)):
        cut = df.filter((F.col("seq") >= lo) & (F.col("seq") < hi))
        mor.apply(cut, f"b{lo}")
        mow.apply(cut, f"b{lo}")
    a = sorted(map(tuple, mor.read().collect()))
    b = sorted(map(tuple, mow.read().collect()))
    assert a == b and len(a) > 0


def test_schema_merge_matches_spark_inference(spark, tmp_path):
    """Driver-side footer schema merge across an evolved chain equals
    Spark's mergeSchema result (same fields, same types; order may
    differ — callers select by name)."""
    sink = ParquetSnapshotSink(spark, str(tmp_path / "e"), num_buckets=2, mode="mor")
    df = _events_df(spark, n=60)
    sink.apply(df.filter("seq < 30"), "b0")
    # second level carries an extra top-level column (additive evolution)
    sink.apply(
        df.filter("seq >= 30").withColumn("extra_col", F.lit(7).cast("long")),
        "b1",
    )
    m = sink.current_manifest()
    paths = sink._all_paths(m)
    ours = sink._read_bucket_paths(paths)
    import os

    theirs = spark.read.option("mergeSchema", "true").parquet(
        *[os.path.join(sink.root, p) for p in paths]
    )
    assert {f.name: f.dataType for f in ours.schema.fields} == {
        f.name: f.dataType for f in theirs.schema.fields
    }
    assert ours.count() == theirs.count()


def test_schema_merge_conflict_falls_back(spark, tmp_path):
    """A same-name type conflict (foreign/hand-built files) must not
    silently mis-type: the driver-side merge detects it and falls back
    to Spark's distributed mergeSchema semantics — which refuse the
    merge, exactly as the pre-optimization read did."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    sink = ParquetSnapshotSink(spark, str(tmp_path / "c"), num_buckets=2, mode="mor")
    d1 = tmp_path / "c" / "x1"
    d2 = tmp_path / "c" / "x2"
    d1.mkdir(parents=True)
    d2.mkdir(parents=True)
    pq.write_table(pa.table({"conv_id": ["a"], "v": pa.array([1], pa.int32())}), str(d1 / "f.parquet"))
    pq.write_table(pa.table({"conv_id": ["b"], "v": pa.array(["x"], pa.string())}), str(d2 / "f.parquet"))
    with pytest.raises(Exception) as ei:
        sink._read_bucket_paths(["x1", "x2"]).count()
    assert "merge" in str(ei.value).lower() or "incompatible" in str(ei.value).lower()


def test_manifest_cache_raises_after_vacuum(spark, tmp_path):
    sink = ParquetSnapshotSink(spark, str(tmp_path / "v"), num_buckets=2, mode="mor")
    df = _events_df(spark, n=40)
    sink.apply(df.filter("seq < 20"), "b0")
    sink.apply(df.filter("seq >= 20"), "b1")
    assert sink.manifest_at(1)["version"] == 1  # warm the cache
    sink.vacuum(keep_versions=1)
    with pytest.raises(ValueError):
        sink.manifest_at(1)


def test_changed_keys_superset_and_guard(spark, tmp_path):
    sink = ParquetSnapshotSink(spark, str(tmp_path / "k"), num_buckets=2, mode="mor")
    df = _events_df(spark, n=90, convs=5)
    sink.apply(df.filter("seq < 30"), "b0")
    v1 = sink.current_version()
    sink.apply(df.filter("seq >= 30 and seq < 60"), "b1")
    ck = {tuple(r) for r in sink.changed_keys(v1).collect()}
    exact = {
        (r["conv_id"], r["turn_idx"])
        for r in sink.read_changes(v1).collect()
    }
    assert exact <= ck, "changed_keys must be a superset of the net-change keys"
    truth = {
        (r["conv_id"], r["turn_idx"])
        for r in df.filter("seq >= 30 and seq < 60").collect()
    }
    assert ck == truth  # exactly the keys present in the new files
    # rollback guard shared with read_changes
    sink.apply(df.filter("seq >= 60"), "b2")
    v3 = sink.current_version()
    sink.rollback(v1)
    with pytest.raises(ValueError):
        sink.changed_keys(v3)


def test_pin_probe_multi_sink_buckets(spark, tmp_path):
    left = ParquetSnapshotSink(spark, str(tmp_path / "l"), num_buckets=4, mode="mor")
    right = ParquetSnapshotSink(
        spark,
        str(tmp_path / "r"),
        num_buckets=8,
        keys=["conv_id"],
        order_cols=["ts", "seq"],
        mode="mor",
    )
    df = _events_df(spark, n=50)
    left.apply(df, "b0")
    right.apply(df.select("conv_id", "op", "ts", "seq"), "b0")
    probe = df.select("conv_id", "turn_idx").distinct()
    pinned, lb, [rb] = left.pin_probe(probe, also=[(right, "conv_id")])
    # bucket sets must equal what read()'s own collect would compute
    vals = [r.conv_id for r in probe.collect()]
    assert lb[1] == 4 and rb[1] == 8
    assert set(lb[0]) == {left.bucket_of(v, 4) for v in vals}
    assert set(rb[0]) == {right.bucket_of(v, 8) for v in vals}
    # and a probed read under the precomputed buckets is exact
    got = left.read(probe_keys=pinned, probe_buckets=lb)
    want = left.read(probe_keys=probe)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    # stale bucket count (rebucket in between) falls back to recollect
    left.rebucket(2)
    got2 = left.read(probe_keys=pinned, probe_buckets=lb)  # lb says nb=4, now 2
    assert sorted(map(tuple, got2.collect())) == sorted(map(tuple, want.collect()))
    pinned.unpersist()
