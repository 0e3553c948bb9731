"""Temporal operators (as-of join, gap sessionization) and sink time
travel."""

import datetime as dt

from embulk_util_json_spark.operators.temporal import asof_join, sessionize


def _t(s):
    return dt.datetime.fromisoformat(s)


def test_asof_join_basic(spark):
    left = spark.createDataFrame(
        [
            (1, "u1", _t("2024-01-01T10:00:00")),
            (2, "u1", _t("2024-01-01T12:00:00")),
            (3, "u2", _t("2024-01-01T09:00:00")),  # no prior right row
        ],
        "event_id long, user_id string, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            ("u1", _t("2024-01-01T09:30:00"), 100, "login"),
            ("u1", _t("2024-01-01T11:00:00"), 101, "click"),
            ("u1", _t("2024-01-01T12:00:00"), 102, "buy"),  # exact tie with left 2
            ("u2", _t("2024-01-01T09:30:00"), 103, "late"),  # after left 3
        ],
        "user_id string, ts timestamp, event_id long, event_type string",
    )
    out = {
        r.event_id: r
        for r in asof_join(
            left, right, ["user_id"], "ts",
            right_cols=["event_id", "event_type"], right_tiebreak="event_id",
        ).collect()
    }
    assert out[1].event_id_asof == 100  # latest ≤ 10:00
    assert out[2].event_id_asof == 102  # exact tie is visible
    assert out[3].event_id_asof is None and out[3].ts_asof is None


def test_asof_join_tiebreak(spark):
    left = spark.createDataFrame(
        [(1, "u", _t("2024-01-01T10:00:00"))],
        "event_id long, user_id string, ts timestamp",
    )
    right = spark.createDataFrame(
        [("u", _t("2024-01-01T09:00:00"), 5), ("u", _t("2024-01-01T09:00:00"), 9)],
        "user_id string, ts timestamp, event_id long",
    )
    out = asof_join(
        left, right, ["user_id"], "ts",
        right_cols=["event_id"], right_tiebreak="event_id",
    ).collect()[0]
    assert out.event_id_asof == 9  # greatest tiebreak wins among equal ts


def test_sessionize(spark):
    rows = [
        ("u1", _t("2024-01-01T10:00:00")),
        ("u1", _t("2024-01-01T10:10:00")),  # same session (gap 10m < 30m)
        ("u1", _t("2024-01-01T11:30:00")),  # new session (gap 80m)
        ("u2", _t("2024-01-01T10:00:00")),
    ]
    df = spark.createDataFrame(rows, "user_id string, ts timestamp")
    out = {
        (r.user_id, r.session_id): r
        for r in sessionize(df, ["user_id"], "ts", gap_sec=1800).collect()
    }
    assert out[("u1", 1)].n_events == 2
    assert out[("u1", 1)].session_end == _t("2024-01-01T10:10:00")
    assert out[("u1", 2)].n_events == 1
    assert out[("u2", 1)].n_events == 1


def test_sink_time_travel(spark, tmp_path):
    from embulk_util_json_spark.sinks.snapshot import ParquetSnapshotSink
    from embulk_util_json_spark.sources.generator import generate_events
    from embulk_util_json_spark.streaming.runner import replay_segments
    from tests.segments import write_segments

    t = generate_events(3000, n_convs=10, n_turns=10)
    path = write_segments(t, str(tmp_path / "ev"), 3)
    sink = ParquetSnapshotSink(spark, str(tmp_path / "t"), num_buckets=4, mode="mor")
    replay_segments(spark, path, sink, num_batches=3)
    v_final = sink.current_version()
    assert v_final == 3
    final_rows = sink.read().count()
    v1_rows = sink.read(at_version=1).count()
    assert 0 < v1_rows  # first batch only
    # replaying the rest on top of v1's state reproduces the final state
    got_v1 = {
        (r.conv_id, r.turn_idx): r.text for r in sink.read(at_version=1).collect()
    }
    # v1 state must be a LWW-consistent prefix: re-reading current never
    # loses keys that already won at v1 unless later events superseded them
    got_final = {
        (r.conv_id, r.turn_idx): r.text for r in sink.read().collect()
    }
    assert final_rows == len(got_final)
    assert set(got_v1) - set(got_final) == {
        k for k in got_v1 if k not in got_final
    }  # deleted later is permitted
    import pytest

    with pytest.raises(ValueError):
        sink.read(at_version=99)


def test_table_diff_statuses(spark):
    from embulk_util_json_spark.operators.diff import table_diff, table_diff_summary

    left = spark.createDataFrame(
        [("a", 1, "x"), ("b", 1, "y"), ("c", 1, None)],
        "k string, t int, v string",
    )
    right = spark.createDataFrame(
        [("a", 1, "x"), ("b", 1, "Y"), ("d", 1, "z"), ("c", 1, None)],
        "k string, t int, v string",
    )
    got = {
        (r.k, r.t): r.diff_status
        for r in table_diff(left, right, ["k", "t"]).collect()
    }
    # NULL == NULL is equal (null-safe compare)
    assert got == {
        ("a", 1): "equal",
        ("b", 1): "mismatch",
        ("c", 1): "equal",
        ("d", 1): "only_right",
    }
    s = {
        r.diff_status: r.n
        for r in table_diff_summary(left, right, ["k", "t"]).collect()
    }
    assert s == {"equal": 2, "mismatch": 1, "only_right": 1}


def test_table_diff_presence_only_no_shared_payload(spark):
    from embulk_util_json_spark.operators.diff import table_diff

    left = spark.createDataFrame([("a", 1)], "k string, x int")
    right = spark.createDataFrame([("a", 2), ("b", 3)], "k string, y int")
    got = {r.k: r.diff_status for r in table_diff(left, right, ["k"]).collect()}
    assert got == {"a": "equal", "b": "only_right"}


def _changes_df(spark, rows):
    """(seq, op, conv, turn, ts, role, text) change rows."""
    return spark.createDataFrame(
        [(s, op, c, t, _t(ts), r, x) for s, op, c, t, ts, r, x in rows],
        "seq long, op string, conv_id string, turn_idx int, "
        "ts timestamp, role string, text string",
    )


def _enriched(spark, changes_rows, facts_rows, **kw):
    from embulk_util_json_spark.operators.history import scd2_history
    from embulk_util_json_spark.operators.temporal import temporal_enrich

    versions = scd2_history(
        _changes_df(spark, changes_rows), ["conv_id", "turn_idx"], ["ts", "seq"]
    )
    facts = spark.createDataFrame(
        [(i, c, t, _t(ts)) for i, c, t, ts in facts_rows],
        "fact_id long, conv_id string, turn_idx int, ts timestamp",
    )
    out = temporal_enrich(
        facts, versions, ["conv_id", "turn_idx"], attrs=["role", "text"], **kw
    )
    return {r.fact_id: (r.role_dim, r.text_dim) for r in out.collect()}


def test_temporal_enrich_versions_and_gaps(spark):
    """Facts pick the version containing their ts; deletion gaps and
    pre-history facts yield NULLs, not a stale carried payload."""
    changes = [
        (0, "insert", "c1", 1, "2024-01-01T10:00:00", "user", "v1"),
        (1, "update", "c1", 1, "2024-01-01T12:00:00", "user", "v2"),
        (2, "delete", "c1", 1, "2024-01-01T14:00:00", None, None),
        (3, "insert", "c1", 1, "2024-01-01T16:00:00", "user", "v3"),
    ]
    facts = [
        (1, "c1", 1, "2024-01-01T09:00:00"),  # before first version
        (2, "c1", 1, "2024-01-01T11:00:00"),  # inside v1
        (3, "c1", 1, "2024-01-01T12:00:00"),  # boundary → v2 (half-open)
        (4, "c1", 1, "2024-01-01T15:00:00"),  # deletion gap
        (5, "c1", 1, "2024-01-01T14:00:00"),  # delete instant → gone
        (6, "c1", 1, "2024-01-01T17:00:00"),  # re-inserted, open interval
        (7, "c9", 9, "2024-01-01T12:00:00"),  # key never existed
    ]
    got = _enriched(spark, changes, facts)
    assert got[1] == (None, None)
    assert got[2] == ("user", "v1")
    assert got[3] == ("user", "v2")
    assert got[4] == (None, None), "asof alone would leak v2 here"
    assert got[5] == (None, None)
    assert got[6] == ("user", "v3")
    assert got[7] == (None, None)


def test_temporal_enrich_same_instant_chain(spark):
    """Versions sharing valid_from_ts resolve by seq: the
    binlog-latest same-instant version is the one a fact at that
    instant sees; zero-length (same-ts) predecessors match nothing."""
    changes = [
        (0, "insert", "c1", 1, "2024-01-01T10:00:00", "user", "a"),
        (1, "update", "c1", 1, "2024-01-01T10:00:00", "user", "b"),
        (2, "update", "c1", 1, "2024-01-01T10:00:00", "user", "c"),
    ]
    facts = [(1, "c1", 1, "2024-01-01T10:00:00"),
             (2, "c1", 1, "2024-01-01T11:00:00")]
    got = _enriched(spark, changes, facts)
    assert got[1] == ("user", "c")
    assert got[2] == ("user", "c")


def test_temporal_enrich_delete_then_reinsert_same_instant(spark):
    """delete@T then insert@T (higher seq): a fact at T sees the
    re-inserted row; insert@T then delete@T sees nothing."""
    changes = [
        (0, "insert", "c1", 1, "2024-01-01T09:00:00", "user", "old"),
        (1, "delete", "c1", 1, "2024-01-01T10:00:00", None, None),
        (2, "insert", "c1", 1, "2024-01-01T10:00:00", "user", "new"),
        (3, "insert", "c2", 2, "2024-01-01T10:00:00", "user", "doomed"),
        (4, "delete", "c2", 2, "2024-01-01T10:00:00", None, None),
    ]
    facts = [(1, "c1", 1, "2024-01-01T10:00:00"),
             (2, "c2", 2, "2024-01-01T10:00:00")]
    got = _enriched(spark, changes, facts)
    assert got[1] == ("user", "new")
    assert got[2] == (None, None)


def test_temporal_enrich_plan_single_exchange_no_nlj(spark):
    """The temporal join must plan as the union-tag window — no
    nested-loop/cartesian join a range condition would induce."""
    from embulk_util_json_spark.operators.history import scd2_history
    from embulk_util_json_spark.operators.temporal import temporal_enrich

    changes = _changes_df(
        spark, [(0, "insert", "c1", 1, "2024-01-01T10:00:00", "user", "v1")]
    )
    versions = scd2_history(changes, ["conv_id", "turn_idx"], ["ts", "seq"])
    facts = spark.createDataFrame(
        [(1, "c1", 1, _t("2024-01-01T11:00:00"))],
        "fact_id long, conv_id string, turn_idx int, ts timestamp",
    )
    plan = (
        temporal_enrich(facts, versions, ["conv_id", "turn_idx"], attrs=["role"])
        ._jdf.queryExecution().executedPlan().toString()
    )
    for bad in ("CartesianProduct", "BroadcastNestedLoop", "SortMergeJoin"):
        assert bad not in plan, f"unexpected {bad} in plan:\n{plan}"
