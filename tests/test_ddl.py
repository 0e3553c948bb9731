"""Strict DDL-gated evolution (operators/ddl.py): schema-change
envelopes parse out of the shared stream; a column materializes only
from its authorizing position onward; pre-DDL appearances stay
quarantined in _extras; an empty authorization set is a no-op."""

from pyspark.sql import functions as F

from embulk_util_json_spark.operators.ddl import (
    apply_ddl_gate,
    ddl_authorizations,
    parse_ddl_events,
)
from embulk_util_json_spark.sources.events import (
    EXTRAS_COL,
    parse_change_events_single_pass,
)


def _stream(spark):
    rows = [
        (1, '{"op":"insert","ts":"2024-01-01 00:00:01","data":'
            '{"conv_id":"a","turn_idx":0,"role":"user","text":"t1",'
            '"tool":null,"model":"early"}}'),
        (2, '{"op":"ddl","ts":"2024-01-01 00:00:02",'
            '"ddl":{"action":"add_column","column":"model"}}'),
        (3, '{"op":"insert","ts":"2024-01-01 00:00:03","data":'
            '{"conv_id":"b","turn_idx":0,"role":"user","text":"t3",'
            '"tool":null,"model":"late"}}'),
        (4, '{"op":"ddl","ts":"2024-01-01 00:00:04",'
            '"ddl":{"action":"add_column","column":"model"}}'),
    ]
    return spark.createDataFrame(rows, "seq long, event_json string")


def test_parse_ddl_events_extracts_only_ddl(spark):
    got = parse_ddl_events(_stream(spark)).orderBy("seq").collect()
    assert [(r.seq, r.action, r.column) for r in got] == [
        (2, "add_column", "model"),
        (4, "add_column", "model"),
    ]


def test_authorization_is_first_ddl_position(spark):
    auth = ddl_authorizations(parse_ddl_events(_stream(spark)))
    assert auth == {"model": 2}


def test_gate_quarantines_pre_ddl_and_materializes_post(spark):
    ev = _stream(spark)
    auth = ddl_authorizations(parse_ddl_events(ev))
    changes = parse_change_events_single_pass(ev).filter(F.col("op") != "ddl")
    gated = apply_ddl_gate(changes, auth)
    by_seq = {r.seq: r for r in gated.collect()}
    # pre-DDL: typed column NULL, value still auditable in _extras
    assert by_seq[1].model is None
    assert by_seq[1][EXTRAS_COL] == {"model": "early"}
    # post-DDL: typed column populated, extras entry consumed
    assert by_seq[3].model == "late"
    assert by_seq[3][EXTRAS_COL] == {}


def test_empty_authorizations_is_noop(spark):
    ev = _stream(spark)
    changes = parse_change_events_single_pass(ev).filter(F.col("op") != "ddl")
    gated = apply_ddl_gate(changes, {})
    assert gated.columns == changes.columns
    assert sorted(map(tuple, gated.collect())) == sorted(
        map(tuple, changes.collect())
    )


def test_gate_plan_is_projection_only(spark):
    ev = _stream(spark)
    changes = parse_change_events_single_pass(ev).filter(F.col("op") != "ddl")
    gated = apply_ddl_gate(changes, {"model": 2})
    plan = gated._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # no shuffle: pure CASE projection
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_parse_ddl_events_bad_ts_reads_null_under_ansi(spark):
    """Under ANSI SQL (the Spark 4 default) one DDL envelope with an
    unparseable ``ts`` reads NULL instead of failing the batch."""
    rows = [
        (1, '{"op":"ddl","ts":"2024-01-01 00:00:01",'
            '"ddl":{"action":"add_column","column":"a"}}'),
        (2, '{"op":"ddl","ts":"not a time",'
            '"ddl":{"action":"add_column","column":"b"}}'),
    ]
    key = "spark.sql.ansi.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "true")
    try:
        got = parse_ddl_events(
            spark.createDataFrame(rows, "seq long, event_json string")
        ).orderBy("seq").collect()
    finally:
        spark.conf.set(key, old)
    assert [(r.seq, r.column) for r in got] == [(1, "a"), (2, "b")]
    assert got[0].ts is not None and got[1].ts is None
