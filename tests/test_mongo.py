"""MongoDB change-stream adapter (sixth wire dialect).

Contract under test: relaxed-extended-JSON change-stream events
normalize to the exact canonical change-row schema. Mongo is the only
adapter with TWO honest readings of an update — the post-image
(``fullDocument: "updateLookup"``) row mode and the sparse
``updateDescription`` patch mode — so the tests pin both: ms-truncated
wallTime event time (clusterTime epoch-second fallback),
documentKey-only deletes, collection-lifecycle control filtering vs
unknown-op quarantine, $unset → explicit-NULL writes that carry
forward through column-level LWW, schema evolution arriving via
``updatedFields``, and both rewrap round trips vs the native parser.
"""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from embulk_util_json_spark.operators.lww import lww_patch
from embulk_util_json_spark.sources.events import parse_change_events_single_pass
from embulk_util_json_spark.sources.mongo import (
    parse_mongo_changestream,
    parse_mongo_patch_events,
    rows_to_mongo_patch_json,
    to_mongo_changestream_json,
)

MARKER = "__unchanged__"

NATIVE_EVENTS = [
    (10, '{"op":"insert","ts":"2024-03-01 10:00:00.123",'
         '"data":{"conv_id":"c1","turn_idx":0,"role":"user","text":"t0","tool":null}}'),
    (11, '{"op":"update","ts":"2024-03-01 10:00:00.999",'
         '"data":{"conv_id":"c1","turn_idx":0,"role":"user","text":"t0v2","tool":null}}'),
    (12, '{"op":"delete","ts":"2024-03-01 10:00:01.5",'
         '"data":{"conv_id":"c1","turn_idx":0,"role":"user","text":"t0v2","tool":null}}'),
    (13, '{"op":"insert","ts":"2024-03-01 10:00:02",'
         '"data":{"conv_id":"c2","turn_idx":0,"role":"user","text":"x0",'
         '"tool":"search","model":"m-9"}}'),
]


def _native(spark):
    return spark.createDataFrame(NATIVE_EVENTS, "seq long, event_json string")


def test_roundtrip_equals_native_parse_ms(spark):
    """adapter ∘ rewrap ≡ native single-pass parse at the wire
    format's ms precision (the fixture keeps ms-grained timestamps so
    equality is bit-for-bit), EXCEPT deletes: Mongo never ships a
    delete's final image, so tombstones carry only the key columns."""
    native = _native(spark)
    a = parse_change_events_single_pass(_native(spark)).orderBy("seq").collect()
    b = parse_mongo_changestream(to_mongo_changestream_json(native)).orderBy(
        "seq"
    ).collect()
    assert [r.asDict() for r in b if r.op != "delete"] == [
        r.asDict() for r in a if r.op != "delete"
    ]
    (da,), (db,) = (
        [r for r in a if r.op == "delete"],
        [r for r in b if r.op == "delete"],
    )
    assert (db.conv_id, db.turn_idx, db.ts, db.seq) == (
        da.conv_id, da.turn_idx, da.ts, da.seq,
    )
    assert db.role is None and db.text is None and db.tool is None


def test_wire_shape_is_mongo_changestream(spark):
    """The rewrap emits real change-stream members: operationType,
    BSON-shaped clusterTime/wallTime, ns, documentKey; deletes carry
    no fullDocument; updates carry updateDescription."""
    docs = {
        json.loads(r.event_json)["operationType"]: json.loads(r.event_json)
        for r in to_mongo_changestream_json(_native(spark)).collect()
    }
    ins, upd, dele = docs["insert"], docs["update"], docs["delete"]
    assert ins["ns"] == {"db": "app", "coll": "transcripts"}
    assert ins["fullDocument"]["text"] == "t0" or ins["fullDocument"]["text"] == "x0"
    assert set(dele.keys()) >= {"documentKey", "clusterTime", "wallTime"}
    assert "fullDocument" not in dele
    assert dele["documentKey"] == {"conv_id": "c1", "turn_idx": "0"}
    assert upd["updateDescription"]["removedFields"] == []
    assert upd["updateDescription"]["updatedFields"]["text"] == "t0v2"
    assert upd["wallTime"]["$date"].endswith("Z")
    assert isinstance(upd["clusterTime"]["$timestamp"]["t"], int)


def test_control_events_filtered_unknown_quarantined(spark):
    """drop/rename/dropDatabase/invalidate are stream structure
    (dropped); an unknown operationType surfaces as a NULL-op
    quarantine row; malformed JSON likewise."""
    rows = [
        (1, '{"operationType":"drop","ns":{"db":"app","coll":"transcripts"}}'),
        (2, '{"operationType":"invalidate"}'),
        (3, '{"operationType":"mystery","documentKey":{"conv_id":"c9","turn_idx":"1"},'
            '"wallTime":{"$date":"2024-03-01T10:00:00.000Z"}}'),
        (4, 'not json at all'),
    ]
    df = spark.createDataFrame(rows, "seq long, event_json string")
    out = parse_mongo_changestream(df).collect()
    assert sorted(r.seq for r in out) == [3, 4]
    assert all(r.op is None for r in out)


def test_clustertime_fallback_when_walltime_missing(spark):
    """Without wallTime (older server versions), event time falls back
    to clusterTime's epoch-second t."""
    rows = [
        (1, '{"operationType":"insert","clusterTime":{"$timestamp":{"t":1709287200,"i":7}},'
            '"ns":{"db":"app","coll":"transcripts"},'
            '"documentKey":{"conv_id":"c1","turn_idx":"0"},'
            '"fullDocument":{"conv_id":"c1","turn_idx":"0","role":"user","text":"t","tool":null}}'),
    ]
    df = spark.createDataFrame(rows, "seq long, event_json string")
    (r,) = parse_mongo_changestream(df).collect()
    assert r.ts.isoformat() == "2024-03-01T10:00:00"


def test_postimageless_update_degrades_to_key_plus_updated(spark):
    """Row mode on a post-image-less update: documentKey ∪
    updatedFields (keys never lost, untouched columns NULL) — the
    documented degraded reading; sparse feeds belong on the patch
    path."""
    rows = [
        (1, '{"operationType":"update","wallTime":{"$date":"2024-03-01T10:00:00.100Z"},'
            '"ns":{"db":"app","coll":"transcripts"},'
            '"documentKey":{"conv_id":"c3","turn_idx":"4"},'
            '"updateDescription":{"updatedFields":{"text":"patched"},"removedFields":[]}}'),
    ]
    df = spark.createDataFrame(rows, "seq long, event_json string")
    (r,) = parse_mongo_changestream(df).collect()
    assert (r.op, r.conv_id, r.turn_idx, r.text) == ("update", "c3", 4, "patched")
    assert r.role is None and r.tool is None


def test_patch_parse_marker_unset_and_extras(spark):
    """Patch mode: untouched → marker, $unset → explicit NULL, touched
    → value; keys from documentKey; unknown updatedFields members land
    in _extras (schema evolution flows through sparse patches)."""
    rows = [
        (1, '{"operationType":"update","wallTime":{"$date":"2024-03-01T10:00:00.100Z"},'
            '"ns":{"db":"app","coll":"transcripts"},'
            '"documentKey":{"conv_id":"c3","turn_idx":"4"},'
            '"updateDescription":{"updatedFields":{"text":"patched","model":"m-3"},'
            '"removedFields":["tool"]}}'),
    ]
    df = spark.createDataFrame(rows, "seq long, event_json string")
    (r,) = parse_mongo_patch_events(df, MARKER).collect()
    assert (r.conv_id, r.turn_idx) == ("c3", 4)
    assert r.text == "patched"
    assert r.role == MARKER
    assert r.tool is None
    assert dict(r._extras) == {"model": "m-3"}


def test_patch_roundtrip_carries_unset_forward(spark):
    """rows_to_mongo_patch_json ∘ parse_mongo_patch_events is the
    identity on the lww_patch input contract, and the $unset NULL
    carries forward through column-level LWW while untouched columns
    resolve to their last real writer."""
    rows = [
        (1, "insert", "2024-01-01 00:00:01.123", "c1", 1, "user", "hi", "t0"),
        # text touched, tool $unset, role untouched
        (2, "update", "2024-01-01 00:00:02.523", "c1", 1, MARKER, "patched", None),
        # role touched only
        (3, "update", "2024-01-01 00:00:03.9", "c1", 1, "sys", MARKER, MARKER),
        (5, "insert", "2024-01-01 00:00:05.0", "c2", 0, "user", "x", "t2"),
        (6, "delete", "2024-01-01 00:00:06.0", "c2", 0, None, None, None),
    ]
    patched = spark.createDataFrame(
        rows,
        "seq long, op string, ts string, conv_id string, turn_idx int,"
        " role string, text string, tool string",
    ).withColumn("ts", F.to_timestamp("ts"))
    wire = rows_to_mongo_patch_json(patched, MARKER)
    # wire shape: update 2 carries only the touched field + the $unset
    upd2 = json.loads(
        wire.filter(F.col("seq") == 2).collect()[0].event_json
    )["updateDescription"]
    assert upd2["updatedFields"] == {"text": "patched"}
    assert upd2["removedFields"] == ["tool"]
    cols = ["seq", "op", "ts", "conv_id", "turn_idx", "role", "text", "tool"]
    back = parse_mongo_patch_events(wire, MARKER).select(*cols)
    assert [tuple(r) for r in back.orderBy("seq").collect()] == [
        tuple(r) for r in patched.select(*cols).orderBy("seq").collect()
    ]
    final = lww_patch(
        back,
        ["conv_id", "turn_idx"],
        ["ts", "seq"],
        patch_cols=["role", "text", "tool"],
        unchanged_marker=MARKER,
        absent_if=F.col("op") == "delete",
    ).filter(F.col("op") != "delete")
    (r,) = final.collect()
    assert (r.conv_id, r.turn_idx, r.role, r.text, r.tool) == (
        "c1", 1, "sys", "patched", None,
    )


def test_single_from_json_per_row(spark):
    """Single-pass contract: exactly one from_json in the optimized
    plan of either parse path."""
    wire_rows = [
        (r.seq, r.event_json)
        for r in to_mongo_changestream_json(_native(spark)).collect()
    ]
    wire = spark.createDataFrame(wire_rows, "seq long, event_json string")
    for df in (
        parse_mongo_changestream(wire),
        parse_mongo_patch_events(wire, MARKER),
    ):
        # The analyzed plan carries the parse exactly once (one
        # from_json over the raw column; the optimizer may later clone
        # it into the control-action Filter, where codegen's common
        # subexpression handling applies — same shape as the sibling
        # adapters).
        plan = df._jdf.queryExecution().analyzed().toString()
        assert plan.count("from_json") == 1, plan


def test_walltime_is_utc_under_non_utc_session_timezone(spark):
    """``wallTime`` ends in ``Z``, so it must be the UTC instant even
    when the session time zone is not UTC: both rewraps round-trip the
    event time exactly under America/Los_Angeles (a DST zone)."""
    key = "spark.sql.session.timeZone"
    prev = spark.conf.get(key)
    spark.conf.set(key, "America/Los_Angeles")
    try:
        native = _native(spark)
        a = parse_change_events_single_pass(native).orderBy("seq").collect()
        wire = to_mongo_changestream_json(native)
        walls = [
            json.loads(r.event_json)["wallTime"]["$date"]
            for r in wire.orderBy("seq").collect()
        ]
        # 2024-03-01 10:00:00.123 in Los Angeles (PST, UTC-8)
        assert walls[0] == "2024-03-01T18:00:00.123Z"
        b = parse_mongo_changestream(wire).orderBy("seq").collect()
        assert [r.ts for r in b] == [r.ts for r in a]

        patched = spark.createDataFrame(
            [(1, "insert", "2024-11-03 01:30:00.250", "c1", 1, "u", "x", "t"),
             (2, "update", "1969-12-31 23:59:59.999", "c1", 1, "u", "y", "t")],
            "seq long, op string, ts string, conv_id string, turn_idx int,"
            " role string, text string, tool string",
        ).withColumn("ts", F.to_timestamp("ts"))
        back = parse_mongo_patch_events(
            rows_to_mongo_patch_json(patched, MARKER), MARKER
        )
        assert [r.ts for r in back.orderBy("seq").collect()] == [
            r.ts for r in patched.orderBy("seq").collect()
        ]
    finally:
        spark.conf.set(key, prev)
