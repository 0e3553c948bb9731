"""Auto-split from __spark_entry__.py (round 5): shared fixtures (event-stream derivation, scratch dirs) and cross-module oracle fragments

Part of the driver registry package — every ``_q_*`` callable is a
``(spark, sf_dir) -> DataFrame`` query and every ``_ORACLE_*`` /
``*_oracle`` value is its DuckDB ANSI-SQL twin. See
``__spark_entry__.queries()`` for the graded registry order.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession, functions as F


TS_FMT = "yyyy-MM-dd HH:mm:ss.SSSSSS"


def _read(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{table}.parquet"))


def _events_as_cdc_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derive a deterministic CDC change-event stream from the driver's
    ``events`` table (so the DuckDB oracle can derive the identical
    stream relationally): one JSON envelope per event row."""
    ev = _read(spark, sf_dir, "events")
    op = (
        F.when(F.col("event_type") == "error", F.lit("delete"))
        .when(F.col("event_type") == "signup", F.lit("insert"))
        .otherwise(F.lit("update"))
    )
    event_json = F.concat(
        F.lit('{"op":"'), op,
        F.lit('","ts":"'), F.date_format("ts", TS_FMT),
        F.lit('","data":{"conv_id":"u'), F.col("user_id").cast("string"),
        F.lit('","turn_idx":'), (F.col("event_id") % 25).cast("string"),
        F.lit(',"role":"r'), (F.col("event_id") % 4).cast("string"),
        F.lit('","text":"text '), F.col("event_id").cast("string"),
        F.lit(' v'), F.round(F.col("value"), 2).cast("string"),
        F.lit('","tool":"'), F.col("event_type"),
        F.lit('"}}'),
    )
    return ev.select(F.col("event_id").alias("seq"), event_json.alias("event_json"))


_SCRATCH: list[str] = []


def _scratch(prefix: str) -> str:
    """Sink-building queries write their scratch tables to tmpfs when
    available (same rationale as bench.py's work_base: a single
    local[·] JVM shares ONE host disk; on a real cluster every
    executor brings its own). The dirs are removed at interpreter exit,
    not earlier: the frames the queries return read them lazily."""
    base = "/dev/shm" if os.access("/dev/shm", os.W_OK) else None
    path = tempfile.mkdtemp(prefix=prefix, dir=base)
    if not _SCRATCH:
        atexit.register(_remove_scratch)
    _SCRATCH.append(path)
    return path


def _remove_scratch() -> None:
    while _SCRATCH:
        shutil.rmtree(_SCRATCH.pop(), ignore_errors=True)


_ORACLE_CDC_EVENTS = """
    SELECT
        event_id AS seq,
        CASE WHEN event_type = 'error' THEN 'delete'
             WHEN event_type = 'signup' THEN 'insert'
             ELSE 'update' END AS op,
        ts,
        'u' || CAST(user_id AS VARCHAR) AS conv_id,
        CAST(event_id % 25 AS INTEGER) AS turn_idx,
        'r' || CAST(event_id % 4 AS VARCHAR) AS role,
        'text ' || CAST(event_id AS VARCHAR) || ' v' ||
            CAST(ROUND(value, 2) AS VARCHAR) AS text,
        event_type AS tool
    FROM events
"""


_ORACLE_CDC_FINAL = f"""
    WITH changes AS ({_ORACLE_CDC_EVENTS}),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY conv_id, turn_idx ORDER BY ts DESC, seq DESC
        ) AS rn
        FROM changes
    )
    SELECT conv_id, turn_idx, role, text, tool, ts
    FROM ranked WHERE rn = 1 AND op <> 'delete'
"""


_HOLEY_SQL = (
    f"SELECT * FROM ({_ORACLE_CDC_EVENTS}) "
    "WHERE NOT (seq % 101 = 0 OR seq % 5000 < 50)"
)

_ALIGN_E1 = "2024-01-11 00:00:00"
_ALIGN_E2 = "2024-01-21 00:00:00"


def _final_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared CDC-replay final state (the transcripts table) for the
    transcript-native operators: parse → LWW → tombstones filtered."""
    from embulk_util_json_spark.operators.lww import lww_agg
    from embulk_util_json_spark.sources.events import parse_change_events

    events = _events_as_cdc_json(spark, sf_dir)
    changes = parse_change_events(events)
    final = lww_agg(changes, ["conv_id", "turn_idx"], ["ts", "seq"])
    return final.filter(F.col("op") != "delete").select(
        "conv_id", "turn_idx", "role", "text", "tool", "ts"
    )


def _holey_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministically knock holes in the change stream (single
    positions at every 101st seq, 50-wide chunks every 5000) — the
    WAL-hole fixture for the continuity checks."""
    events = _events_as_cdc_json(spark, sf_dir)
    return events.filter(
        ~((F.col("seq") % 101 == 0) | (F.col("seq") % 5000 < 50))
    )


def _gapped_midpoint_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change stream with one 50-position hole at the midpoint seq —
    the lost-WAL-segment fixture for in-order commit fencing. The
    midpoint is integer arithmetic over max(seq) so both engines pin
    the identical hole."""
    ev = _events_as_cdc_json(spark, sf_dir)
    mid = ev.agg(F.expr("max(seq) div 2").alias("_mid"))
    return (
        ev.crossJoin(F.broadcast(mid))
        .filter(
            ~((F.col("seq") >= F.col("_mid")) & (F.col("seq") < F.col("_mid") + 50))
        )
        .drop("_mid")
    )


_PATCH_MARKER = "__unchanged__"


def _patchify(changes: DataFrame) -> DataFrame:
    """Deterministic marker patterning shared by every cdc_patch_*
    query (and mirrored by _ORACLE_PATCH_CASES): updates mark role
    unchanged on even seq, text on seq%3, tool always — the Debezium
    TOAST-placeholder shape. Single-sourced so engine and oracle can
    never drift on the pattern."""
    is_upd = F.col("op") == "update"
    m = F.lit(_PATCH_MARKER)
    return changes.select(
        "seq", "op", "ts", "conv_id", "turn_idx",
        F.when(is_upd & (F.col("seq") % 2 == 0), m).otherwise(F.col("role")).alias("role"),
        F.when(is_upd & (F.col("seq") % 3 == 0), m).otherwise(F.col("text")).alias("text"),
        F.when(is_upd, m).otherwise(F.col("tool")).alias("tool"),
    )


_ORACLE_PATCH_CASES = f"""CASE WHEN op = 'update' AND seq % 2 = 0
                 THEN '{_PATCH_MARKER}' ELSE role END AS role,
            CASE WHEN op = 'update' AND seq % 3 = 0
                 THEN '{_PATCH_MARKER}' ELSE text END AS text,
            CASE WHEN op = 'update'
                 THEN '{_PATCH_MARKER}' ELSE tool END AS tool"""


def _events_as_cdc_json_evolving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change stream where every 5th event carries an extra 'model'
    field mid-stream (FIXTURES.md T7 schema evolution)."""
    ev = _read(spark, sf_dir, "events")
    op = (
        F.when(F.col("event_type") == "error", F.lit("delete"))
        .when(F.col("event_type") == "signup", F.lit("insert"))
        .otherwise(F.lit("update"))
    )
    model_frag = F.when(
        F.col("event_id") % 5 == 0, F.lit(',"model":"m-2"')
    ).otherwise(F.lit(""))
    event_json = F.concat(
        F.lit('{"op":"'), op,
        F.lit('","ts":"'), F.date_format("ts", TS_FMT),
        F.lit('","data":{"conv_id":"u'), F.col("user_id").cast("string"),
        F.lit('","turn_idx":'), (F.col("event_id") % 25).cast("string"),
        F.lit(',"role":"r'), (F.col("event_id") % 4).cast("string"),
        F.lit('","text":"text '), F.col("event_id").cast("string"),
        F.lit('","tool":"'), F.col("event_type"),
        F.lit('"'), model_frag, F.lit("}}"),
    )
    return ev.select(F.col("event_id").alias("seq"), event_json.alias("event_json"))


__all__ = [
    "TS_FMT",
    "_read",
    "_events_as_cdc_json",
    "_scratch",
    "_ORACLE_CDC_EVENTS",
    "_ORACLE_CDC_FINAL",
    "_HOLEY_SQL",
    "_ALIGN_E1",
    "_ALIGN_E2",
    "_final_state",
    "_holey_events",
    "_gapped_midpoint_events",
    "_PATCH_MARKER",
    "_patchify",
    "_ORACLE_PATCH_CASES",
    "_events_as_cdc_json_evolving",
]
