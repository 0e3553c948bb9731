"""Standard CDC wire-format adapters: Debezium and Maxwell envelopes.

The native envelope (``sources/events.py``) is this engine's canonical
change-event shape, but real binlog/WAL tails usually arrive in a
connector's wire format. These adapters normalize the two most common
public formats to the SAME canonical change-row schema the rest of
the engine consumes (op, ts, seq, conv_id, turn_idx, role, text,
tool, ``_extras``), so every downstream stage — LWW, exactly-once
sinks, routing, quarantine — works unchanged on either feed.

Debezium envelope (JSON, string-converter variant; field reference:
debezium.io "change event value" documentation)::

    {"before": {...}|null, "after": {...}|null,
     "source": {"ts_ms": <long>, "ts_us": <long>, "table": <string>},
     "op": "c"|"u"|"d"|"r", "ts_ms": <long>}

- ``op`` mapping: c (create) and r (snapshot read) → insert,
  u → update, d → delete; anything else → NULL op (the row-skippable
  quarantine path, same taxonomy as the native parser).
- row image: ``after`` for c/u/r; ``d`` carries the last row image in
  ``before`` (``after`` is null) → ``coalesce(after, before)``.
- event time: ``source.ts_us`` (microseconds, Debezium 2.6+) when
  present — lossless against Spark's microsecond timestamps — else
  ``source.ts_ms``, else the envelope-level ``ts_ms``.

Maxwell envelope (maxwells-daemon.io "data format")::

    {"database": str, "table": str,
     "type": "insert"|"update"|"delete"|"bootstrap-insert",
     "ts": <epoch seconds>, "xid": <long>,
     "data": {...full row...}, "old": {...changed-col priors...}}

- ``type`` mapping: insert / bootstrap-insert → insert, update →
  update, delete → delete (Maxwell deletes carry the full row in
  ``data``; ``old`` is advisory and ignored by LWW).
- event time: ``ts`` is WHOLE SECONDS in the wire format — a genuine
  precision loss vs the native envelope. LWW ties created by the
  truncation resolve deterministically by ``seq`` (the delivery
  offset), exactly as native ts-ties do.

Neither format carries a total delivery order in the value itself
(Debezium's LSN/GTID shape is connector-specific), so both adapters
take the external ``seq_col`` — the Kafka-offset / file-offset
analogue — as the tie-breaking sequence, same contract as the native
parser.

Both adapters are single-pass: ONE ``from_json`` per row with the row
images as ``map<string,string>``, then ``events.canonical_rows`` —
the projection every dialect shares (typed base columns try-converted
out of the map, unknown members retained in ``_extras``), so schema
evolution and bad-value handling are those of the native path
(reference semantics: single-pass capture, JsonParser.java multi-doc
stream — re-expressed, not ported).

``to_debezium_json`` / ``to_maxwell_json`` re-wrap a native-envelope
stream into the wire formats (string-encoded values, as produced by
the connectors' String/JSON converters with schemas disabled). They
exist so tests and the graded queries can prove the round-trip
invariant: adapter ∘ rewrap ≡ native parse.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F, types as T

from .events import canonical_rows, epoch_timestamp

_MAP = T.MapType(T.StringType(), T.StringType())

DEBEZIUM_SCHEMA = T.StructType(
    [
        T.StructField("before", _MAP),
        T.StructField("after", _MAP),
        T.StructField(
            "source",
            T.StructType(
                [
                    T.StructField("ts_ms", T.LongType()),
                    T.StructField("ts_us", T.LongType()),
                    T.StructField("table", T.StringType()),
                ]
            ),
        ),
        T.StructField("op", T.StringType()),
        T.StructField("ts_ms", T.LongType()),
    ]
)

MAXWELL_SCHEMA = T.StructType(
    [
        T.StructField("database", T.StringType()),
        T.StructField("table", T.StringType()),
        T.StructField("type", T.StringType()),
        T.StructField("ts", T.LongType()),
        T.StructField("xid", T.LongType()),
        T.StructField("data", _MAP),
        T.StructField("old", _MAP),
    ]
)


def parse_debezium_events(
    events: DataFrame,
    json_col: str = "event_json",
    seq_col: str = "seq",
    with_table: bool = False,
) -> DataFrame:
    """Debezium change events → canonical change rows.

    Output schema is identical to ``events.parse_change_events``
    (with ``_table`` from ``source.table`` when ``with_table``), so
    any sink / router / LWW stage accepts the result unchanged.
    """
    parsed = events.select(
        F.col(seq_col).cast("long").alias("seq"),
        F.from_json(F.col(json_col), DEBEZIUM_SCHEMA).alias("_e"),
    )
    op = (
        F.when(F.col("_e.op").isin("c", "r"), F.lit("insert"))
        .when(F.col("_e.op") == "u", F.lit("update"))
        .when(F.col("_e.op") == "d", F.lit("delete"))
    )  # no otherwise → NULL op = quarantine, same as a malformed row
    ts = F.coalesce(
        F.timestamp_micros(F.col("_e.source.ts_us")),
        epoch_timestamp(F.col("_e.source.ts_ms"), "ms"),
        epoch_timestamp(F.col("_e.ts_ms"), "ms"),
    )
    data = F.coalesce(F.col("_e.after"), F.col("_e.before"))
    return canonical_rows(parsed, op, ts, data, F.col("_e.source.table"), with_table)


def parse_maxwell_events(
    events: DataFrame,
    json_col: str = "event_json",
    seq_col: str = "seq",
    with_table: bool = False,
) -> DataFrame:
    """Maxwell change events → canonical change rows.

    ``ts`` is second-granular (the wire format's precision); LWW ties
    introduced by the truncation fall through to ``seq`` exactly like
    native ts-ties.
    """
    parsed = events.select(
        F.col(seq_col).cast("long").alias("seq"),
        F.from_json(F.col(json_col), MAXWELL_SCHEMA).alias("_e"),
    )
    op = (
        F.when(F.col("_e.type").isin("insert", "bootstrap-insert"), F.lit("insert"))
        .when(F.col("_e.type") == "update", F.lit("update"))
        .when(F.col("_e.type") == "delete", F.lit("delete"))
    )
    ts = epoch_timestamp(F.col("_e.ts"), "s")
    return canonical_rows(
        parsed, op, ts, F.col("_e.data"), F.col("_e.table"), with_table
    )


# ---------------------------------------------------------------------------
# rewrap fixtures: native envelope → wire format
# ---------------------------------------------------------------------------

_NATIVE_SCHEMA = T.StructType(
    [
        T.StructField("table", T.StringType()),
        T.StructField("op", T.StringType()),
        T.StructField("ts", T.StringType()),
        T.StructField("data", _MAP),
    ]
)


def _native_parsed(events: DataFrame, json_col: str, seq_col: str) -> DataFrame:
    return events.select(
        F.col(seq_col).cast("long").alias("seq"),
        F.from_json(F.col(json_col), _NATIVE_SCHEMA).alias("_e"),
    )


def to_debezium_json(
    events: DataFrame, json_col: str = "event_json", seq_col: str = "seq"
) -> DataFrame:
    """Native envelope stream → (seq, event_json) in Debezium wire
    format (string-encoded row images, ``source.ts_us`` carried so the
    round trip is microsecond-lossless)."""
    parsed = _native_parsed(events, json_col, seq_col)
    is_del = F.col("_e.op") == "delete"
    op = (
        F.when(F.col("_e.op") == "insert", F.lit("c"))
        .when(F.col("_e.op") == "update", F.lit("u"))
        .when(is_del, F.lit("d"))
    )
    ts = F.try_to_timestamp(F.col("_e.ts"))
    envelope = F.to_json(
        F.struct(
            F.when(is_del, F.col("_e.data")).alias("before"),
            F.when(~is_del, F.col("_e.data")).alias("after"),
            F.struct(
                F.unix_millis(ts).alias("ts_ms"),
                F.unix_micros(ts).alias("ts_us"),
                F.col("_e.table").alias("table"),
            ).alias("source"),
            op.alias("op"),
            F.unix_millis(ts).alias("ts_ms"),
        )
    )
    return parsed.select("seq", envelope.alias("event_json"))


def to_maxwell_json(
    events: DataFrame, json_col: str = "event_json", seq_col: str = "seq"
) -> DataFrame:
    """Native envelope stream → (seq, event_json) in Maxwell wire
    format (``ts`` floored to whole seconds, as Maxwell emits)."""
    parsed = _native_parsed(events, json_col, seq_col)
    op = (
        F.when(F.col("_e.op") == "insert", F.lit("insert"))
        .when(F.col("_e.op") == "update", F.lit("update"))
        .when(F.col("_e.op") == "delete", F.lit("delete"))
    )
    envelope = F.to_json(
        F.struct(
            F.lit("transcripts_db").alias("database"),
            F.col("_e.table").alias("table"),
            op.alias("type"),
            F.unix_timestamp(F.try_to_timestamp(F.col("_e.ts"))).alias("ts"),
            F.col("seq").alias("xid"),
            F.col("_e.data").alias("data"),
        )
    )
    return parsed.select("seq", envelope.alias("event_json"))
