"""Change-event envelope parsing (the CDC analogue of the reference's
capture stage), and the one home of the canonical change-row shape.

A native event is one JSON document:

    {"op":"insert|update|delete","ts":"<iso8601>",
     "data":{"conv_id":..,"turn_idx":..,"role":..,"text":..,"tool":..,
             ...possibly new fields appearing mid-stream...}}

Every wire dialect (native here, Debezium/Maxwell, Canal, wal2json,
Mongo) parses its envelope with ONE ``from_json`` whose row image is
``map<string,string>`` (Spark coerces non-string values to their JSON
text, so nothing is lost; nested values stay canonical JSON strings)
and then calls :func:`canonical_rows`, the only code that builds the
canonical columns: ``[_table,] op, ts, seq``, the five
``BASE_DATA_FIELDS`` converted out of the map, and ``_extras``, the
map of every other ``data`` member. No Python runs per row.

Schema evolution is metadata-only and identical on every entry point:
the sink observes the set of ``_extras`` keys during its write job (an
``observe`` aggregate, no extra scan) and declares them in the
manifest; ``read()`` materializes them as string columns, old rows
NULL (FIXTURES.md T7).

A value that does not convert does not fail the batch. Conversions
run in try mode (SQL ``try_cast`` / ``try_to_timestamp``), so under
ANSI SQL a member such as ``"turn_idx":"zz"``, ``1.5`` or ``2^40``, or
an unparseable ``ts``, reads NULL instead of raising
``CAST_INVALID_INPUT``; an epoch event time outside Spark's timestamp
range reads NULL through :func:`epoch_timestamp` instead of failing
with ``long overflow`` — the row-skippable reading of the reference's
JsonParseException taxonomy (JsonParseException.java:24-43). The
quarantine rule: a row is malformed when ``op`` or the first key
column is NULL (the sink counts it, ``read()`` never shows
it, ``quarantine_dir`` dead-letters its raw bytes). Any other NULL
field is stored as NULL; in particular a NULL ``ts`` orders below
every timestamp in LWW (``max_by`` over ``struct(ts, seq)``), so such
an event only wins a key that has no timestamped event, by ``seq``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F, types as T

BASE_DATA_FIELDS: list[tuple[str, T.DataType]] = [
    ("conv_id", T.StringType()),
    ("turn_idx", T.IntegerType()),
    ("role", T.StringType()),
    ("text", T.StringType()),
    ("tool", T.StringType()),
]

KEY_COLS = ["conv_id", "turn_idx"]
ORDER_COLS = ["ts", "seq"]
EXTRAS_COL = "_extras"
TABLE_COL = "_table"

# The second step of every parse, as SQL text built once: one
# selectExpr call crosses the Python↔JVM boundary for all columns.
_BASE_NAMES = ", ".join(f"'{n}'" for n, _ in BASE_DATA_FIELDS)
_CANONICAL_DATA = [
    f"try_cast(_d['{n}'] AS {t.simpleString()}) AS `{n}`"
    for n, t in BASE_DATA_FIELDS
] + [f"map_filter(_d, (k, v) -> NOT k IN ({_BASE_NAMES})) AS `{EXTRAS_COL}`"]


# Spark's supported timestamp range, 0001-01-01 to 9999-12-31 UTC, in
# epoch seconds; and per epoch unit, (units per second, conversion)
_TS_MIN_S, _TS_MAX_S = -62135596800, 253402300799
_EPOCH_UNITS = {
    "s": (1, F.timestamp_seconds),
    "ms": (1000, F.timestamp_millis),
}


def epoch_timestamp(epoch: Column, unit: str) -> Column:
    """An epoch number in ``unit`` (``"s"`` or ``"ms"``) as a
    timestamp, NULL outside Spark's timestamp range. The bare
    ``timestamp_seconds`` / ``timestamp_millis`` multiply into epoch
    microseconds and fail the task with ``long overflow`` on a value
    such as ``99999999999999999``, under ANSI SQL or not; a wire
    event time must read NULL like any other value that does not
    convert."""
    per_s, convert = _EPOCH_UNITS[unit]
    lo, hi = _TS_MIN_S * per_s, (_TS_MAX_S + 1) * per_s - 1
    return F.when(epoch.between(lo, hi), convert(epoch))


def canonical_rows(
    parsed: DataFrame,
    op: Column,
    ts: Column,
    data: Column,
    table: Column | None = None,
    with_table: bool = False,
) -> DataFrame:
    """Wire fields → canonical change rows: ``[_table,] op, ts, seq``,
    the ``BASE_DATA_FIELDS`` try-converted out of the ``data``
    map<string,string>, and ``_extras`` (every other member).

    ``parsed`` must carry ``seq`` and the one aliased ``from_json``
    the expressions read. Two-step projection: materializing that
    parse under ONE alias and extracting in a second select keeps a
    single JVM-side parse per row (inlining ``from_json`` per output
    column defeats Catalyst's common-subexpression elimination and
    re-parses the JSON once per column — measured 3× slower at 2M
    rows)."""
    head = [op.alias("op"), ts.alias("ts"), F.col("seq")]
    names = ["op", "ts", "seq"]
    if with_table:
        head.insert(0, table.alias(TABLE_COL))
        names.insert(0, TABLE_COL)
    return parsed.select(*head, data.alias("_d")).selectExpr(
        *names, *_CANONICAL_DATA
    )


def parse_change_events(
    events: DataFrame,
    json_col: str = "event_json",
    seq_col: str = "seq",
    with_table: bool = False,
) -> DataFrame:
    """Native events (seq, event_json) → canonical change rows.

    Malformed envelopes yield NULL fields (PERMISSIVE) and fall under
    the quarantine rule (``op`` or the first key NULL). ``with_table=True`` also
    extracts the envelope's optional top-level ``table`` member into
    ``_table`` (multiplexed CDC streams — Debezium-style topic
    routing; events without it read NULL), in the same single parse.
    """
    fields = [
        T.StructField("op", T.StringType()),
        T.StructField("ts", T.StringType()),
        T.StructField("data", T.MapType(T.StringType(), T.StringType())),
    ]
    if with_table:
        fields.insert(0, T.StructField("table", T.StringType()))
    parsed = events.select(
        F.col(seq_col).cast("long").alias("seq"),
        F.from_json(F.col(json_col), T.StructType(fields)).alias("_e"),
    )
    return canonical_rows(
        parsed,
        F.col("_e.op"),
        F.expr("try_to_timestamp(_e.ts)"),
        F.col("_e.data"),
        F.col("_e.table"),
        with_table,
    )


# the earlier name of the native parser, still imported by callers
parse_change_events_single_pass = parse_change_events


def to_native_json(
    changes: DataFrame,
    table: str | None = None,
) -> DataFrame:
    """Canonical change rows → ``(seq, event_json)`` native envelopes
    — the CDC-OUT exporter closing the wire-format loop: every wire
    writer (``debezium.to_debezium_json`` / ``to_maxwell_json`` /
    ``canal.to_canal_json``) consumes native envelopes, so
    ``read_changes`` → ``to_native_json`` → ``to_<format>_json``
    publishes a table's incremental change feed in any supported
    format, and ``parse_<format>_events`` round-trips it losslessly
    (µs timestamps via a 6-digit fractional-second rendering).

    ``changes``: op, ts, seq + the canonical data fields (extras in
    the ``_extras`` map ride along via ``map_concat``). ``table``
    stamps multi-table envelopes for the routing demux. Pure
    projection — ``to_json`` over a struct, stays in codegen."""
    pairs = []
    for name, _ in BASE_DATA_FIELDS:
        if name in changes.columns:
            pairs += [F.lit(name), F.col(name).cast("string")]
    data = F.create_map(*pairs)
    if EXTRAS_COL in changes.columns:
        data = F.map_concat(data, F.coalesce(
            F.col(EXTRAS_COL), F.create_map().cast("map<string,string>")
        ))
    fields = [
        F.col("op").alias("op"),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts"),
        data.alias("data"),
    ]
    if table is not None:
        fields.insert(0, F.lit(table).alias("table"))
    return changes.select(
        F.col("seq").cast("long").alias("seq"),
        F.to_json(F.struct(*fields)).alias("event_json"),
    )
