"""Alibaba Canal wire-format adapter (flat-message JSON).

Third CDC wire format next to Debezium/Maxwell (``sources/debezium.py``)
— and the one that exercises row *batching*: a single Canal envelope
carries EVERY row changed by one binlog event (multi-row DML), so the
adapter is a 1→N expansion, not a 1:1 re-projection.

Canal flat-message envelope (public format of Canal's MQ/flat-JSON
output; field reference: github.com/alibaba/canal flatMessage)::

    {"data": [{...row...}, ...] | null,
     "old":  [{...changed-col priors...}, ...] | null,
     "database": str, "table": str,
     "type": "INSERT"|"UPDATE"|"DELETE"|... (DDL kinds),
     "es": <binlog event time, epoch millis>,
     "ts": <delivery time, epoch millis>,
     "id": <long>, "isDdl": bool, "pkNames": [str, ...]}

Normalization rules:

- ``type`` mapping: INSERT → insert, UPDATE → update, DELETE →
  delete (Canal deletes carry the deleted row in ``data``); DDL
  envelopes (``isDdl`` true) and unknown types → NULL op = the
  row-skippable quarantine path, exactly the reference's
  JsonParseException taxonomy (JsonParseException.java:24-43,
  re-expressed as a row predicate).
- event time: ``es`` (the binlog event header time) when present,
  else ``ts``. Both are epoch MILLISECONDS in the wire format — an
  honest precision loss vs the native envelope's microseconds, same
  statement Maxwell makes at second granularity. LWW ties created by
  the truncation fall through to ``seq``.
- row expansion: ``posexplode_outer(data)`` — one canonical row per
  array element; a NULL/empty ``data`` (DDL, malformed) keeps ONE
  row so the quarantine path sees it.

Sequence derivation. The envelope carries a delivery order (the
external ``seq_col`` — Kafka-offset analogue, same contract as the
other adapters) but the rows inside one envelope only have an array
position. The adapter derives a per-row total order::

    row_seq = envelope_seq * CANAL_SEQ_STRIDE + array_position

which preserves the global delivery order as long as every envelope
holds fewer than ``CANAL_SEQ_STRIDE`` (2^20) rows — far above any
real binlog event. The rewrap fixture below additionally only batches
rows from maximal runs of *consecutive* source seqs (disjoint seq
intervals), under which the derived order is provably the source
order: for s in a run starting at s0, ``derived(s) = s0·K + (s - s0)``
is strictly increasing across runs because runs do not interleave.
That is why ``cdc_canal_final_state``'s oracle is simply the native
LWW oracle at millisecond precision — no seq remapping appears in it.

Dead-lettering: the raw wire bytes of a failed envelope are recovered
through ``to_raw_seq`` (row seq → envelope seq), consumed by
``streaming.runner._quarantine_malformed`` — the 1→N expansion does
not break the "quarantine carries original bytes" contract.

Single-pass discipline: ONE ``from_json`` per envelope with row
images as ``array<map<string,string>>``, then the shared
``events.canonical_rows`` projection (schema evolution and bad-value
handling identical to the native path).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F, types as T

from .debezium import _native_parsed
from .events import canonical_rows, epoch_timestamp

_MAP = T.MapType(T.StringType(), T.StringType())

CANAL_SCHEMA = T.StructType(
    [
        T.StructField("data", T.ArrayType(_MAP)),
        T.StructField("old", T.ArrayType(_MAP)),
        T.StructField("database", T.StringType()),
        T.StructField("table", T.StringType()),
        T.StructField("type", T.StringType()),
        T.StructField("es", T.LongType()),
        T.StructField("ts", T.LongType()),
        T.StructField("id", T.LongType()),
        T.StructField("isDdl", T.BooleanType()),
        T.StructField("pkNames", T.ArrayType(T.StringType())),
    ]
)

# One envelope may carry at most this many rows before derived row
# seqs could collide with the next envelope's. 2^20 rows per binlog
# event is far beyond anything a real statement produces.
CANAL_SEQ_STRIDE = 1 << 20


def parse_canal_events(
    events: DataFrame,
    json_col: str = "event_json",
    seq_col: str = "seq",
    with_table: bool = False,
) -> DataFrame:
    """Canal flat-message envelopes → canonical change rows (1→N).

    Output schema is identical to ``events.parse_change_events``
    (plus ``_table`` when ``with_table``): every downstream stage —
    LWW, exactly-once sink, routing, quarantine — accepts the result
    unchanged.
    """
    parsed = events.select(
        F.col(seq_col).cast("long").alias("_env_seq"),
        F.from_json(F.col(json_col), CANAL_SCHEMA).alias("_e"),
    )
    rows = parsed.select(
        "_env_seq",
        "_e",
        F.posexplode_outer("_e.data").alias("_pos", "_row"),
    ).select(
        (
            F.col("_env_seq") * F.lit(CANAL_SEQ_STRIDE)
            + F.coalesce(F.col("_pos"), F.lit(0))
        ).alias("seq"),
        "_e",
        "_row",
    )
    op = (
        F.when(F.coalesce(F.col("_e.isDdl"), F.lit(False)), F.lit(None).cast("string"))
        .when(F.col("_e.type") == "INSERT", F.lit("insert"))
        .when(F.col("_e.type") == "UPDATE", F.lit("update"))
        .when(F.col("_e.type") == "DELETE", F.lit("delete"))
    )  # no otherwise → NULL op = quarantine
    ts = epoch_timestamp(F.coalesce(F.col("_e.es"), F.col("_e.ts")), "ms")
    return canonical_rows(rows, op, ts, F.col("_row"), F.col("_e.table"), with_table)


# Row seq → envelope seq, for dead-lettering the original wire bytes.
# Pure long-space arithmetic (stride is 2^20, so div = shiftright 20):
# Spark `/` is DOUBLE division, and above 2^53 (envelope seq > ~2^33 —
# plausible for long-lived Kafka offsets at the 10^10-event scale) the
# float round-trip can map a row seq to the WRONG envelope seq,
# dead-lettering the wrong raw row.
_CANAL_SEQ_SHIFT = CANAL_SEQ_STRIDE.bit_length() - 1
assert 1 << _CANAL_SEQ_SHIFT == CANAL_SEQ_STRIDE
parse_canal_events.to_raw_seq = lambda c: F.shiftright(
    c.cast("long"), _CANAL_SEQ_SHIFT
)


def to_canal_json(
    events: DataFrame, json_col: str = "event_json", seq_col: str = "seq"
) -> DataFrame:
    """Native envelope stream → (seq, event_json) in Canal flat-message
    format, batching rows the way Canal does (one envelope per binlog
    event = rows sharing op/table/event-time).

    Batching rule: maximal runs of CONSECUTIVE source seqs that share
    (type, table, millisecond event time) — disjoint seq intervals, so
    the adapter's derived row order provably equals the source order
    (see module docstring). The envelope's seq is the run's first
    source seq; ``data`` is ordered by source seq within the run.
    """
    parsed = _native_parsed(events, json_col, seq_col)
    typ = (
        F.when(F.col("_e.op") == "insert", F.lit("INSERT"))
        .when(F.col("_e.op") == "update", F.lit("UPDATE"))
        .when(F.col("_e.op") == "delete", F.lit("DELETE"))
    )
    ms = F.unix_millis(F.try_to_timestamp(F.col("_e.ts")))
    rows = parsed.select(
        "seq",
        typ.alias("_type"),
        F.col("_e.table").alias("_table"),
        ms.alias("_ms"),
        F.col("_e.data").alias("_data"),
    )
    # gaps-and-islands: island id = seq - rank within the (type, table,
    # ms) partition; consecutive seqs in one partition share it.
    w = Window.partitionBy("_type", "_table", "_ms").orderBy("seq")
    rows = rows.withColumn("_island", F.col("seq") - F.row_number().over(w))
    grouped = rows.groupBy("_type", "_table", "_ms", "_island").agg(
        F.min("seq").alias("seq"),
        F.transform(
            # array_sort with an explicit seq comparator: sort_array
            # cannot order structs that contain maps (the row image)
            F.array_sort(
                F.collect_list(F.struct("seq", "_data")),
                lambda l, r: F.when(l["seq"] < r["seq"], F.lit(-1))
                .when(l["seq"] > r["seq"], F.lit(1))
                .otherwise(F.lit(0)),
            ),
            lambda r: r["_data"],
        ).alias("_rows"),
    )
    envelope = F.to_json(
        F.struct(
            F.col("_rows").alias("data"),
            F.lit(None).cast(T.ArrayType(_MAP)).alias("old"),
            F.lit("transcripts_db").alias("database"),
            F.col("_table").alias("table"),
            F.col("_type").alias("type"),
            F.col("_ms").alias("es"),
            F.col("_ms").alias("ts"),
            F.col("seq").alias("id"),
            F.lit(False).alias("isDdl"),
            F.lit(None).cast(T.ArrayType(T.StringType())).alias("pkNames"),
        )
    )
    return grouped.select("seq", envelope.alias("event_json"))
