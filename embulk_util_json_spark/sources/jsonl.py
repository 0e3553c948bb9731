"""JSONL / concatenated-JSON text sources.

The reference consumes a raw character stream (String or InputStream,
JsonValueParser.java:142-166) of concatenated JSON documents. The
Spark-native equivalents:

- ``read_jsonl``: batch — ``spark.read.text`` over files, one row per
  line, with a monotonically-derived ``seq`` (file order × line
  offset) standing in for the binlog position when the transport
  doesn't carry one.
- ``stream_jsonl``: Structured Streaming tail of a directory of
  JSONL files (the WAL-shipping layout: producers drop closed
  segments; the stream source tracks offsets in the checkpoint).
- Concatenated (non-line-delimited) documents — ``{...}{...}`` on one
  line — are split by the parity engine
  (operators.capture.extract_parity handles multi-doc cells), not
  here; at scale the transport is line-delimited.

Scale notes: text scan parallelizes by file split; ``seq`` from
``monotonically_increasing_id`` encodes (partition, offset) and is
unique but NOT dense — callers that need a total order combine it
with the event's own (ts, …) ordering, which the CDC path does
anyway. Line order within a file maps to increasing ids, preserving
per-file WAL order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F


def read_jsonl(spark: SparkSession, path: str, seq_col: str | None = None) -> DataFrame:
    """Batch-read JSONL event files → (seq, event_json).

    If ``seq_col`` is given, the JSON documents carry their own binlog
    position under that top-level member and it is extracted (one
    get_json_object — cheap, single member); otherwise a
    (partition, offset) synthetic id is used.
    """
    lines = spark.read.text(path).select(F.col("value").alias("event_json"))
    lines = lines.filter(F.length(F.trim("event_json")) > 0)
    if seq_col:
        seq = F.get_json_object("event_json", f"$.{seq_col}").cast("long")
    else:
        seq = F.monotonically_increasing_id()
    return lines.select(seq.alias("seq"), "event_json")


def stream_jsonl(
    spark: SparkSession,
    path: str,
    seq_col: str | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming tail of a JSONL directory → streaming (seq, event_json).

    Synthetic ids are not stable across restarts, so streaming REQUIRES
    the documents to carry their binlog position (``seq_col``) — the
    exactly-once contract is keyed on it.
    """
    if not seq_col:
        raise ValueError(
            "streaming JSONL needs an in-document sequence member; "
            "synthetic ids are not replay-stable"
        )
    reader = spark.readStream.format("text")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    lines = reader.load(path).select(F.col("value").alias("event_json"))
    lines = lines.filter(F.length(F.trim("event_json")) > 0)
    seq = F.get_json_object("event_json", f"$.{seq_col}").cast("long")
    return lines.select(seq.alias("seq"), "event_json")
