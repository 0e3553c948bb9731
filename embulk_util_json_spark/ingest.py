"""Declarative ingest facade — the Embulk-config analogue.

The reference library is consumed by Embulk pipelines through a YAML
config (``parser: type: json`` + pointer/flatten options); users
don't call the parser API directly. This module is that surface for
the whole engine: ONE plain-dict config wires a source, a transport,
a wire dialect, the merge policy, and the exactly-once sink — every
combination resolving to the same first-class components the rest of
the package exposes individually::

    {
      "in": {
        "type":   "jsonl" | "binlog_parquet" | "kafka_parquet",
        "path":   "/data/wal",
        "format": "native" | "debezium" | "maxwell" | "canal"
                  | "wal2json" | "mongo" | "mongo_patch",
        "seq_member": "lsn",              # jsonl: in-document position
        "kafka": {"n_partitions": 8,      # kafka_parquet transport
                   "tombstones": "drop"},
        "options": {"unchanged_marker": "__unchanged__"},  # mongo_patch
      },
      "merge": {
        "mode": "mor", "num_buckets": 32,
        "keys": ["conv_id", "turn_idx"], "order": ["ts", "seq"],
        "patch": {"cols": ["role", "text", "tool"],
                   "marker": "__unchanged__"},   # optional
      },
      "out": {"root": "/lake/transcripts", "branch": "main"},
      "run": {"num_batches": 4, "batch_prefix": "b",
               "quarantine_dir": None},
    }

``run_ingest(spark, config)`` validates the config (loud, specific
errors — the Embulk discipline: a bad config fails before any data
moves), builds the pipeline, replays the input in ``num_batches``
seq-contiguous micro-batches through
``streaming.runner.apply_events_batch`` (so quarantine, schema
evolution, and exactly-once batch ids behave identically to every
other entry point), and returns the sink plus per-batch metrics.

Scale shape: identical to calling the components directly — the
facade adds zero data movement. Batch ranges come from one
metadata-sized bounds job; each micro-batch scans only its slice.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .sinks.snapshot import ParquetSnapshotSink
from .sources.events import parse_change_events
from .streaming.runner import apply_events_batch

FORMATS = (
    "native", "debezium", "maxwell", "canal", "wal2json", "mongo", "mongo_patch"
)
IN_TYPES = ("jsonl", "binlog_parquet", "kafka_parquet")


def _fail(msg: str) -> None:
    raise ValueError(f"ingest config: {msg}")


def build_parse_fn(fmt: str, options: dict | None = None):
    """Resolve a wire-dialect name to its canonical-row parser. Every
    parser ends in ``sources.events.canonical_rows``, so schema
    evolution and bad-value handling are the same for all of them."""
    options = options or {}
    if fmt == "native":
        return parse_change_events
    if fmt == "debezium":
        from .sources.debezium import parse_debezium_events

        return parse_debezium_events
    if fmt == "maxwell":
        from .sources.debezium import parse_maxwell_events

        return parse_maxwell_events
    if fmt == "canal":
        from .sources.canal import parse_canal_events

        return parse_canal_events
    if fmt == "wal2json":
        from .sources.wal2json import parse_wal2json_events

        return parse_wal2json_events
    if fmt == "mongo":
        from .sources.mongo import parse_mongo_changestream

        return parse_mongo_changestream
    if fmt == "mongo_patch":
        from .sources.mongo import parse_mongo_patch_events

        marker = options.get("unchanged_marker")
        if not marker:
            _fail("format mongo_patch needs in.options.unchanged_marker")

        def _parse(events: DataFrame) -> DataFrame:
            return parse_mongo_patch_events(events, marker)

        return _parse
    _fail(f"unknown in.format {fmt!r} (one of {FORMATS})")


def _normalize(config: dict) -> dict:
    c = dict(config or {})
    src = dict(c.get("in") or {})
    merge = dict(c.get("merge") or {})
    out = dict(c.get("out") or {})
    run = dict(c.get("run") or {})
    if src.get("type") not in IN_TYPES:
        _fail(f"in.type must be one of {IN_TYPES}, got {src.get('type')!r}")
    if not src.get("path"):
        _fail("in.path is required")
    fmt = src.get("format", "native")
    if fmt not in FORMATS:
        _fail(f"unknown in.format {fmt!r} (one of {FORMATS})")
    src["format"] = fmt
    if not out.get("root"):
        _fail("out.root is required")
    mode = merge.get("mode", "mor")
    if mode not in ("mow", "mor"):
        _fail(f"merge.mode must be mow|mor, got {mode!r}")
    merge["mode"] = mode
    patch = merge.get("patch")
    if fmt == "mongo_patch" and not patch:
        _fail("format mongo_patch needs merge.patch = {cols, marker}")
    if patch and not (patch.get("cols") and patch.get("marker")):
        _fail("merge.patch needs both cols and marker")
    n = int(run.get("num_batches", 1))
    if n < 1:
        _fail("run.num_batches must be >= 1")
    run["num_batches"] = n
    if src["type"] == "kafka_parquet" and run.get("quarantine_dir"):
        # the dead-letter semi-join is keyed on the raw (seq,
        # event_json) shape; the transport frame doesn't carry it
        _fail("quarantine_dir is not supported with kafka_parquet "
              "(dead-letter the unwrapped feed instead)")
    c["in"], c["merge"], c["out"], c["run"] = src, merge, out, run
    return c


def _open_sink(spark: SparkSession, merge: dict, out: dict) -> ParquetSnapshotSink:
    """The sink a normalized config's ``merge`` and ``out`` sections
    name; both facades open theirs here."""
    patch = merge.get("patch") or {}
    return ParquetSnapshotSink(
        spark,
        out["root"],
        num_buckets=int(merge.get("num_buckets", 32)),
        keys=merge.get("keys"),
        order_cols=merge.get("order"),
        mode=merge["mode"],
        branch=out.get("branch", "main"),
        patch_cols=patch.get("cols"),
        unchanged_marker=patch.get("marker"),
    )


def run_ingest(spark: SparkSession, config: dict) -> dict:
    """Validate ``config``, replay the configured input through the
    exactly-once sink, return ``{"sink", "batches"}`` (per-batch apply
    metrics, in order). Idempotent end-to-end: batch ids derive from
    ``run.batch_prefix`` + position, so re-running the same config on
    the same input is a no-op replay."""
    c = _normalize(config)
    src, merge, out, run = c["in"], c["merge"], c["out"], c["run"]

    parse_fn = build_parse_fn(src["format"], src.get("options"))

    if src["type"] == "jsonl":
        from .sources.jsonl import read_jsonl

        raw = read_jsonl(spark, src["path"], seq_col=src.get("seq_member"))
    elif src["type"] == "binlog_parquet":
        raw = spark.read.parquet(src["path"]).select("seq", "event_json")
    else:  # kafka_parquet
        from .sources.kafka import kafka_total_seq, parse_kafka_events

        kconf = dict(src.get("kafka") or {})
        frame = spark.read.parquet(src["path"])
        inner = parse_fn
        n_parts = kconf.get("n_partitions")
        if n_parts is None:
            # derive P once, over the whole topic: a slice lacking the
            # top partition must not re-derive a smaller P, or its seq
            # tie-breaks disagree with the other slices' and with _pos
            n_parts = int(frame.agg(F.max("partition")).collect()[0][0] or 0) + 1
        tombs = kconf.get("tombstones", "drop")

        def _transport_parse(events: DataFrame) -> DataFrame:
            return parse_kafka_events(
                events, n_partitions=n_parts, parse_fn=inner, tombstones=tombs
            )

        parse_fn = _transport_parse
        raw = frame.withColumn("_pos", kafka_total_seq(n_parts))

    if "_pos" not in raw.columns:
        raw = raw.withColumn("_pos", F.col("seq"))

    sink = _open_sink(spark, merge, out)

    n = run["num_batches"]
    prefix = run.get("batch_prefix", "b")
    results = []
    if n == 1:
        slices = [raw.drop("_pos")]
    else:
        b = raw.agg(
            F.min("_pos").alias("lo"), F.max("_pos").alias("hi")
        ).collect()[0]  # 1-row bounds job
        lo, hi = int(b.lo), int(b.hi)
        span = hi - lo + 1
        edges = [lo + (span * i) // n for i in range(n + 1)]
        slices = [
            raw.filter(
                (F.col("_pos") >= edges[i]) & (F.col("_pos") < edges[i + 1])
                if i < n - 1
                else (F.col("_pos") >= edges[i])
            ).drop("_pos")
            for i in range(n)
        ]
    for i, part in enumerate(slices):
        results.append(
            apply_events_batch(
                part,
                sink,
                f"{prefix}{i}",
                quarantine_dir=run.get("quarantine_dir"),
                parse_fn=parse_fn,
            )
        )
    return {"sink": sink, "batches": results}


STREAM_IN_TYPES = ("parquet_stream", "jsonl_stream")


def run_ingest_stream(spark: SparkSession, config: dict) -> dict:
    """Streaming twin of :func:`run_ingest` — the north rule's
    operating mode (binlog tail → lake upsert) from the same config
    shape. ``in.type``:

    - ``"parquet_stream"`` — Structured Streaming tail of a growing
      directory of ``(seq, event_json)`` parquet segments (the WAL-
      shipping layout; delegates to
      ``streaming.runner.stream_directory`` so epoch batch ids,
      checkpoint-scoped exactly-once, quarantine, and evolution are
      identical to every other entry point);
    - ``"jsonl_stream"`` — text tail of JSONL files whose documents
      carry their binlog position under ``in.seq_member`` (synthetic
      ids are not replay-stable; loud error without it).

    ``run.checkpoint_dir`` is REQUIRED (the resumability contract:
    restarting with the same checkpoint replays only unprocessed
    files, and redelivered epochs are no-ops on the sink's batch
    log). Returns ``{"sink", "query"}`` — callers drive the
    StreamingQuery (``processAllAvailable``/``stop`` in tests,
    ``awaitTermination`` in production)."""
    c = dict(config or {})
    src = dict(c.get("in") or {})
    run = dict(c.get("run") or {})
    if src.get("type") not in STREAM_IN_TYPES:
        _fail(
            f"in.type must be one of {STREAM_IN_TYPES} for streaming, "
            f"got {src.get('type')!r}"
        )
    if not src.get("path"):
        _fail("in.path is required")
    if not run.get("checkpoint_dir"):
        _fail("run.checkpoint_dir is required for streaming ingest")
    if run.get("quarantine_dir"):
        # stream_directory takes no dead-letter dir; dropping it
        # silently would lose malformed rows the caller asked to keep
        _fail("run.quarantine_dir is not supported by streaming ingest "
              "(use the batch facade, run_ingest)")
    fmt = src.get("format", "native")
    if fmt == "mongo_patch" or (c.get("merge") or {}).get("patch"):
        # batch facade supports patch mode; the streaming patch path
        # is the dedicated stateful operator (streaming/patch_state)
        _fail("patch-mode streaming uses streaming.patch_state, not "
              "the ingest facade")
    parse_fn = build_parse_fn(fmt, src.get("options"))

    # reuse the batch facade's validation/construction for merge/out
    batch_cfg = {
        "in": {"type": "binlog_parquet", "path": src["path"], "format": fmt,
               "options": src.get("options")},
        "merge": c.get("merge"),
        "out": c.get("out"),
        "run": {"num_batches": 1},
    }
    norm = _normalize(batch_cfg)
    sink = _open_sink(spark, norm["merge"], norm["out"])

    if src["type"] == "parquet_stream":
        from .streaming.runner import stream_directory

        q = stream_directory(
            spark,
            src["path"],
            sink,
            run["checkpoint_dir"],
            max_files_per_trigger=run.get("max_files_per_trigger"),
            parse_fn=parse_fn,
        )
        return {"sink": sink, "query": q}

    from .sources.jsonl import stream_jsonl
    from .streaming.runner import _start

    stream = stream_jsonl(
        spark,
        src["path"],
        seq_col=src.get("seq_member"),
        max_files_per_trigger=run.get("max_files_per_trigger"),
    )

    def handle(batch_df: DataFrame, batch_id: str, _epoch_id: int) -> None:
        apply_events_batch(batch_df, sink, batch_id, parse_fn=parse_fn)

    return {"sink": sink, "query": _start(stream, handle, run["checkpoint_dir"])}
