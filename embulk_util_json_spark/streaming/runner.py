"""Replay and streaming drivers: events → capture → LWW MERGE.

Batch replay groups a directory of seq-contiguous binlog segment
files into deterministic micro-batches (``replay_segments``);
Structured Streaming tails a directory with ``foreachBatch``. Both
funnel into ``apply_events_batch``, and exactly-once is anchored in
the *sink's* batch-id commit log — the streaming checkpoint only
provides offsets, so a kill/resume that redelivers a batch is
de-duplicated at the sink (idempotent MERGE), and replaying from ANY
checkpoint converges to the same final table (LWW is
order-insensitive across batches once the sink holds tombstones;
SURVEY.md §7.3 #2).
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F, types as T

from ..sources.events import (
    BASE_DATA_FIELDS,
    EXTRAS_COL,
    TABLE_COL,
    parse_change_events,
)
from ..sinks.snapshot import ParquetSnapshotSink, _obs_metrics

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("seq", T.LongType()),
        T.StructField("event_json", T.StringType()),
    ]
)


def apply_events_batch(
    events: DataFrame,
    sink: ParquetSnapshotSink,
    batch_id: str,
    quarantine_dir: str | None = None,
    parse_fn=None,
) -> dict:
    """Parse one micro-batch of raw events and MERGE into the sink.

    ``parse_fn`` (raw events → canonical change rows) picks the wire
    dialect; the default is the native ``parse_change_events``. Every
    dialect ends in ``sources.events.canonical_rows``, so the sink
    cannot tell formats apart and the exactly-once / evolution /
    quarantine machinery is the same for all of them: unseen ``data``
    members ride along in ``_extras``, their names are observed during
    the sink's write job (no discovery pre-pass, exactly one scan +
    one shuffle per batch) and added additively via the manifest; a
    value that does not convert reads NULL instead of failing the
    batch.

    Malformed envelopes (op/key NULL after permissive parse) are NOT
    pre-filtered here: a filter on parsed columns gets pushed below
    the parse projection and Catalyst substitutes the from_json alias
    once per predicate — re-parsing every row 3× (measured). Instead
    the junk rows ride the shuffle as a single null-key group, are
    counted by the sink's observe() (the reference's row-skippable
    DataException taxonomy → quarantine metric), and are excluded by
    ``read()``'s null-key guard. ``quarantine_dir`` dead-letters their
    raw rows.
    """
    changes = (parse_fn or parse_change_events)(events)
    result = sink.apply(changes, batch_id)
    if (
        quarantine_dir
        and not result.get("skipped")
        and result.get("malformed_rows")
    ):
        _quarantine_malformed(events, batch_id, quarantine_dir, parse_fn)
        result["quarantined_to"] = quarantine_dir
    return result


def _malformed_seqs(events: DataFrame, parse_fn=None) -> DataFrame:
    """Raw ``seq`` of every row the quarantine rule rejects (``op`` or
    the first key NULL after the parse)."""
    parse = parse_fn or parse_change_events
    to_raw = getattr(parse, "to_raw_seq", lambda c: c)
    return (
        parse(events)
        .filter(F.col("op").isNull() | F.col("conv_id").isNull())
        .select(to_raw(F.col("seq")).alias("seq"))
    )


def _quarantine_malformed(
    events: DataFrame, batch_id: str, quarantine_dir: str, parse_fn=None
) -> None:
    """Dead-letter the RAW rows whose envelope failed the permissive
    parse (the reference's row-skippable JsonParseException taxonomy,
    JsonParseException.java:24-43 — policy 'quarantine' for the CDC
    path). Runs ONLY when the apply's observe() counted malformed rows,
    so clean batches (the overwhelming case) never pay the extra scan.
    Per-batch overwrite keeps replays idempotent.

    The bad rows are identified by re-running the parser (native or
    wire-format ``parse_fn``) and semi-joining the RAW rows — the dead
    letter always carries the original wire bytes, whatever the
    format. 1:1 adapters key the semi-join on ``seq`` directly; a
    row-batching adapter (Canal's 1→N expansion) exposes
    ``to_raw_seq`` mapping its derived row seqs back to envelope
    seqs."""
    bad = events.join(_malformed_seqs(events, parse_fn), "seq", "left_semi")
    safe = "".join(c if c.isalnum() or c in "-." else "_" for c in batch_id)
    bad.write.mode("overwrite").parquet(os.path.join(quarantine_dir, safe))


def replay_quarantine(
    spark: SparkSession,
    quarantine_dir: str,
    sink: ParquetSnapshotSink,
    repair_fn=None,
    parse_fn=None,
) -> dict:
    """Drain the dead-letter directory back into the sink (DLQ repair
    & replay — the operational closer of the quarantine loop: fix the
    producer bug, ship a ``repair_fn``, re-run until the DLQ is empty).

    Per dead-letter batch dir: ``repair_fn`` (raw rows → raw rows,
    seq-preserving) gets a chance to fix the wire bytes; rows that now
    pass the permissive parse re-apply under batch id
    ``repair:<dir>`` (sink-idempotent — a crash/rerun cannot
    double-apply); rows that still fail are rewritten — in their
    ORIGINAL wire form, so a better fixer can try later — to a
    generational sibling dir ``<dir>.r1``, and the drained dir is
    removed. The write/apply/delete order makes every crash window
    safe: the original dir survives until the residual is durably
    written and the repair batch is committed, and every recomputation
    is deterministic, so a rerun overwrites the same residual and the
    sink skips the committed batch. Dirs created during a pass are not
    reprocessed by it (the listing is snapshotted at entry).

    Wire-format feeds pass the same ``parse_fn`` (and optional
    ``to_raw_seq``) as the original ingest — the still-bad test and
    the dead letter stay in raw envelope space, whatever the format.
    """
    if not os.path.isdir(quarantine_dir):
        return {"batches": 0, "repaired_rows": 0, "still_dead_rows": 0}
    import shutil

    names = sorted(
        d for d in os.listdir(quarantine_dir)
        if os.path.isdir(os.path.join(quarantine_dir, d))
    )
    repaired_rows = still_dead = 0
    resolved, residual_dirs = [], []
    for name in names:
        sub = os.path.join(quarantine_dir, name)
        raw = spark.read.parquet(sub)
        fixed = repair_fn(raw) if repair_fn is not None else raw
        bad_seq = _malformed_seqs(fixed, parse_fn).localCheckpoint()
        n_bad = bad_seq.count()
        good_raw = fixed.join(bad_seq, "seq", "left_anti")
        if n_bad:
            res_dir = os.path.join(quarantine_dir, f"{name}.r1")
            raw.join(bad_seq, "seq", "left_semi").write.mode(
                "overwrite"
            ).parquet(res_dir)
            residual_dirs.append(res_dir)
            still_dead += n_bad
        n_good = good_raw.count()
        if n_good:
            apply_events_batch(good_raw, sink, f"repair:{name}", parse_fn=parse_fn)
            repaired_rows += n_good
        shutil.rmtree(sub)
        resolved.append(name)
    return {
        "batches": len(names),
        "repaired_rows": repaired_rows,
        "still_dead_rows": still_dead,
        "resolved_dirs": resolved,
        "residual_dirs": residual_dirs,
    }


def route_tables(
    events: DataFrame,
    sinks: dict[str, ParquetSnapshotSink],
    batch_id: str,
    txn_log=None,
) -> dict:
    """Demultiplex one micro-batch of a MULTI-TABLE change stream
    (envelopes carrying a top-level ``table`` member — Debezium topic
    routing) into per-table sinks.

    ONE envelope parse for the whole batch (``_table`` rides the same
    from_json), then the parsed batch is persisted and each sink
    applies its filtered slice — T table-applies re-scan the cached
    Arrow/Tungsten rows, never the JSON. Per-table batch ids
    (``batch_id:table``) keep exactly-once independent per table, so
    a crash mid-routing resumes exactly where it stopped: committed
    tables skip, uncommitted re-apply.

    Rows with an unknown or missing ``table`` are counted via an
    ``observe()`` on the shared parse — the metric is collected while
    the FIRST table-apply builds the cached batch, so routing costs
    ZERO extra jobs (same pattern the sink uses for malformed rows).
    Unrouted rows are left unapplied — the router's quarantine
    contract mirrors the parser's malformed-row taxonomy. Only on the
    rare all-tables-skipped replay (no apply ran a job, so the
    observation never fired) does the count run as its own job.

    ``txn_log`` (a ``sinks.txn.TransactionLog``) upgrades the batch
    from per-table exactly-once to an ATOMIC multi-table transaction:
    all table-applies become visible together through the log's
    ``consistent_read`` (a crash mid-batch leaves the previous
    snapshot readable; replay converges). The per-table batch ids are
    identical either way (``batch_id:table``), so a pipeline can turn
    transactions on mid-stream without re-applying history.
    """
    if not sinks:
        raise ValueError("route_tables requires at least one sink")
    unrouted_cond = F.col(TABLE_COL).isNull() | ~F.col(TABLE_COL).isin(*sinks)
    obs = Observation()
    changes = parse_change_events(events, with_table=True).observe(
        obs,
        F.coalesce(F.sum(unrouted_cond.cast("long")), F.lit(0)).alias("unrouted"),
    )
    changes = changes.persist()
    try:
        slices = {
            name: changes.filter(F.col(TABLE_COL) == name).drop(TABLE_COL)
            for name in sinks
        }
        if txn_log is not None:
            txn = txn_log.txn_apply(sinks, slices, batch_id)
            results = txn.get("tables") or {
                name: {"skipped": True, "reason": txn.get("reason")}
                for name in sinks
            }
            applied_any = not txn.get("skipped") and any(
                not r.get("skipped") for r in results.values()
            )
        else:
            results = {
                name: sinks[name].apply(sub, f"{batch_id}:{name}")
                for name, sub in slices.items()
            }
            applied_any = any(not r.get("skipped") for r in results.values())
        # the metric resolves during the first table-apply's job; a
        # miss (no apply ran, or a degenerate epoch left the row
        # unresolved) costs one cache-hit count, never a re-parse
        got = (_obs_metrics(obs) or {}).get("unrouted") if applied_any else None
        unrouted = (
            int(got) if got is not None else changes.filter(unrouted_cond).count()
        )
        return {"tables": results, "unrouted_rows": unrouted}
    finally:
        changes.unpersist()


def bootstrap_snapshot(
    sink: ParquetSnapshotSink,
    snapshot: DataFrame,
    watermark_seq: int,
    batch_id: str | None = None,
) -> dict:
    """Debezium-style initial load: seed an empty sink from a
    consistent snapshot taken at binlog position ``watermark_seq``,
    then continue the tail with ``replay_segments(...,
    min_seq=watermark_seq + 1)``.

    ``snapshot`` columns: the key + payload columns (``conv_id,
    turn_idx, role, text, tool, ts``); optional ``op``/``seq``/extra
    columns. Missing ``op`` → ``'insert'``; missing ``seq`` →
    ``watermark_seq``. Pinning snapshot rows at (their own ts,
    watermark_seq) is LWW-exact across the handoff: every prefix
    winner has seq ≤ watermark and every tail event seq > it, so a
    tail event beats a snapshot row iff it would have beaten the
    row's original event in a full replay.

    One caveat is inherent to snapshot (vs CDC-complete) sources: a
    snapshot carries no tombstones, so a tail event with seq >
    watermark but event-time *older* than a pre-watermark delete
    resurrects the key. Handing over from another sink, pass
    ``other.read(include_tombstones=True, include_meta=True)`` — the
    tombstone rows ride along as ``op='delete'`` and the handoff is
    bit-exact even under out-of-order event time.

    Payload columns beyond the base schema are folded into the
    ``_extras`` map so every stored level keeps the homogeneous
    (base + extras) shape the parsed-batch path writes — mixed
    real-column/extras levels would break read()'s materialization.

    PATCH-MODE handoff: when the receiving sink merges column-level
    and the snapshot carries ``_po_<col>`` stamps (hand over from
    another patch sink with ``include_meta=True``), the stamps pass
    through as real columns — the seeded rows re-enter the merge at
    the positions their column values were actually written, so the
    handoff stays bit-exact even when tail events arrive with OLDER
    event time than the snapshot rows (folding stamps away would
    collapse every column to the row position — the promotion
    semantics — which is only final-state-exact for in-order tails).
    """
    from ..operators.lww import PATCH_ORD_PREFIX

    cols = snapshot.columns
    base_names = [n for n, _ in BASE_DATA_FIELDS]
    stamp_cols = [
        PATCH_ORD_PREFIX + c
        for c in (sink.patch_cols or [])
        if PATCH_ORD_PREFIX + c in cols
    ]
    known = set(base_names) | {"op", "ts", "seq", EXTRAS_COL} | set(stamp_cols)
    extra_src = [c for c in cols if c not in known]

    out = snapshot
    if "op" not in cols:
        out = out.withColumn("op", F.lit("insert"))
    if "seq" not in cols:
        out = out.withColumn("seq", F.lit(int(watermark_seq)).cast("long"))
    for n, dtype in BASE_DATA_FIELDS:
        if n not in cols:
            out = out.withColumn(n, F.lit(None).cast(dtype))
    if extra_src:
        # Only rows that HAVE a value carry the key (parse produces
        # absent, not null, entries for absent members).
        entries = F.filter(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("key"),
                        F.col(c).cast("string").alias("value"),
                    )
                    for c in extra_src
                ]
            ),
            lambda e: e["value"].isNotNull(),
        )
        built = F.map_from_entries(entries)
        if EXTRAS_COL in cols:
            # column value wins over a same-named map entry (dedup
            # BEFORE concat: Spark's default mapKeyDedupPolicy raises
            # on duplicates)
            built = F.map_concat(
                F.map_filter(
                    F.col(EXTRAS_COL), lambda k, _v: ~k.isin(*extra_src)
                ),
                built,
            )
        out = out.withColumn(EXTRAS_COL, built).drop(*extra_src)
    elif EXTRAS_COL not in cols:
        out = out.withColumn(
            EXTRAS_COL,
            F.create_map().cast("map<string,string>"),
        )
    out = out.select(
        "op", F.col("ts").cast("timestamp").alias("ts"), "seq",
        *base_names, EXTRAS_COL, *stamp_cols,
    )
    return sink.apply(out, batch_id or f"bootstrap-seq-{watermark_seq}")


def replay_segments(
    spark: SparkSession,
    segments_dir: str,
    sink: ParquetSnapshotSink,
    num_batches: int = 1,
    min_seq: int | None = None,
    parse_fn=None,
) -> list[dict]:
    """Batch replay over a directory of seq-contiguous binlog segment
    files: each micro-batch reads EXACTLY its group of segment files
    (the file-source batching model), so per-batch scan cost is
    proportional to the batch — no monolithic-file re-open per batch.
    Batch ids are the file-name ranges → deterministic and resumable.
    ``min_seq`` resumes the tail after a bootstrap watermark: segments
    wholly below the watermark are skipped from the plan entirely
    (one driver-side parquet-footer stat read each — never opened by
    an executor), and the residual filter is pushed to the scan of the
    straddling segment."""
    files = sorted(
        f
        for f in os.listdir(segments_dir)
        if f.endswith(".parquet") and not f.startswith(".")
    )
    if min_seq is not None and files:
        files = _segments_reaching(segments_dir, files, min_seq)
    if not files:
        return []
    num_batches = min(num_batches, len(files))
    per = math.ceil(len(files) / num_batches)
    out = []
    for i in range(num_batches):
        group = files[i * per : (i + 1) * per]
        if not group:
            break
        batch = spark.read.schema(EVENTS_SCHEMA).parquet(
            *[os.path.join(segments_dir, f) for f in group]
        )
        batch_id = f"seg-{group[0]}-{group[-1]}"
        if min_seq is not None:
            batch = batch.filter(F.col("seq") >= min_seq)
            batch_id += f"@{min_seq}"
        out.append(apply_events_batch(batch, sink, batch_id, parse_fn=parse_fn))
    return out


def _segments_reaching(
    segments_dir: str, files: list[str], min_seq: int
) -> list[str]:
    """Segment files whose max(seq) footer statistic reaches
    ``min_seq``. Metadata-only: row-group stats from the parquet
    footer, no data pages touched. A file without seq stats is kept
    (correctness over pruning)."""
    import pyarrow.parquet as pq

    keep: list[str] = []
    for f in files:
        meta = pq.read_metadata(os.path.join(segments_dir, f))
        file_max = None
        prunable = True
        for rg in range(meta.num_row_groups):
            row_group = meta.row_group(rg)
            for ci in range(row_group.num_columns):
                col = row_group.column(ci)
                if col.path_in_schema != "seq":
                    continue
                stats = col.statistics
                if stats is None or not stats.has_min_max:
                    prunable = False
                else:
                    file_max = (
                        stats.max
                        if file_max is None
                        else max(file_max, stats.max)
                    )
        if not prunable or file_max is None or file_max >= min_seq:
            keep.append(f)
    return keep


def stream_directory(
    spark: SparkSession,
    events_dir: str,
    sink: ParquetSnapshotSink,
    checkpoint_dir: str,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
    parse_fn=None,
    on_batch=None,
):
    """Structured Streaming tail of a growing directory of event files.

    Returns the started StreamingQuery; callers use
    ``q.processAllAvailable()`` / ``q.stop()`` (tests) or ``q.awaitTermination()``
    (production). Batch ids are the streaming epoch ids; the sink's
    commit log makes redelivery after checkpoint restore a no-op.

    ``on_batch`` (``callable(sink, batch_id)``) runs after the apply
    of every epoch — the generic post-commit hook: e.g.
    ``lambda s, bid: publish_changes(s, "bridge", out)`` keeps a wire
    topic continuously exported, and ``lambda s, _bid: view.refresh()``
    keeps a table consumer (conversation view, index, mirror) current.
    The hook must be idempotent / self-positioned (cursors and table
    consumers are): a crash between the apply and the hook means the
    NEXT epoch's hook sees a wider window, never a lost one.
    """
    reader = spark.readStream.schema(EVENTS_SCHEMA).format(fmt)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.load(events_dir)

    def handle(batch_df: DataFrame, batch_id: str, _epoch_id: int) -> None:
        apply_events_batch(batch_df, sink, batch_id, parse_fn=parse_fn)
        if on_batch is not None:
            on_batch(sink, batch_id)

    return _start(stream, handle, checkpoint_dir)


def stream_directory_multi(
    spark: SparkSession,
    events_dir: str,
    sinks: dict[str, ParquetSnapshotSink],
    checkpoint_dir: str,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
    txn_log=None,
):
    """Streaming tail of a MULTIPLEXED change-event directory: each
    micro-batch is demuxed by the envelope's ``table`` member into the
    per-table sinks (``route_tables`` — one parse per batch, per-table
    exactly-once batch ids, so a crash between table commits within an
    epoch resumes per-table on redelivery). ``txn_log`` makes each
    epoch an atomic multi-table transaction (see ``route_tables``) —
    readers going through ``txn_log.consistent_read`` never observe an
    epoch's tables half-committed."""
    reader = spark.readStream.schema(EVENTS_SCHEMA).format(fmt)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.load(events_dir)

    def handle(batch_df: DataFrame, batch_id: str, _epoch_id: int) -> None:
        route_tables(batch_df, sinks, batch_id, txn_log=txn_log)

    return _start(stream, handle, checkpoint_dir)


def _start(stream, handle, checkpoint_dir: str):
    """Start ``stream`` as an available-now ``foreachBatch`` query
    under ``checkpoint_dir`` that calls ``handle(batch_df, batch_id,
    epoch_id)`` per micro-batch — the one start of every such tail.

    The batch id is ``<checkpoint dir name>-epoch-<epoch id>``: epoch
    numbering is only meaningful within one checkpoint lineage (a
    fresh checkpoint restarts at 0 and must not collide with committed
    ids), while a restart on the same checkpoint redelivers the same
    ids, which the sink's batch log skips."""
    stream_id = checkpoint_dir.rstrip("/").rsplit("/", 1)[-1]

    def per_batch(batch_df: DataFrame, epoch_id: int) -> None:
        handle(batch_df, f"{stream_id}-epoch-{epoch_id}", epoch_id)

    return (
        stream.writeStream.foreachBatch(per_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
