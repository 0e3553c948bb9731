"""Auto-split from __spark_entry__.py (round 5): lake-side CDC queries: snapshot sink, views, indexes, branches, maintenance, feeds

Part of the driver registry package — every ``_q_*`` callable is a
``(spark, sf_dir) -> DataFrame`` query and every ``_ORACLE_*`` /
``*_oracle`` value is its DuckDB ANSI-SQL twin. See
``__spark_entry__.queries()`` for the graded registry order.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F
from .common import *  # noqa: F401,F403 — shared fixtures/oracle fragments


def _q_cdc_apply_final_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC replay over the derived change stream: JSON envelope parse
    (single pruned from_json) → LWW by (conv_id, turn_idx) over
    (ts, seq) → delete tombstones filtered. (Shared as _final_state
    for the transcript-native operators.)"""
    return _final_state(spark, sf_dir)


_ORACLE_MERGE_INTO = f"""
    WITH changes AS ({_ORACLE_CDC_EVENTS}),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY conv_id, turn_idx ORDER BY ts DESC, seq DESC
        ) AS rn
        FROM changes
    ),
    final AS (
        SELECT conv_id, turn_idx, role, text, tool, ts
        FROM ranked WHERE rn = 1 AND op <> 'delete'
    )
    SELECT conv_id, turn_idx, role,
           CASE WHEN turn_idx % 5 = 2 THEN UPPER(text) ELSE text END AS text,
           CASE WHEN turn_idx % 5 = 2 THEN 'merged' ELSE tool END AS tool,
           ts
    FROM final WHERE turn_idx % 5 <> 4
    UNION ALL
    SELECT conv_id, CAST(turn_idx + 100 AS INTEGER) AS turn_idx,
           'merge' AS role,
           'ins ' || conv_id || '/' || CAST(turn_idx AS VARCHAR) AS text,
           CAST(NULL AS VARCHAR) AS tool,
           TIMESTAMP '2030-01-01 00:00:00' AS ts
    FROM final WHERE turn_idx % 5 = 1
"""


def _q_cdc_txn_consistent_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Atomic multi-table transactions (``sinks/txn.TransactionLog``):
    the change stream demuxes by seq parity into two transcript
    tables, applied as three transactions — and the THIRD deliberately
    crashes after table a's sink-apply but before the transaction
    record commits. The consistent read must serve BOTH tables at the
    second transaction's snapshot (the crashed txn invisible on either
    side, even though a's current table state already moved), so the
    graded result is the committed ⅔ of the stream only."""
    from embulk_util_json_spark.sinks.snapshot import ParquetSnapshotSink
    from embulk_util_json_spark.sinks.txn import TransactionLog
    from embulk_util_json_spark.sources.events import (
        parse_change_events_single_pass,
    )

    work = _scratch("txn_")
    events = _events_as_cdc_json(spark, sf_dir)
    bounds = events.agg(F.min("seq").alias("lo"), F.max("seq").alias("hi")).collect()[0]
    lo, hi = int(bounds.lo), int(bounds.hi)
    b1 = lo + (hi - lo + 1) // 3
    b2 = lo + (2 * (hi - lo + 1)) // 3
    sinks = {
        t: ParquetSnapshotSink(spark, os.path.join(work, t), num_buckets=8)
        for t in ("a", "b")
    }
    log = TransactionLog(work)

    def slices(pred):
        sl = events.filter(pred)
        return {
            "a": parse_change_events_single_pass(sl.filter(F.pmod("seq", F.lit(2)) == 0)),
            "b": parse_change_events_single_pass(sl.filter(F.pmod("seq", F.lit(2)) == 1)),
        }

    log.txn_apply(sinks, slices(F.col("seq") < b1), "txn-1")
    log.txn_apply(sinks, slices((F.col("seq") >= b1) & (F.col("seq") < b2)), "txn-2")
    # crash mid-txn-3: only table a's slice lands, no record commits
    sinks["a"].apply(
        parse_change_events_single_pass(
            events.filter((F.col("seq") >= b2) & (F.pmod("seq", F.lit(2)) == 0))
        ),
        "txn-3:a",
    )
    snap = log.consistent_read(sinks)
    return (
        snap["a"].withColumn("tbl", F.lit("a"))
        .unionByName(snap["b"].withColumn("tbl", F.lit("b")))
        .select("tbl", "conv_id", "turn_idx", "role", "text", "tool", "ts")
    )


_ORACLE_TXN_CONSISTENT = f"""
    WITH changes AS ({_ORACLE_CDC_EVENTS}),
    bounds AS (SELECT MIN(seq) AS lo, MAX(seq) AS hi FROM changes),
    committed AS (
        SELECT c.*,
               CASE WHEN seq % 2 = 0 THEN 'a' ELSE 'b' END AS tbl
        FROM changes c, bounds
        WHERE seq < lo + (2 * (hi - lo + 1)) // 3
    ),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY tbl, conv_id, turn_idx ORDER BY ts DESC, seq DESC
        ) AS rn
        FROM committed
    )
    SELECT tbl, conv_id, turn_idx, role, text, tool, ts
    FROM ranked WHERE rn = 1 AND op <> 'delete'
"""


def _q_cdc_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 materialization of the change stream: every
    surviving change becomes a version row with a [valid_from,
    valid_to) interval; delete tombstones close intervals but emit no
    row. One key-partitioned window (same hash exchange as the LWW
    apply), no global sort."""
    from embulk_util_json_spark.operators.history import scd2_history
    from embulk_util_json_spark.sources.events import EXTRAS_COL, parse_change_events

    changes = parse_change_events(_events_as_cdc_json(spark, sf_dir))
    # the graded frame is the base fields only; the stream has no
    # unknown members, so the (empty) extras map is dropped
    changes = changes.drop(EXTRAS_COL)
    return scd2_history(changes, ["conv_id", "turn_idx"], ["ts", "seq"])


_ORACLE_RETENTION = f"""
    WITH changes AS ({_ORACLE_CDC_EVENTS}),
    bounds AS (SELECT MIN(seq) AS lo, MAX(seq) AS hi FROM changes),
    early AS (
        SELECT c.* FROM changes c, bounds
        WHERE seq < lo + (4 * (hi - lo + 1)) // 5
    ),
    late AS (
        SELECT c.* FROM changes c, bounds
        WHERE seq >= lo + (4 * (hi - lo + 1)) // 5
    ),
    early_winners AS (
        SELECT * FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY conv_id, turn_idx ORDER BY ts DESC, seq DESC
            ) AS rn FROM early
        ) WHERE rn = 1 AND op <> 'delete'
    ),
    tombs AS (
        SELECT CAST(-1 AS BIGINT) AS seq, 'delete' AS op,
               TIMESTAMP '2024-01-20 00:00:00' AS ts,
               conv_id, turn_idx,
               CAST(NULL AS VARCHAR) AS role,
               CAST(NULL AS VARCHAR) AS text,
               CAST(NULL AS VARCHAR) AS tool
        FROM early_winners
        WHERE ts < TIMESTAMP '2024-01-20 00:00:00'
    ),
    unioned AS (
        SELECT seq, op, ts, conv_id, turn_idx, role, text, tool FROM early
        UNION ALL
        SELECT seq, op, ts, conv_id, turn_idx, role, text, tool FROM tombs
        UNION ALL
        SELECT seq, op, ts, conv_id, turn_idx, role, text, tool FROM late
    ),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY conv_id, turn_idx ORDER BY ts DESC, seq DESC
        ) AS rn FROM unioned
    )
    SELECT conv_id, turn_idx, role, text, tool, ts
    FROM ranked WHERE rn = 1 AND op <> 'delete'
"""


def _q_cdc_scd2_view_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained SCD2 dimension table (``pipeline/
    scd2_view.IncrementalScd2View``): the change stream folds in three
    SEQ-RANGE batches — so event time arrives out of order across
    refreshes and late events must SPLIT intervals already
    materialized — and the folded table must equal the one-shot
    ``scd2_history`` over the whole log (the oracle). Each refresh is
    O(affected keys' history) via probe-pruned reads, never O(log)."""
    from embulk_util_json_spark.pipeline.scd2_view import IncrementalScd2View
    from embulk_util_json_spark.sources.events import parse_change_events

    work = _scratch("scd2v_")
    ev = _events_as_cdc_json(spark, sf_dir)
    bounds = ev.agg(F.min("seq").alias("lo"), F.max("seq").alias("hi")).collect()[0]
    lo, hi = int(bounds.lo), int(bounds.hi)
    cuts = [lo + (i * (hi - lo + 1)) // 3 for i in range(1, 3)]
    view = IncrementalScd2View(spark, os.path.join(work, "v"), num_buckets=8)
    preds = [
        F.col("seq") < cuts[0],
        (F.col("seq") >= cuts[0]) & (F.col("seq") < cuts[1]),
        F.col("seq") >= cuts[1],
    ]
    for i, p in enumerate(preds):
        view.refresh(parse_change_events(ev.filter(p)), f"b{i}")
    return view.read()


def _q_cdc_published_feed_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exactly-once wire publishing (``sinks/publish``): the stream
    applies in three batches, and after each one ``publish_changes``
    drains a named cursor into a Debezium JSONL segment on disk. An
    external consumer then re-ingests EVERY published segment through
    the wire parser and LWW-folds (seq = the segment's to_version —
    deterministic: each segment is net-per-key, so ties only occur
    ACROSS segments and resolve to the later window, matching source
    semantics). The fold must equal the whole-stream oracle — the
    published feed loses nothing end-to-end, tombstones included."""
    from embulk_util_json_spark.operators.lww import lww_agg
    from embulk_util_json_spark.sinks.publish import (
        publish_changes,
        published_segments,
    )
    from embulk_util_json_spark.sinks.snapshot import ParquetSnapshotSink
    from embulk_util_json_spark.sources.debezium import parse_debezium_events
    from embulk_util_json_spark.streaming.runner import apply_events_batch

    work = _scratch("publish_")
    out = os.path.join(work, "topic")
    ev = _events_as_cdc_json(spark, sf_dir)
    bounds = ev.agg(F.min("seq").alias("lo"), F.max("seq").alias("hi")).collect()[0]
    lo, hi = int(bounds.lo), int(bounds.hi)
    cuts = [lo + (i * (hi - lo + 1)) // 3 for i in range(1, 3)]
    src = ParquetSnapshotSink(
        spark, os.path.join(work, "s"), num_buckets=8, mode="mor"
    )
    preds = [
        F.col("seq") < cuts[0],
        (F.col("seq") >= cuts[0]) & (F.col("seq") < cuts[1]),
        F.col("seq") >= cuts[1],
    ]
    for i, p in enumerate(preds):
        apply_events_batch(ev.filter(p), src, f"b{i}")
        publish_changes(src, "exporter", out, wire="debezium")
    segs = published_segments(out)
    assert len(segs) == 3, f"one segment per window, got {len(segs)}"
    assert publish_changes(src, "exporter", out) is None, "must be caught up"
    parts = [
        spark.read.text(os.path.join(out, s["name"])).select(
            F.lit(int(s["to_version"])).cast("long").alias("seq"),
            F.col("value").alias("event_json"),
        )
        for s in segs
    ]
    raw = parts[0]
    for p in parts[1:]:
        raw = raw.unionByName(p)
    parsed = parse_debezium_events(raw)
    final = lww_agg(parsed, ["conv_id", "turn_idx"], ["ts", "seq"])
    return final.filter(F.col("op") != "delete").select(
        "conv_id", "turn_idx", "role", "text", "tool", "ts"
    )


def _q_cdc_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE surface (``pipeline/stats.column_stats``): per-column
    (n_rows, n_nulls, n_distinct, min, max) over the replayed final
    state in ONE full-scan aggregation (exact NDV for oracle parity;
    ``exact=False`` is the documented approx knob at scale).
    Timestamps render fixed-width-microsecond so lexicographic equals
    chronological; other types stringify AFTER the native min/max."""
    from embulk_util_json_spark.pipeline.stats import column_stats

    return column_stats(_final_state(spark, sf_dir))


_ORACLE_ALIGNED_READ = f"""
    WITH changes AS ({_ORACLE_CDC_EVENTS}),
    a AS (SELECT * FROM changes WHERE seq % 2 = 0),
    b AS (SELECT * FROM changes WHERE seq % 2 = 1),
    ef AS (
        SELECT
            (SELECT MAX(epoch_us(ts)) FROM a
             WHERE ts < TIMESTAMP '{_ALIGN_E1}') AS fa1,
            (SELECT MAX(epoch_us(ts)) FROM a
             WHERE ts < TIMESTAMP '{_ALIGN_E2}') AS fa2,
            (SELECT MAX(epoch_us(ts)) FROM a) AS fa3,
            (SELECT MAX(epoch_us(ts)) FROM b
             WHERE ts < TIMESTAMP '{_ALIGN_E1}') AS fb1,
            (SELECT MAX(epoch_us(ts)) FROM b
             WHERE ts < TIMESTAMP '{_ALIGN_E2}') AS fb2
    ),
    pick AS (
        SELECT LEAST(fa3, fb2) AS t,
            CASE WHEN fa3 <= LEAST(fa3, fb2) THEN 3
                 WHEN fa2 <= LEAST(fa3, fb2) THEN 2
                 WHEN fa1 <= LEAST(fa3, fb2) THEN 1 ELSE 0 END AS ka,
            CASE WHEN fb2 <= LEAST(fa3, fb2) THEN 2
                 WHEN fb1 <= LEAST(fa3, fb2) THEN 1 ELSE 0 END AS kb
        FROM ef
    ),
    a_vis AS (
        SELECT a.* FROM a, pick
        WHERE ka = 3
           OR (ka = 2 AND ts < TIMESTAMP '{_ALIGN_E2}')
           OR (ka = 1 AND ts < TIMESTAMP '{_ALIGN_E1}')
    ),
    b_vis AS (
        -- b only ever APPLIED events below E2 (its two batches), so
        -- kb = 2 visibility is that applied prefix, not all of b
        SELECT b.* FROM b, pick
        WHERE (kb = 2 AND ts < TIMESTAMP '{_ALIGN_E2}')
           OR (kb = 1 AND ts < TIMESTAMP '{_ALIGN_E1}')
    ),
    tagged AS (
        SELECT 'a' AS tbl, * FROM a_vis
        UNION ALL
        SELECT 'b' AS tbl, * FROM b_vis
    ),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY tbl, conv_id, turn_idx ORDER BY ts DESC, seq DESC
        ) AS rn
        FROM tagged
    )
    SELECT tbl, conv_id, turn_idx, role, text, tool, ts
    FROM ranked WHERE rn = 1 AND op <> 'delete'
"""


def _q_cdc_aligned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-aligned cross-table read (``sinks/align``): tables a
    and b demux one stream by seq parity but COMMIT independently — a
    applies three time-ordered batches, b only two, so b's applied
    event-time frontier lags. ``aligned_read`` computes T = min of the
    current frontiers (pure manifest-zone-map metadata, no scan) and
    serves EACH table at its latest version whose frontier ≤ T — here
    a must roll back to its two-batch version so no table serves rows
    from b's future. The oracle re-derives the frontier arithmetic and
    version choice relationally (MAX-epoch CTEs + the same CASE), so
    the hash pins the alignment decision itself, not just the final
    LWW."""
    from embulk_util_json_spark.sinks.align import aligned_read, aligned_versions
    from embulk_util_json_spark.sinks.snapshot import ParquetSnapshotSink
    from embulk_util_json_spark.streaming.runner import apply_events_batch

    work = _scratch("align_")
    ev = _events_as_cdc_json(spark, sf_dir)
    ts_of = F.get_json_object("event_json", "$.ts").cast("timestamp")
    a_ev = ev.filter(F.pmod("seq", F.lit(2)) == 0)
    b_ev = ev.filter(F.pmod("seq", F.lit(2)) == 1)
    a = ParquetSnapshotSink(spark, os.path.join(work, "a"), num_buckets=8, mode="mor")
    b = ParquetSnapshotSink(spark, os.path.join(work, "b"), num_buckets=8, mode="mor")
    apply_events_batch(a_ev.filter(ts_of < _ALIGN_E1), a, "a0")
    apply_events_batch(
        a_ev.filter((ts_of >= _ALIGN_E1) & (ts_of < _ALIGN_E2)), a, "a1"
    )
    apply_events_batch(a_ev.filter(ts_of >= _ALIGN_E2), a, "a2")
    apply_events_batch(b_ev.filter(ts_of < _ALIGN_E1), b, "b0")
    apply_events_batch(
        b_ev.filter((ts_of >= _ALIGN_E1) & (ts_of < _ALIGN_E2)), b, "b1"
    )
    versions, t = aligned_versions({"a": a, "b": b})
    frames = aligned_read({"a": a, "b": b})
    for name, f in frames.items():
        mx = f.agg(F.max(F.unix_micros("ts")).alias("m")).collect()[0].m
        assert mx is None or mx <= t, (
            f"table {name} serves rows beyond the common watermark"
        )
    return (
        frames["a"].withColumn("tbl", F.lit("a"))
        .unionByName(frames["b"].withColumn("tbl", F.lit("b")))
        .select("tbl", "conv_id", "turn_idx", "role", "text", "tool", "ts")
    )


def _q_cdc_feed_cursor_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durable change-feed cursors (``sinks/feed.FeedCursor``): two
    independently-named consumers drain one source's net-change feed
    at different paces — the fast one polls after every batch, the
    slow one once at the end — and each folds its polled windows into
    its own downstream sink using the window-derived batch id
    (exactly-once: a redelivered window is asserted to dedupe). Both
    downstream tables must equal the whole-stream LWW oracle; the
    query returns their union tagged by consumer so the hash pins BOTH
    fold paths."""
    from embulk_util_json_spark.sinks.feed import FeedCursor, batch_id
    from embulk_util_json_spark.sinks.snapshot import ParquetSnapshotSink
    from embulk_util_json_spark.streaming.runner import apply_events_batch

    work = _scratch("feed_")
    ev = _events_as_cdc_json(spark, sf_dir)
    bounds = ev.agg(F.min("seq").alias("lo"), F.max("seq").alias("hi")).collect()[0]
    lo, hi = int(bounds.lo), int(bounds.hi)
    cuts = [lo + (i * (hi - lo + 1)) // 3 for i in range(1, 3)]
    src = ParquetSnapshotSink(
        spark, os.path.join(work, "s"), num_buckets=8, mode="mor"
    )
    sinks = {
        "fast": ParquetSnapshotSink(
            spark, os.path.join(work, "fast"), num_buckets=8, mode="mor"
        ),
        "slow": ParquetSnapshotSink(
            spark, os.path.join(work, "slow"), num_buckets=8, mode="mor"
        ),
    }
    fast, slow = FeedCursor(src, "fast"), FeedCursor(src, "slow")

    def drain(cursor, dst):
        got = cursor.poll()
        if got is None:
            return
        ch, w = got
        folded = ch.withColumn("seq", F.lit(w["to_version"]).cast("long"))
        dst.apply(folded, batch_id(w))
        assert dst.apply(folded, batch_id(w)).get("skipped"), (
            "redelivered window must dedupe downstream"
        )
        cursor.commit(w)

    preds = [
        F.col("seq") < cuts[0],
        (F.col("seq") >= cuts[0]) & (F.col("seq") < cuts[1]),
        F.col("seq") >= cuts[1],
    ]
    for i, p in enumerate(preds):
        apply_events_batch(ev.filter(p), src, f"b{i}")
        drain(fast, sinks["fast"])  # polls every batch
    drain(slow, sinks["slow"])  # one catch-up poll at the end
    assert fast.lag() == 0 and slow.lag() == 0
    return (
        sinks["fast"].read().withColumn("consumer", F.lit("fast"))
        .unionByName(
            sinks["slow"].read().withColumn("consumer", F.lit("slow"))
        )
        .select("consumer", "conv_id", "turn_idx", "role", "text", "tool", "ts")
    )


_ORACLE_FEED_FANOUT = f"""
    WITH changes AS ({_ORACLE_CDC_EVENTS}),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY conv_id, turn_idx ORDER BY ts DESC, seq DESC
        ) AS rn
        FROM changes
    ),
    final AS (
        SELECT conv_id, turn_idx, role, text, tool, ts
        FROM ranked WHERE rn = 1 AND op <> 'delete'
    )
    SELECT 'fast' AS consumer, * FROM final
    UNION ALL
    SELECT 'slow' AS consumer, * FROM final
"""


def _q_cdc_minor_compact_final_state(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Minor (tiered) compaction (``sinks/snapshot.compact_minor``):
    quarter 1 of the stream applies and MAJOR-compacts into the base;
    quarters 2-3 apply as delta levels; ``compact_minor`` collapses the
    deltas into ONE level while the base's data paths stay verbatim in
    the manifest (asserted — write cost O(deltas), never O(table));
    quarter 4 then applies on top. Final state must equal the
    whole-stream LWW oracle — the merge detour is invisible because
    the reduction is closed and commutative."""
    from embulk_util_json_spark.sinks.snapshot import ParquetSnapshotSink
    from embulk_util_json_spark.streaming.runner import apply_events_batch

    work = _scratch("minor_")
    ev = _events_as_cdc_json(spark, sf_dir)
    bounds = ev.agg(F.min("seq").alias("lo"), F.max("seq").alias("hi")).collect()[0]
    lo, hi = int(bounds.lo), int(bounds.hi)
    cuts = [lo + (i * (hi - lo + 1)) // 4 for i in range(1, 4)]
    sink = ParquetSnapshotSink(
        spark, os.path.join(work, "t"), num_buckets=8, mode="mor",
        compact_every=64,
    )
    apply_events_batch(ev.filter(F.col("seq") < cuts[0]), sink, "b0")
    sink.compact(drop_tombstones=False)
    base = {b: list(ps) for b, ps in sink.current_manifest()["buckets"].items()}
    apply_events_batch(
        ev.filter((F.col("seq") >= cuts[0]) & (F.col("seq") < cuts[1])), sink, "b1"
    )
    apply_events_batch(
        ev.filter((F.col("seq") >= cuts[1]) & (F.col("seq") < cuts[2])), sink, "b2"
    )
    m = sink.compact_minor()
    assert m["delta_levels_merged"] > 0, "deltas must have merged"
    after = sink.current_manifest()["buckets"]
    for b, base_chain in base.items():
        assert after[b][: len(base_chain)] == base_chain, (
            f"bucket {b}: base paths must be untouched by minor compaction"
        )
        assert len(after[b]) <= len(base_chain) + 1, "deltas collapsed to one"
    apply_events_batch(ev.filter(F.col("seq") >= cuts[2]), sink, "b3")
    return sink.read().select("conv_id", "turn_idx", "role", "text", "tool", "ts")


def _q_cdc_retention_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention as logical deletes (``sinks/snapshot.
    retention_delete``): 4/5 of the stream applies, the retention
    policy tombstones every key whose winner predates the cutoff (the
    change feed must show the deletes; a same-cutoff rerun must be a
    committed-batch skip), then the LAST fifth of the stream — which
    carries events on BOTH sides of the cutoff — applies on top:
    redeliveries older than the cutoff stay dead, newer events
    resurrect their keys. Oracle derives the identical tombstone set
    relationally (winners of the early slice below the cutoff) and
    LWW-reduces the union, so the hash match pins the tombstone
    ordering semantics (ts = cutoff, seq = -1), not just the happy
    path."""
    from embulk_util_json_spark.sinks.snapshot import ParquetSnapshotSink
    from embulk_util_json_spark.streaming.runner import apply_events_batch

    work = _scratch("retention_")
    ev = _events_as_cdc_json(spark, sf_dir)
    bounds = ev.agg(F.min("seq").alias("lo"), F.max("seq").alias("hi")).collect()[0]
    lo, hi = int(bounds.lo), int(bounds.hi)
    split = lo + (4 * (hi - lo + 1)) // 5
    sink = ParquetSnapshotSink(
        spark, os.path.join(work, "t"), num_buckets=8, mode="mor"
    )
    apply_events_batch(ev.filter(F.col("seq") < split), sink, "b0")
    v_pre = sink.current_version()
    cutoff = "2024-01-20 00:00:00"
    m = sink.retention_delete(cutoff)
    assert not m.get("skipped"), "first retention run must apply"
    feed = sink.read_changes(v_pre)
    assert feed.filter(F.col("op") == "delete").count() > 0, (
        "change feed must carry the retention tombstones"
    )
    assert sink.retention_delete(cutoff).get("skipped"), (
        "same-cutoff rerun must dedupe on the derived batch_id"
    )
    apply_events_batch(ev.filter(F.col("seq") >= split), sink, "b1")
    return sink.read().select("conv_id", "turn_idx", "role", "text", "tool", "ts")


def _q_cdc_temporal_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time temporal table join (``operators/temporal.
    temporal_enrich``): a fact stream (every 7th event's key + its own
    ts) is enriched with the transcript attributes valid AS OF each
    fact's event time, against the SCD2 history of the same change
    stream. Deletion gaps and pre-history facts yield NULLs — the
    semantic a plain as-of join cannot express. Engine = union-tag
    window walk (ONE key-hash exchange, no range join); oracle = the
    independent interval formulation (LEFT JOIN on key + containment),
    so a hash match cross-checks the two formulations."""
    from embulk_util_json_spark.operators.history import scd2_history
    from embulk_util_json_spark.operators.temporal import temporal_enrich
    from embulk_util_json_spark.sources.events import parse_change_events

    changes = parse_change_events(_events_as_cdc_json(spark, sf_dir))
    versions = scd2_history(changes, ["conv_id", "turn_idx"], ["ts", "seq"])
    facts = changes.filter(F.pmod("seq", F.lit(7)) == 3).select(
        F.col("seq").alias("fact_id"), "conv_id", "turn_idx", "ts"
    )
    return temporal_enrich(
        facts, versions, ["conv_id", "turn_idx"], attrs=["role", "text", "tool"]
    ).select(
        "fact_id", "conv_id", "turn_idx", "ts",
        "role_dim", "text_dim", "tool_dim",
    )


def _q_cdc_compact_net_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Net-effect batch compaction: collapse the change batch to ≤1
    net change per key (insert…delete annihilates; the survivor
    carries the last payload). ONE min_by/max_by hash aggregation —
    map-side partial combine pre-reduces hot keys before the
    exchange."""
    from embulk_util_json_spark.operators.history import compact_net_changes
    from embulk_util_json_spark.sources.events import EXTRAS_COL, parse_change_events

    changes = parse_change_events(_events_as_cdc_json(spark, sf_dir))
    # the graded frame is the base fields only; the stream has no
    # unknown members, so the (empty) extras map is dropped
    changes = changes.drop(EXTRAS_COL)
    return compact_net_changes(changes, ["conv_id", "turn_idx"], ["ts", "seq"])


def _q_cdc_scd2_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time read: the table state AS OF the midpoint instant
    of the stream (epoch-microsecond midpoint — integer math so both
    engines pin the identical instant). Spark side slices the SCD2
    interval table (a filter — no re-aggregation); the oracle uses the
    independent log formulation (LWW over events with ts ≤ T), so a
    hash match cross-checks the two formulations against each other."""
    from embulk_util_json_spark.operators.history import scd2_asof, scd2_history
    from embulk_util_json_spark.sources.events import parse_change_events

    changes = parse_change_events(_events_as_cdc_json(spark, sf_dir))
    bounds = changes.agg(
        F.expr(
            "(min(unix_micros(ts)) + max(unix_micros(ts))) div 2"
        ).alias("_t")
    )
    versions = scd2_history(changes, ["conv_id", "turn_idx"], ["ts", "seq"])
    return scd2_asof(versions.crossJoin(F.broadcast(bounds)), F.col("_t")).select(
        "conv_id",
        "turn_idx",
        "role",
        "text",
        "tool",
        F.col("valid_from_ts").alias("ts"),
    )


_ORACLE_SCD2_ASOF = f"""
    WITH changes AS ({_ORACLE_CDC_EVENTS}),
    bounds AS (
        SELECT (MIN(epoch_us(ts)) + MAX(epoch_us(ts))) // 2 AS t
        FROM changes
    ),
    visible AS (
        SELECT c.* FROM changes c, bounds WHERE epoch_us(c.ts) <= t
    ),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY conv_id, turn_idx ORDER BY ts DESC, seq DESC
        ) AS rn
        FROM visible
    )
    SELECT conv_id, turn_idx, role, text, tool, ts
    FROM ranked WHERE rn = 1 AND op <> 'delete'
"""


def _q_cdc_agg_view_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained GROUP BY view (``pipeline/agg_view``):
    the stream replays in 3 micro-batches; after each, the view folds
    the sink's preimage/postimage change feed — retract the old
    winner's contribution, add the new one — never touching the base
    table. Final view must equal the one-shot GROUP BY over the
    whole-stream LWW state: per conversation, the live turn count and
    total text length."""
    from embulk_util_json_spark.pipeline.agg_view import IncrementalAggView
    from embulk_util_json_spark.sinks.snapshot import ParquetSnapshotSink
    from embulk_util_json_spark.streaming.runner import apply_events_batch

    work = _scratch("aggview_")
    ev = _events_as_cdc_json(spark, sf_dir)
    bounds = ev.agg(F.min("seq").alias("lo"), F.max("seq").alias("hi")).collect()[0]
    lo, hi = int(bounds.lo), int(bounds.hi)
    cuts = [lo, lo + (hi - lo + 1) // 3, lo + (2 * (hi - lo + 1)) // 3, hi + 1]
    sink = ParquetSnapshotSink(spark, os.path.join(work, "t"), num_buckets=8)
    mv = IncrementalAggView(
        spark,
        os.path.join(work, "mv"),
        sink,
        ["conv_id"],
        {"n_turns": F.lit(1), "sum_len": F.length("text")},
    )
    for i in range(3):
        apply_events_batch(
            ev.filter((F.col("seq") >= cuts[i]) & (F.col("seq") < cuts[i + 1])),
            sink,
            f"b{i}",
        )
        r = mv.refresh()
        assert not r["skipped"], r
    assert mv.refresh()["skipped"], "idempotent: nothing new to fold"
    return mv.read()


_ORACLE_AGG_VIEW = f"""
    WITH final AS ({_ORACLE_CDC_FINAL})
    SELECT conv_id,
           COUNT(*) AS n_turns,
           CAST(SUM(LENGTH(text)) AS BIGINT) AS sum_len
    FROM final GROUP BY conv_id
"""


def _q_cdc_secondary_index_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Secondary-index lookup (``sinks/index``): the stream replays in
    3 micro-batches; after each, the inverted index on the non-key
    ``tool`` column folds the base sink's preimage/postimage feed —
    value moves retire the old posting, tombstones retire theirs.
    ``lookup`` then serves "all rows where tool = 'click'" through ONE
    index bucket chain + probe-pruned base buckets, never a base scan
    (``verify=False`` so the grade rests on the postings alone).
    Must equal the full-scan filter of the whole-stream LWW state."""
    from embulk_util_json_spark.sinks.index import SecondaryIndex
    from embulk_util_json_spark.sinks.snapshot import ParquetSnapshotSink
    from embulk_util_json_spark.streaming.runner import apply_events_batch

    work = _scratch("secidx_")
    ev = _events_as_cdc_json(spark, sf_dir)
    bounds = ev.agg(F.min("seq").alias("lo"), F.max("seq").alias("hi")).collect()[0]
    lo, hi = int(bounds.lo), int(bounds.hi)
    cuts = [lo, lo + (hi - lo + 1) // 3, lo + (2 * (hi - lo + 1)) // 3, hi + 1]
    sink = ParquetSnapshotSink(spark, os.path.join(work, "t"), num_buckets=8)
    ix = SecondaryIndex(spark, os.path.join(work, "ix"), sink, "tool")
    for i in range(3):
        apply_events_batch(
            ev.filter((F.col("seq") >= cuts[i]) & (F.col("seq") < cuts[i + 1])),
            sink,
            f"b{i}",
        )
        r = ix.refresh()
        assert not r.get("skipped"), r
    assert ix.refresh()["reason"] == "up-to-date"
    return ix.lookup("click", verify=False).select(
        "conv_id", "turn_idx", "role", "text", "tool", "ts"
    )


_ORACLE_SECONDARY_INDEX = f"""
    WITH final AS ({_ORACLE_CDC_FINAL})
    SELECT conv_id, turn_idx, role, text, tool, ts
    FROM final WHERE tool = 'click'
"""


def _q_cdc_covering_index_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Covering-index lookup (``sinks/index`` ``include_cols``): same
    3-batch replay + per-batch refresh as ``cdc_secondary_index_
    lookup``, but the postings carry the ``text``/``role`` payload and
    the lookup serves from the index ALONE — one posting bucket chain,
    zero base-table I/O. Must equal the full-scan filter of the
    whole-stream LWW state on the covered columns."""
    from embulk_util_json_spark.sinks.index import SecondaryIndex
    from embulk_util_json_spark.sinks.snapshot import ParquetSnapshotSink
    from embulk_util_json_spark.streaming.runner import apply_events_batch

    work = _scratch("covidx_")
    ev = _events_as_cdc_json(spark, sf_dir)
    bounds = ev.agg(F.min("seq").alias("lo"), F.max("seq").alias("hi")).collect()[0]
    lo, hi = int(bounds.lo), int(bounds.hi)
    cuts = [lo, lo + (hi - lo + 1) // 3, lo + (2 * (hi - lo + 1)) // 3, hi + 1]
    sink = ParquetSnapshotSink(spark, os.path.join(work, "t"), num_buckets=8)
    ix = SecondaryIndex(
        spark, os.path.join(work, "ix"), sink, "tool",
        include_cols=["text", "role"],
    )
    for i in range(3):
        apply_events_batch(
            ev.filter((F.col("seq") >= cuts[i]) & (F.col("seq") < cuts[i + 1])),
            sink,
            f"b{i}",
        )
        r = ix.refresh()
        assert not r.get("skipped"), r
    return ix.lookup("click", covering=True).select(
        "conv_id", "turn_idx", "tool", "text", "role"
    )


_ORACLE_COVERING_INDEX = f"""
    WITH final AS ({_ORACLE_CDC_FINAL})
    SELECT conv_id, turn_idx, tool, text, role
    FROM final WHERE tool = 'click'
"""


def _q_cdc_branch_final_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-copy branching (``sinks/snapshot.create_branch``): main
    replays the first ⅔ of the stream, a ``dev`` branch forks
    (metadata-only — pre-fork data files shared by reference), and the
    last ⅓ replays into the branch alone. Main must stay pinned at the
    fork (asserted: no new main commits, fork state bit-stable), while
    the branch's final state must equal the whole-stream LWW oracle."""
    from embulk_util_json_spark.sinks.snapshot import ParquetSnapshotSink
    from embulk_util_json_spark.streaming.runner import apply_events_batch

    work = _scratch("branch_")
    ev = _events_as_cdc_json(spark, sf_dir)
    bounds = ev.agg(F.min("seq").alias("lo"), F.max("seq").alias("hi")).collect()[0]
    lo, hi = int(bounds.lo), int(bounds.hi)
    cuts = [lo, lo + (hi - lo + 1) // 3, lo + (2 * (hi - lo + 1)) // 3, hi + 1]
    main = ParquetSnapshotSink(
        spark, os.path.join(work, "t"), num_buckets=8, mode="mor"
    )
    for i in range(2):
        apply_events_batch(
            ev.filter((F.col("seq") >= cuts[i]) & (F.col("seq") < cuts[i + 1])),
            main,
            f"b{i}",
        )
    dev = main.create_branch("dev")
    v_fork = main.current_version()
    apply_events_batch(
        ev.filter((F.col("seq") >= cuts[2]) & (F.col("seq") < cuts[3])),
        dev,
        "b2",
    )
    assert main.current_version() == v_fork, "branch write leaked into main"
    return dev.read().select("conv_id", "turn_idx", "role", "text", "tool", "ts")


def _q_cdc_wap_publish_final_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-audit-publish (``sinks/snapshot.publish_from``): main
    replays the first ⅓; the rest lands on a ``stage`` branch in two
    batches (writes isolated from readers of main); an audit callback
    inspects the branch's net change feed (vetoing would abort with
    nothing committed); publish folds the post-fork delta into main —
    O(branch writes). Main's final state must equal the whole-stream
    LWW oracle."""
    from embulk_util_json_spark.sinks.snapshot import ParquetSnapshotSink
    from embulk_util_json_spark.streaming.runner import apply_events_batch

    work = _scratch("wap_")
    ev = _events_as_cdc_json(spark, sf_dir)
    bounds = ev.agg(F.min("seq").alias("lo"), F.max("seq").alias("hi")).collect()[0]
    lo, hi = int(bounds.lo), int(bounds.hi)
    cuts = [lo, lo + (hi - lo + 1) // 3, lo + (2 * (hi - lo + 1)) // 3, hi + 1]
    main = ParquetSnapshotSink(
        spark, os.path.join(work, "t"), num_buckets=8, mode="mor"
    )
    apply_events_batch(
        ev.filter((F.col("seq") >= cuts[0]) & (F.col("seq") < cuts[1])), main, "b0"
    )
    stage = main.create_branch("stage")
    for i in (1, 2):
        apply_events_batch(
            ev.filter((F.col("seq") >= cuts[i]) & (F.col("seq") < cuts[i + 1])),
            stage,
            f"b{i}",
        )
    audited = {}

    def _audit(feed: DataFrame) -> None:
        audited["n"] = feed.count()
        if audited["n"] < 0:  # the veto hook a DQ gate would use
            raise RuntimeError("audit veto")

    res = main.publish_from(stage, audit=_audit)
    assert audited["n"] > 0 and not res.get("skipped"), (audited, res)
    assert main.publish_from(stage).get("skipped"), "redelivery must skip"
    return main.read().select("conv_id", "turn_idx", "role", "text", "tool", "ts")


def _q_cdc_savepoint_resume_final_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable savepoint resume (``sinks/savepoint``): the first ⅔ of
    the stream replays into a source table in two batches; a savepoint
    of the current version is exported to a NEW root (exactly the
    referenced files, hard-linked + self-describing layout + the
    carried-over batch-id log); the source root is then DELETED to
    prove the export is standalone; the savepoint imports cold and the
    redelivered pre-savepoint batch must skip (exactly-once across the
    export boundary) before the last ⅓ applies. Final imported state
    must equal the whole-stream LWW oracle."""
    import shutil

    from embulk_util_json_spark.sinks.savepoint import (
        export_savepoint,
        import_savepoint,
    )
    from embulk_util_json_spark.sinks.snapshot import ParquetSnapshotSink
    from embulk_util_json_spark.streaming.runner import apply_events_batch

    work = _scratch("savepoint_")
    ev = _events_as_cdc_json(spark, sf_dir)
    bounds = ev.agg(F.min("seq").alias("lo"), F.max("seq").alias("hi")).collect()[0]
    lo, hi = int(bounds.lo), int(bounds.hi)
    cuts = [lo, lo + (hi - lo + 1) // 3, lo + (2 * (hi - lo + 1)) // 3, hi + 1]
    src = ParquetSnapshotSink(
        spark, os.path.join(work, "src"), num_buckets=8, mode="mor"
    )
    for i in range(2):
        apply_events_batch(
            ev.filter((F.col("seq") >= cuts[i]) & (F.col("seq") < cuts[i + 1])),
            src,
            f"b{i}",
        )
    export_savepoint(src, os.path.join(work, "sp"))
    shutil.rmtree(os.path.join(work, "src"))  # must survive losing the source
    dst = import_savepoint(spark, os.path.join(work, "sp"))
    redelivered = apply_events_batch(
        ev.filter((F.col("seq") >= cuts[1]) & (F.col("seq") < cuts[2])), dst, "b1"
    )
    assert redelivered.get("skipped"), "pre-savepoint batch must skip on redelivery"
    apply_events_batch(
        ev.filter((F.col("seq") >= cuts[2]) & (F.col("seq") < cuts[3])), dst, "b2"
    )
    return dst.read().select("conv_id", "turn_idx", "role", "text", "tool", "ts")


def _q_cdc_rollback_final_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollback-to-version (``sinks/snapshot.rollback`` — the
    bad-batch workflow): b0 applies; a CORRUPTED b1 applies (every
    text payload scrambled); ``rollback`` restores the b0 state with a
    metadata-only commit (history linear, no file touched, batch_ids
    reverted so the FIXED redelivery of b1 is not deduped away); the
    corrected b1 and b2 then apply. Asserted along the way: the
    corruption was really visible, and a change-feed cursor inside the
    rolled-back range is refused. Final state must equal the
    whole-stream LWW oracle — the detour leaves no trace."""
    from embulk_util_json_spark.sinks.snapshot import ParquetSnapshotSink
    from embulk_util_json_spark.streaming.runner import apply_events_batch

    work = _scratch("rollback_")
    ev = _events_as_cdc_json(spark, sf_dir)
    bounds = ev.agg(F.min("seq").alias("lo"), F.max("seq").alias("hi")).collect()[0]
    lo, hi = int(bounds.lo), int(bounds.hi)
    cuts = [lo, lo + (hi - lo + 1) // 3, lo + (2 * (hi - lo + 1)) // 3, hi + 1]
    b1 = ev.filter((F.col("seq") >= cuts[1]) & (F.col("seq") < cuts[2]))
    sink = ParquetSnapshotSink(
        spark, os.path.join(work, "t"), num_buckets=8, mode="mor"
    )
    apply_events_batch(
        ev.filter((F.col("seq") >= cuts[0]) & (F.col("seq") < cuts[1])), sink, "b0"
    )
    v_good = sink.current_version()
    corrupt = b1.withColumn(
        "event_json",
        F.regexp_replace("event_json", '"text":"', '"text":"CORRUPT '),
    )
    apply_events_batch(corrupt, sink, "b1")
    n_bad = sink.read().filter(F.col("text").startswith("CORRUPT")).count()
    assert n_bad > 0, "corrupted batch must be visible before rollback"
    v_bad = sink.current_version()
    sink.rollback(v_good)
    try:
        sink.read_changes(v_bad).count()
        raise AssertionError("cursor inside rolled-back range must be refused")
    except ValueError:
        pass
    apply_events_batch(b1, sink, "b1")  # corrected redelivery must apply
    apply_events_batch(
        ev.filter((F.col("seq") >= cuts[2]) & (F.col("seq") < cuts[3])), sink, "b2"
    )
    final = sink.read()
    assert final.filter(F.col("text").startswith("CORRUPT")).count() == 0
    return final.select("conv_id", "turn_idx", "role", "text", "tool", "ts")


_ORACLE_RECENT_STATE = f"""
    WITH changes AS ({_ORACLE_CDC_EVENTS}),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY conv_id, turn_idx ORDER BY ts DESC, seq DESC
        ) AS rn
        FROM changes
    )
    SELECT conv_id, turn_idx, role, text, tool, ts
    FROM ranked
    WHERE rn = 1 AND op <> 'delete'
      AND ts >= TIMESTAMP '2024-01-20 00:00:00'
"""


def _q_cdc_recent_state_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Freshness read over footer zone maps (``sinks/snapshot``
    ``file_stats`` + ``read(min_ts=...)``): the stream replays in
    three time-ordered batches (the real CDC shape — commits arrive
    roughly in commit-ts order), then ``read(min_ts=cutoff)`` returns
    keys whose LWW winner is at/after the cutoff, pruning whole chain
    elements whose recorded [min,max] ts proves them stale BEFORE the
    scan. The query asserts the pruning actually fired (fewer files
    scanned than a full read) — at 100 TB this is the difference
    between opening the last day's deltas and opening the table.
    Lower-bound pruning is exact under LWW (see read() docstring);
    oracle = the LWW CTE with the same residual WHERE ts >= cutoff."""
    from embulk_util_json_spark.sinks.snapshot import ParquetSnapshotSink
    from embulk_util_json_spark.streaming.runner import apply_events_batch

    work = _scratch("recent_")
    ev = _events_as_cdc_json(spark, sf_dir)
    ts_of = F.get_json_object("event_json", "$.ts").cast("timestamp")
    sink = ParquetSnapshotSink(
        spark, os.path.join(work, "t"), num_buckets=8, mode="mor",
        compact_every=64,
    )
    edges = ["2024-01-11 00:00:00", "2024-01-21 00:00:00"]
    apply_events_batch(ev.filter(ts_of < edges[0]), sink, "b0")
    apply_events_batch(
        ev.filter((ts_of >= edges[0]) & (ts_of < edges[1])), sink, "b1"
    )
    apply_events_batch(ev.filter(ts_of >= edges[1]), sink, "b2")
    assert sink.current_manifest()["file_stats"], "zone maps must be recorded"
    fresh = sink.read(min_ts="2024-01-20 00:00:00")
    n_pruned = len(fresh.inputFiles())
    n_full = len(sink.read().inputFiles())
    assert n_pruned < n_full, f"zone maps must prune ({n_pruned} vs {n_full})"
    return fresh.select("conv_id", "turn_idx", "role", "text", "tool", "ts")


def _q_cdc_banded_compact_recent_read(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Time-banded compaction (``sinks/snapshot.compact(ts_bands=)``)
    keeps freshness reads pruned THROUGH maintenance: the stream
    replays in three time-ordered batches, a banded compaction
    collapses the chains into one element per (time band, bucket) —
    split AFTER the LWW reduction, so each key lives in exactly one
    band and state is unchanged — and ``read(min_ts=cutoff)`` must
    still open fewer files than a full read (a PLAIN compaction would
    have merged all history into one element and killed the prune).
    Oracle = the LWW CTE with the same residual; the compaction
    detour must leave no trace in the result."""
    from embulk_util_json_spark.sinks.snapshot import ParquetSnapshotSink
    from embulk_util_json_spark.streaming.runner import apply_events_batch

    work = _scratch("banded_")
    ev = _events_as_cdc_json(spark, sf_dir)
    ts_of = F.get_json_object("event_json", "$.ts").cast("timestamp")
    sink = ParquetSnapshotSink(
        spark, os.path.join(work, "t"), num_buckets=8, mode="mor",
        compact_every=64,
    )
    edges = ["2024-01-11 00:00:00", "2024-01-21 00:00:00"]
    apply_events_batch(ev.filter(ts_of < edges[0]), sink, "b0")
    apply_events_batch(
        ev.filter((ts_of >= edges[0]) & (ts_of < edges[1])), sink, "b1"
    )
    apply_events_batch(ev.filter(ts_of >= edges[1]), sink, "b2")
    sink.compact(drop_tombstones=False, ts_bands=edges)
    chain_paths = [
        p
        for b in sink.current_manifest()["buckets"]
        for p in sink.current_manifest()["buckets"][b]
    ]
    assert any("_band=" in p for p in chain_paths), "banded layout expected"
    fresh = sink.read(min_ts="2024-01-20 00:00:00")
    n_pruned = len(fresh.inputFiles())
    n_full = len(sink.read().inputFiles())
    assert n_pruned < n_full, (
        f"bands must keep the prune alive post-compaction "
        f"({n_pruned} vs {n_full})"
    )
    return fresh.select("conv_id", "turn_idx", "role", "text", "tool", "ts")


_ORACLE_KEY_LOOKUP = f"""
    WITH changes AS ({_ORACLE_CDC_EVENTS}),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY conv_id, turn_idx ORDER BY ts DESC, seq DESC
        ) AS rn
        FROM changes
    )
    SELECT conv_id, turn_idx, role, text, tool, ts
    FROM ranked
    WHERE rn = 1 AND op <> 'delete' AND conv_id = 'u7'
"""


def _q_cdc_key_skipped_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point lookup over footer KEY-range zone maps (``sinks/snapshot``
    ``key_stats`` + ``read(key_eq=...)``): the stream replays in three
    batches split by conv_id RANGE (the tenant-sharded / region-backfill
    shape — each delta touches a contiguous key slice), then a point
    lookup of 'u7' opens only the chain elements whose recorded
    [min,max] key range can contain it — the other slices' deltas are
    skipped without a scan. Unlike ts pruning this is exact in every
    mode (it removes only OTHER keys' rows), and LWW over (ts, seq) is
    batch-order-independent, so the oracle is simply the whole-stream
    LWW CTE filtered to the probed key. The query asserts the skip
    actually fired: the probed bucket's chain has 3 elements but the
    lookup opens fewer."""
    from embulk_util_json_spark.sinks.snapshot import ParquetSnapshotSink
    from embulk_util_json_spark.streaming.runner import apply_events_batch

    work = _scratch("keyskip_")
    ev = _events_as_cdc_json(spark, sf_dir)
    conv = F.get_json_object("event_json", "$.data.conv_id")
    sink = ParquetSnapshotSink(
        spark, os.path.join(work, "t"), num_buckets=8, mode="mor",
        compact_every=64,
    )
    # String-ordered slices (conv ids are 'u<digits>', compared as
    # strings end-to-end — parquet BYTE_ARRAY stats, Python, and SQL
    # agree on UTF-8 order). 'u7' lives only in the third slice.
    apply_events_batch(ev.filter(conv < "u3"), sink, "b0")
    apply_events_batch(ev.filter((conv >= "u3") & (conv < "u6")), sink, "b1")
    apply_events_batch(ev.filter(conv >= "u6"), sink, "b2")
    m = sink.current_manifest()
    assert m["key_stats"], "key zone maps must be recorded"
    bucket = str(sink.bucket_of("u7", int(m["num_buckets"])))
    # chain length varies with scale (a slice with no key hashing to
    # u7's bucket writes no element there): assert the skip whenever
    # there is anything to skip.
    chain_len = len(m["buckets"][bucket])
    look = sink.read(key_eq={"conv_id": "u7"})
    n_open = len({os.path.dirname(p) for p in look.inputFiles()})
    if chain_len > 1:
        assert n_open < chain_len, (
            f"key-range skipping must drop disjoint-slice elements "
            f"({n_open} of {chain_len} opened)"
        )
    return look.select("conv_id", "turn_idx", "role", "text", "tool", "ts")


def _q_cdc_merge_into_final_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative MERGE INTO (``sinks/merge``): the stream replays to
    the LWW final state, then ONE imperative MERGE batch exercises all
    three clauses against it — matched keys with ``turn_idx % 5 = 4``
    are deleted, matched keys with ``% 5 = 2`` are updated (text
    upper-cased, tool stamped 'merged'), and brand-new keys
    (``turn_idx + 100``, derived from ``% 5 = 1`` rows) are inserted.
    The copy-on-write touches only the buckets the source keys hash
    into. Oracle = the same LWW CTE with the clauses applied
    relationally (CASE + anti-filter + UNION ALL)."""
    from embulk_util_json_spark.sinks.merge import merge_into
    from embulk_util_json_spark.sinks.snapshot import ParquetSnapshotSink
    from embulk_util_json_spark.streaming.runner import apply_events_batch

    work = _scratch("merge_")
    ev = _events_as_cdc_json(spark, sf_dir)
    sink = ParquetSnapshotSink(
        spark, os.path.join(work, "t"), num_buckets=8, mode="mor"
    )
    apply_events_batch(ev, sink, "b0")
    cur = sink.read()
    upd = cur.filter(F.col("turn_idx") % 5 == 2).select(
        "conv_id", "turn_idx", "role",
        F.upper("text").alias("text"),
        F.lit("merged").alias("tool"),
        "ts",
    )
    dels = cur.filter(F.col("turn_idx") % 5 == 4).select(
        "conv_id", "turn_idx", "role", "text", "tool", "ts"
    )
    ins = cur.filter(F.col("turn_idx") % 5 == 1).select(
        "conv_id",
        (F.col("turn_idx") + 100).alias("turn_idx"),
        F.lit("merge").alias("role"),
        F.concat(
            F.lit("ins "), "conv_id", F.lit("/"),
            F.col("turn_idx").cast("string"),
        ).alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.lit("2030-01-01 00:00:00").cast("timestamp").alias("ts"),
    )
    res = merge_into(
        sink,
        upd.unionByName(dels).unionByName(ins),
        "m1",
        when_matched_delete="t.turn_idx % 5 = 4",
        when_matched_update=True,
        when_not_matched_insert=True,
    )
    assert res["matched_deleted"] > 0 and res["inserted"] > 0
    return sink.read().select("conv_id", "turn_idx", "role", "text", "tool", "ts")


def _q_cdc_join_view_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained JOIN view (``pipeline/join_view``):
    transcripts (left, keyed conv_id+turn_idx) enriched with a per-
    conversation profile table (right, keyed conv_id, LWW latest
    ``plan``/``ts`` per conversation, deletes tombstone the profile).
    Left and right batches INTERLEAVE — l, r, l, r, l — with a view
    refresh after every one: each refresh re-joins only the affected
    left keys from current state (probe-pruned reads both sides),
    never re-joining the tables. Final view must equal the one-shot
    inner join of the two whole-stream LWW states."""
    from embulk_util_json_spark.pipeline.join_view import IncrementalJoinView
    from embulk_util_json_spark.sinks.snapshot import ParquetSnapshotSink
    from embulk_util_json_spark.sources.events import parse_change_events
    from embulk_util_json_spark.streaming.runner import apply_events_batch

    work = _scratch("joinview_")
    ev = _events_as_cdc_json(spark, sf_dir)
    bounds = ev.agg(F.min("seq").alias("lo"), F.max("seq").alias("hi")).collect()[0]
    lo, hi = int(bounds.lo), int(bounds.hi)
    span = hi - lo + 1
    prof = parse_change_events(ev).select(
        "conv_id", F.col("tool").alias("plan"), "op", "ts", "seq"
    )
    left = ParquetSnapshotSink(
        spark, os.path.join(work, "l"), num_buckets=8, mode="mor"
    )
    right = ParquetSnapshotSink(
        spark, os.path.join(work, "r"), num_buckets=8,
        keys=["conv_id"], order_cols=["ts", "seq"], mode="mor",
    )
    jv = IncrementalJoinView(
        spark, os.path.join(work, "v"), left, right, ["conv_id"]
    )
    steps = [
        ("l", lo, lo + span // 3),
        ("r", lo, lo + span // 2),
        ("l", lo + span // 3, lo + (2 * span) // 3),
        ("r", lo + span // 2, hi + 1),
        ("l", lo + (2 * span) // 3, hi + 1),
    ]
    for i, (side, a, b) in enumerate(steps):
        cut = (F.col("seq") >= a) & (F.col("seq") < b)
        if side == "l":
            apply_events_batch(ev.filter(cut), left, f"b{i}")
        else:
            right.apply(prof.filter(cut), f"rb{i}")
        r = jv.refresh()
        assert not r.get("skipped"), r
    assert jv.refresh()["reason"] == "up-to-date"
    return jv.read().select(
        "conv_id", "turn_idx", "role", "text", "tool", "ts", "r_plan", "r_ts"
    )


_ORACLE_JOIN_VIEW = f"""
    WITH changes AS ({_ORACLE_CDC_EVENTS}),
    lf AS (
        SELECT conv_id, turn_idx, role, text, tool, ts FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY conv_id, turn_idx ORDER BY ts DESC, seq DESC
            ) AS rn FROM changes
        ) WHERE rn = 1 AND op <> 'delete'
    ),
    rf AS (
        SELECT conv_id, r_plan, r_ts FROM (
            SELECT conv_id, tool AS r_plan, ts AS r_ts, op,
                   ROW_NUMBER() OVER (
                       PARTITION BY conv_id ORDER BY ts DESC, seq DESC
                   ) AS rn FROM changes
        ) WHERE rn = 1 AND op <> 'delete'
    )
    SELECT lf.conv_id, lf.turn_idx, lf.role, lf.text, lf.tool, lf.ts,
           rf.r_plan, rf.r_ts
    FROM lf JOIN rf USING (conv_id)
"""


def _q_cdc_view_cascade_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composable incremental views — a CASCADE: the join view's sink
    is itself a first-class ``ParquetSnapshotSink`` (change feed,
    preimage/postimage, batch log), so an ``IncrementalAggView`` can
    maintain a GROUP BY directly off the JOIN view's change feed with
    no special casing — the materialized-view DAG every warehouse
    builds (base → enriched → rollup), each level O(its delta), no
    level ever re-reading a base table. Same interleaved l/r batch
    schedule as ``cdc_join_view_incremental``, with BOTH levels
    refreshed after every source apply; the final rollup must equal
    the one-shot GROUP BY over the one-shot join of the two
    whole-stream LWW states."""
    from embulk_util_json_spark.pipeline.agg_view import IncrementalAggView
    from embulk_util_json_spark.pipeline.join_view import IncrementalJoinView
    from embulk_util_json_spark.sinks.snapshot import ParquetSnapshotSink
    from embulk_util_json_spark.sources.events import parse_change_events
    from embulk_util_json_spark.streaming.runner import apply_events_batch

    work = _scratch("cascade_")
    ev = _events_as_cdc_json(spark, sf_dir)
    bounds = ev.agg(F.min("seq").alias("lo"), F.max("seq").alias("hi")).collect()[0]
    lo, hi = int(bounds.lo), int(bounds.hi)
    span = hi - lo + 1
    prof = parse_change_events(ev).select(
        "conv_id", F.col("tool").alias("plan"), "op", "ts", "seq"
    )
    left = ParquetSnapshotSink(
        spark, os.path.join(work, "l"), num_buckets=8, mode="mor"
    )
    right = ParquetSnapshotSink(
        spark, os.path.join(work, "r"), num_buckets=8,
        keys=["conv_id"], order_cols=["ts", "seq"], mode="mor",
    )
    jv = IncrementalJoinView(
        spark, os.path.join(work, "v"), left, right, ["conv_id"]
    )
    rollup = IncrementalAggView(
        spark,
        os.path.join(work, "mv"),
        jv.view,  # <- the cascade: view-over-view, same feed contract
        ["r_plan"],
        {"n_rows": F.lit(1), "sum_len": F.length("text")},
    )
    # right side FIRST: the view's payload schema (r_plan) must exist
    # before the rollup can group by it — the same ordering contract a
    # warehouse DAG has (build the dimension before the rollup over it)
    steps = [
        ("r", lo, lo + span // 2),
        ("l", lo, lo + span // 3),
        ("r", lo + span // 2, hi + 1),
        ("l", lo + span // 3, lo + (2 * span) // 3),
        ("l", lo + (2 * span) // 3, hi + 1),
    ]
    for i, (side, a, b) in enumerate(steps):
        cut = (F.col("seq") >= a) & (F.col("seq") < b)
        if side == "l":
            apply_events_batch(ev.filter(cut), left, f"b{i}")
        else:
            right.apply(prof.filter(cut), f"rb{i}")
        assert not jv.refresh().get("skipped")
        assert not rollup.refresh().get("skipped")
    assert rollup.refresh()["skipped"], "idempotent at the top level"
    # inner join drops NULL-plan partners; NULL groups would anyway
    # need DuckDB/Spark GROUP BY NULL-key agreement — filter for a
    # deterministic cross-engine comparison
    return rollup.read().filter(F.col("r_plan").isNotNull())


_ORACLE_VIEW_CASCADE = f"""
    WITH changes AS ({_ORACLE_CDC_EVENTS}),
    lf AS (
        SELECT conv_id, text FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY conv_id, turn_idx ORDER BY ts DESC, seq DESC
            ) AS rn FROM changes
        ) WHERE rn = 1 AND op <> 'delete'
    ),
    rf AS (
        SELECT conv_id, r_plan FROM (
            SELECT conv_id, tool AS r_plan, op,
                   ROW_NUMBER() OVER (
                       PARTITION BY conv_id ORDER BY ts DESC, seq DESC
                   ) AS rn FROM changes
        ) WHERE rn = 1 AND op <> 'delete'
    )
    SELECT r_plan,
           COUNT(*) AS n_rows,
           CAST(SUM(LENGTH(text)) AS BIGINT) AS sum_len
    FROM lf JOIN rf USING (conv_id)
    WHERE r_plan IS NOT NULL
    GROUP BY r_plan
"""



def _q_cdc_snapshot_resync_final_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-snapshot RESYNC with delete detection
    (``pipeline/reconcile.snapshot_resync``): the replica is built
    from only the FIRST HALF of the change stream (a subscription that
    started late / a log with a retention gap — drift the exactly-once
    machinery cannot see), then re-synced against an authoritative
    full dump of the source (the whole-history LWW state). The
    operator emits the MINIMAL diff — upserts for missing/differing
    keys, tombstones for keys the source no longer has (the
    ``WHEN NOT MATCHED BY SOURCE THEN DELETE`` arm) — stamped at the
    snapshot watermark + 1h, and applies it through the ordinary
    exactly-once path. Runtime-asserted: the diff batch is strictly
    smaller than the table (O(drift) repair, matching
    ``verify_and_repair``'s contract but driven by a row-level source
    of truth). Final state: untouched keys keep their original
    stamps, repaired keys carry the resync stamp — exactly what the
    oracle's content-compare join expresses."""
    import datetime

    from embulk_util_json_spark.operators.lww import lww_agg
    from embulk_util_json_spark.pipeline.reconcile import snapshot_resync
    from embulk_util_json_spark.sinks.snapshot import ParquetSnapshotSink
    from embulk_util_json_spark.sources.events import parse_change_events

    work = _scratch("resync_snap_")
    changes = parse_change_events(_events_as_cdc_json(spark, sf_dir))
    b = changes.agg(
        F.min("seq").alias("lo"), F.max("seq").alias("hi"), F.max("ts").alias("mx")
    ).collect()[0]  # 1-row bound
    cut = (int(b.lo) + int(b.hi)) // 2
    sink = ParquetSnapshotSink(spark, os.path.join(work, "t"), num_buckets=8, mode="mor")
    part = changes.filter(F.col("seq") <= cut)
    for i in range(2):
        sink.apply(part.filter(F.col("seq") % 2 == i), f"b{i}")
    snapshot = (
        lww_agg(changes, ["conv_id", "turn_idx"], ["ts", "seq"])
        .filter(F.col("op") != "delete")
        .select("conv_id", "turn_idx", "role", "text", "tool")
    )
    resync_ts = b.mx + datetime.timedelta(hours=1)
    res = snapshot_resync(sink, snapshot, resync_ts, "resync")
    full_n = snapshot.count()
    assert 0 < res["change_rows"] < full_n, (res["change_rows"], full_n)
    return sink.read().select("conv_id", "turn_idx", "role", "text", "tool", "ts")


_ORACLE_SNAPSHOT_RESYNC = f"""
    WITH changes AS ({_ORACLE_CDC_EVENTS}),
    bounds AS (
        SELECT (MIN(seq) + MAX(seq)) // 2 AS cut,
               MAX(ts) + INTERVAL 1 HOUR AS rts
        FROM changes
    ),
    full_r AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY conv_id, turn_idx ORDER BY ts DESC, seq DESC
        ) AS rn FROM changes
    ),
    fullf AS (
        SELECT conv_id, turn_idx, role, text, tool
        FROM full_r WHERE rn = 1 AND op <> 'delete'
    ),
    part_r AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY conv_id, turn_idx ORDER BY ts DESC, seq DESC
        ) AS rn
        FROM changes WHERE seq <= (SELECT cut FROM bounds)
    ),
    partf AS (
        SELECT conv_id, turn_idx, role, text, tool, ts
        FROM part_r WHERE rn = 1 AND op <> 'delete'
    )
    SELECT f.conv_id, f.turn_idx, f.role, f.text, f.tool,
           CASE WHEN p.conv_id IS NOT NULL
                     AND p.role IS NOT DISTINCT FROM f.role
                     AND p.text IS NOT DISTINCT FROM f.text
                     AND p.tool IS NOT DISTINCT FROM f.tool
                THEN p.ts ELSE (SELECT rts FROM bounds) END AS ts
    FROM fullf f LEFT JOIN partf p
      ON f.conv_id = p.conv_id AND f.turn_idx = p.turn_idx
"""


def _q_cdc_checksum_repair_final_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checksum reconciliation (``pipeline/reconcile`` +
    ``sink.restore_buckets``): after a 2-batch replay + compact, one
    bucket's data files are damaged OUT OF BAND (rows dropped, text
    mangled in place — invisible to the exactly-once machinery). The
    per-bucket xor-digest audit must flag exactly that bucket, and
    the targeted restore rewrites only it from the authoritative log
    reduction — the pt-table-checksum loop. Final state = the plain
    whole-stream LWW oracle: the damage is fully healed."""
    import shutil

    from embulk_util_json_spark.operators.lww import lww_agg
    from embulk_util_json_spark.pipeline.reconcile import verify_and_repair
    from embulk_util_json_spark.sinks.snapshot import ParquetSnapshotSink
    from embulk_util_json_spark.sources.events import parse_change_events
    from embulk_util_json_spark.streaming.runner import apply_events_batch

    work = _scratch("reconcile_")
    ev = _events_as_cdc_json(spark, sf_dir)
    mid = ev.agg(F.expr("max(seq) div 2").alias("_m"))
    e = ev.crossJoin(F.broadcast(mid))
    sink = ParquetSnapshotSink(spark, os.path.join(work, "t"), num_buckets=8)
    apply_events_batch(e.filter(F.col("seq") < F.col("_m")).drop("_m"), sink, "b1")
    apply_events_batch(e.filter(F.col("seq") >= F.col("_m")).drop("_m"), sink, "b2")
    sink.compact(drop_tombstones=False)

    man = sink.current_manifest()
    victim = sorted(man["buckets"], key=int)[3]
    path = os.path.join(sink.root, man["buckets"][victim][0])
    dmg = (
        spark.read.parquet(path)
        .localCheckpoint()  # materialize BEFORE the in-place overwrite
        .filter(F.col("seq") % 5 != 0)
        .withColumn("text", F.reverse("text"))
    )
    tmp_out = os.path.join(work, "dmg")
    dmg.write.mode("overwrite").parquet(tmp_out)
    shutil.rmtree(path)
    shutil.move(tmp_out, path)

    truth = lww_agg(
        parse_change_events(ev), ["conv_id", "turn_idx"], ["ts", "seq"]
    )
    rep = verify_and_repair(sink, truth)
    assert rep["mismatched"] == [int(victim)], rep
    assert rep["repaired"] == [int(victim)]
    return sink.read().select("conv_id", "turn_idx", "role", "text", "tool", "ts")


def _q_cdc_stats_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generalized payload file-skipping (``read(where=...)`` over
    declared ``stats_cols`` footer bounds — the Iceberg lower/upper_
    bounds shape; reference anchor: R2's token-level skip,
    JsonValueParser.java:176-185, lifted to the storage layer).

    Fixture: a tenant-sharded transcripts table (tenant = user id mod
    8 = the bucket key) with a ``score`` column whose range is a
    function of the tenant — the layout where a payload predicate
    aligns with bucket chains. Three MOR applies build per-bucket
    delta chains; ``read(where=[("score", "<", 1000)])`` must (a)
    PROVABLY skip whole chains via the committed manifest bounds
    (asserted against the skip decision on real stats — chain-level
    skipping is the exactness boundary for payload predicates under
    LWW) and (b) hash-match the independent oracle: whole-stream LWW
    winners WHERE score < 1000."""
    from embulk_util_json_spark.sinks.snapshot import ParquetSnapshotSink
    from embulk_util_json_spark.sources.events import parse_change_events

    work = _scratch("wherescan_")
    changes = parse_change_events(_events_as_cdc_json(spark, sf_dir))
    uid = F.substring("conv_id", 2, 18).cast("long")
    rows = changes.select(
        F.concat(F.lit("t"), (uid % 8).cast("string")).alias("tenant"),
        "conv_id", "turn_idx", "role", "text",
        ((uid % 8) * 1000 + F.col("seq") % 500).cast("long").alias("score"),
        "ts", "op", "seq",
    )
    sink = ParquetSnapshotSink(
        spark, os.path.join(work, "t"), num_buckets=8,
        keys=["tenant", "conv_id", "turn_idx"], order_cols=["ts", "seq"],
        mode="mor", stats_cols=["score"],
    )
    for i in range(3):
        sink.apply(rows.filter(F.col("seq") % 3 == i), f"b{i}")
    m = sink.current_manifest()
    conjs = sink._where_conjuncts([("score", "<", 1000)])
    skipped = [
        b
        for b in m["buckets"]
        if sink._where_skips_chain(sink._paths_of(m, b), conjs, m, False)
    ]
    assert skipped, "tenant-sharded fixture must prove whole-chain skips"
    return sink.read(where=[("score", "<", 1000)]).select(
        "tenant", "conv_id", "turn_idx", "role", "text", "score", "ts"
    )


_ORACLE_STATS_PRUNED = f"""
    WITH changes AS ({_ORACLE_CDC_EVENTS}),
    t AS (
        SELECT *,
            't' || CAST(CAST(SUBSTR(conv_id, 2) AS BIGINT) % 8 AS VARCHAR)
                AS tenant,
            CAST((CAST(SUBSTR(conv_id, 2) AS BIGINT) % 8) * 1000
                 + seq % 500 AS BIGINT) AS score
        FROM changes
    ),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY conv_id, turn_idx ORDER BY ts DESC, seq DESC
        ) AS rn FROM t
    )
    SELECT tenant, conv_id, turn_idx, role, text, score, ts
    FROM ranked WHERE rn = 1 AND op <> 'delete' AND score < 1000
"""


def _q_cdc_type_widening_final_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TYPE-WIDENING schema evolution (``_merged_footer_schema`` +
    Spark 4 parquet widening promotions): an upstream ``ALTER COLUMN
    score int → bigint`` mid-stream. The first feed writes ``score``
    as INT; the second writes BIGINT values beyond 2^31. The narrow
    files are never rewritten — the chain read widens them IN PLACE at
    scan time (lossless: int32 ⊂ int64) — and the final state is the
    plain LWW oracle computed wide from the start. The query asserts
    both widths actually coexist on disk (evidence this exercised
    widening, not a rewrite). Reference anchor: the reference's
    number promotion knobs (JsonParserDelegate.java) lifted across
    stored history."""
    from embulk_util_json_spark.sinks.snapshot import ParquetSnapshotSink
    from embulk_util_json_spark.sources.events import parse_change_events

    work = _scratch("widen_")
    changes = parse_change_events(_events_as_cdc_json(spark, sf_dir))
    narrow = changes.filter(F.col("seq") % 3 < 2).withColumn(
        "score", (F.col("seq") % 1000).cast("int")
    )
    wide = changes.filter(F.col("seq") % 3 == 2).withColumn(
        "score", (F.lit(3_000_000_000) + F.col("seq")).cast("long")
    )
    sink = ParquetSnapshotSink(
        spark, os.path.join(work, "t"), num_buckets=8,
        keys=["conv_id", "turn_idx"], order_cols=["ts", "seq"],
        mode="mor", stats_cols=["score"],
    )
    sink.apply(narrow, "b0")
    sink.apply(wide, "b1")
    m = sink.current_manifest()
    widths = {
        f.dataType.simpleString()
        for p in sink._all_paths(m)
        for f in sink._path_schema(p).fields
        if f.name == "score"
    }
    assert widths == {"int", "bigint"}, widths
    out = sink.read().select(
        "conv_id", "turn_idx", "role", "text", "score", "ts"
    )
    assert dict(out.dtypes)["score"] == "bigint"
    return out


_ORACLE_TYPE_WIDENING = f"""
    WITH changes AS ({_ORACLE_CDC_EVENTS}),
    t AS (
        SELECT *,
            CAST(CASE WHEN seq % 3 = 2 THEN 3000000000 + seq
                      ELSE seq % 1000 END AS BIGINT) AS score
        FROM changes
    ),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY conv_id, turn_idx ORDER BY ts DESC, seq DESC
        ) AS rn FROM t
    )
    SELECT conv_id, turn_idx, role, text, score, ts
    FROM ranked WHERE rn = 1 AND op <> 'delete'
"""


def _q_cdc_column_rename_final_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COLUMN RENAME via column mapping (``rename_column``): an
    upstream ``ALTER TABLE RENAME COLUMN text → body`` mid-stream,
    applied as a METADATA-ONLY commit — physical names are frozen at
    first write, so no file is rewritten, the pre-rename feed and the
    post-rename feed land in the SAME physical column, and the final
    read surfaces the new logical name. The query asserts every data
    file on disk (before AND after the rename) still stores the
    physical name ``text`` — evidence the rename touched metadata
    only. Oracle: the plain LWW final state with the column aliased
    from the start. Reference anchor: caller-chosen capture output
    names (CapturingPointers.java builder) lifted over stored
    history."""
    from embulk_util_json_spark.sinks.snapshot import ParquetSnapshotSink
    from embulk_util_json_spark.sources.events import parse_change_events

    work = _scratch("rename_")
    changes = parse_change_events(_events_as_cdc_json(spark, sf_dir))
    first = changes.filter(F.col("seq") % 3 < 2)
    second = changes.filter(F.col("seq") % 3 == 2).withColumnRenamed(
        "text", "body"
    )
    sink = ParquetSnapshotSink(
        spark, os.path.join(work, "t"), num_buckets=8,
        keys=["conv_id", "turn_idx"], order_cols=["ts", "seq"],
        mode="mor",
    )
    sink.apply(first, "b0")
    sink.rename_column("text", "body")
    sink.apply(second, "b1")
    m = sink.current_manifest()
    physical = {
        f.name
        for p in sink._all_paths(m)
        for f in sink._path_schema(p).fields
        if f.name in ("text", "body")
    }
    assert physical == {"text"}, physical
    out = sink.read().select("conv_id", "turn_idx", "role", "body", "ts")
    assert "text" not in out.columns
    return out


_ORACLE_COLUMN_RENAME = f"""
    WITH changes AS ({_ORACLE_CDC_EVENTS}),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY conv_id, turn_idx ORDER BY ts DESC, seq DESC
        ) AS rn FROM changes
    )
    SELECT conv_id, turn_idx, role, text AS body, ts
    FROM ranked WHERE rn = 1 AND op <> 'delete'
"""


def _q_cdc_add_column_default_final_state(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ALTER TABLE ADD COLUMN ... DEFAULT as a METADATA-ONLY commit
    (``add_column``): an upstream ``ADD COLUMN score BIGINT DEFAULT 7``
    mid-stream. Files written before the ADD physically lack the
    column — absence in the file IS the encoding — and read as the
    default (Iceberg initial-default / SQL existence-default
    semantics); files written after keep stored values. No file is
    rewritten: the query asserts every pre-ADD data file still lacks
    the physical column. Oracle: LWW winners with
    ``COALESCE(stored, 7)`` — winners that predate the ADD read 7.
    Reference anchor: capture-spec promotion adds output columns
    declaratively (CapturingPointers.java builder); this lifts ADD
    over stored history."""
    from embulk_util_json_spark.sinks.snapshot import ParquetSnapshotSink
    from embulk_util_json_spark.sources.events import parse_change_events

    work = _scratch("addcol_")
    changes = parse_change_events(_events_as_cdc_json(spark, sf_dir))
    first = changes.filter(F.col("seq") % 3 < 2)
    second = changes.filter(F.col("seq") % 3 == 2).withColumn(
        "score", (F.col("seq") % 1000).cast("long")
    )
    sink = ParquetSnapshotSink(
        spark, os.path.join(work, "t"), num_buckets=8,
        keys=["conv_id", "turn_idx"], order_cols=["ts", "seq"],
        mode="mor",
    )
    sink.apply(first, "b0")
    pre_paths = set(sink._all_paths(sink.current_manifest()))
    sink.add_column("score", "bigint", default=7)
    sink.apply(second, "b1")
    # metadata-only: the ADD rewrote nothing, pre-ADD footers lack it
    assert all(
        "score" not in {f.name for f in sink._path_schema(p).fields}
        for p in pre_paths
    )
    out = sink.read().select(
        "conv_id", "turn_idx", "role", "text", "score", "ts"
    )
    assert dict(out.dtypes)["score"] == "bigint"
    return out


_ORACLE_ADD_COLUMN_DEFAULT = f"""
    WITH changes AS ({_ORACLE_CDC_EVENTS}),
    t AS (
        SELECT *,
            CASE WHEN seq % 3 = 2 THEN CAST(seq % 1000 AS BIGINT) END
                AS score
        FROM changes
    ),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY conv_id, turn_idx ORDER BY ts DESC, seq DESC
        ) AS rn FROM t
    )
    SELECT conv_id, turn_idx, role, text,
           COALESCE(score, CAST(7 AS BIGINT)) AS score, ts
    FROM ranked WHERE rn = 1 AND op <> 'delete'
"""


def _q_cdc_drop_column_final_state(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ALTER TABLE DROP COLUMN as a METADATA-ONLY commit
    (``drop_column``): an upstream ``DROP COLUMN tool`` mid-stream.
    No file is rewritten — the physical column stays in pre-drop
    files (asserted) but is hidden from every read and feed; later
    batches still carrying it are refused (pytest-pinned), so the
    post-drop feed arrives without it. Oracle: the plain LWW final
    state minus the column. A re-add would get a FRESH physical name
    via the column mapping, so the retired bytes can never resurface
    (pytest-pinned in test_alter_schema). Reference anchor: the
    capture spec selects which pointers surface as columns
    (CapturingPointers.java); this lifts de-selection over stored
    history."""
    from embulk_util_json_spark.sinks.snapshot import ParquetSnapshotSink
    from embulk_util_json_spark.sources.events import parse_change_events

    work = _scratch("dropcol_")
    changes = parse_change_events(_events_as_cdc_json(spark, sf_dir))
    first = changes.filter(F.col("seq") % 3 < 2)
    second = changes.filter(F.col("seq") % 3 == 2).drop("tool")
    sink = ParquetSnapshotSink(
        spark, os.path.join(work, "t"), num_buckets=8,
        keys=["conv_id", "turn_idx"], order_cols=["ts", "seq"],
        mode="mor",
    )
    sink.apply(first, "b0")
    sink.drop_column("tool")
    sink.apply(second, "b1")
    # metadata-only: pre-drop files still physically carry the column
    m = sink.current_manifest()
    assert any(
        "tool" in {f.name for f in sink._path_schema(p).fields}
        for p in sink._all_paths(m)
    )
    out = sink.read()
    assert "tool" not in out.columns
    return out.select("conv_id", "turn_idx", "role", "text", "ts")


_ORACLE_DROP_COLUMN = f"""
    WITH changes AS ({_ORACLE_CDC_EVENTS}),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY conv_id, turn_idx ORDER BY ts DESC, seq DESC
        ) AS rn FROM changes
    )
    SELECT conv_id, turn_idx, role, text, ts
    FROM ranked WHERE rn = 1 AND op <> 'delete'
"""


def _q_cdc_bloom_skipped_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter equality file skipping (``analyze_blooms`` +
    ``read(where=[(col,'=',v)])``): the pruning source for
    HIGH-CARDINALITY SCATTERED columns where min/max bounds refute
    nothing — every chain element's ``text`` range overlaps every
    probe (the stream interleaves seq mod 3 into each element), so the
    ``cdc_stats_pruned_scan`` mechanism is structurally blind here.
    ``analyze_blooms`` (one Spark job over unbloomed elements,
    metadata-only commit — apply keeps its 2-job floor) records
    per-element membership; the point lookup then opens only chains
    whose bloom admits the value. The query asserts the bloom refuted
    STRICTLY more chains than bounds alone, then hash-matches the
    oracle: LWW winners WHERE text equals the winner text of a fixed
    probe key, both sides deriving the probe via the same subquery.
    Reference anchor: JsonValueParser.java:176-185 token skipping,
    lifted to Iceberg-style write-path bloom metadata."""
    from embulk_util_json_spark.sinks.snapshot import ParquetSnapshotSink
    from embulk_util_json_spark.streaming.runner import apply_events_batch

    work = _scratch("bloomskip_")
    ev = _events_as_cdc_json(spark, sf_dir)
    sink = ParquetSnapshotSink(
        spark, os.path.join(work, "t"), num_buckets=8, mode="mor",
        stats_cols=["text"], compact_every=64,
    )
    for i in range(3):
        apply_events_batch(
            ev.filter(F.col("seq") % 3 == i), sink, f"b{i}"
        )
    sink.analyze_blooms()

    # probe = the winner text of conv 'u7' at its smallest live turn
    # (the oracle derives the same value with a scalar subquery)
    k = (
        sink.read(key_eq={"conv_id": "u7"})
        .orderBy("turn_idx")
        .select("text")
        .take(1)
    )
    probe = k[0]["text"] if k else "__absent__"
    where = [("text", "=", probe)]

    m = sink.current_manifest()
    conjs = sink._where_conjuncts(where)
    pos = sink._bloom_probe_positions(m, where, conjs)

    def _skipped(bloom_pos):
        return {
            b
            for b in m["buckets"]
            if sink._where_skips_chain(
                sink._paths_of(m, b), conjs, m, False, bloom_pos
            )
        }

    bounds_only, with_bloom = _skipped(None), _skipped(pos)
    assert bounds_only <= with_bloom
    if len(m["buckets"]) > 1 and k:
        assert len(with_bloom) > len(bounds_only), (
            f"blooms must refute chains bounds cannot "
            f"({len(bounds_only)} -> {len(with_bloom)} of {len(m['buckets'])})"
        )
    return sink.read(where=where).select(
        "conv_id", "turn_idx", "role", "text", "tool", "ts"
    )


_ORACLE_BLOOM_LOOKUP = f"""
    WITH changes AS ({_ORACLE_CDC_EVENTS}),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY conv_id, turn_idx ORDER BY ts DESC, seq DESC
        ) AS rn FROM changes
    ),
    win AS (
        SELECT conv_id, turn_idx, role, text, tool, ts
        FROM ranked WHERE rn = 1 AND op <> 'delete'
    ),
    probe AS (
        SELECT COALESCE(MAX(text), '__absent__') AS t
        FROM win
        WHERE conv_id = 'u7'
          AND turn_idx = (
              SELECT MIN(turn_idx) FROM win WHERE conv_id = 'u7'
          )
    )
    SELECT w.conv_id, w.turn_idx, w.role, w.text, w.tool, w.ts
    FROM win w, probe p WHERE w.text = p.t
"""


def _q_cdc_mirror_final_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Downstream mirror maintenance: the change stream replays into a
    SOURCE sink in 3 interleaved micro-batches with ``sync_mirror``
    interleaved at a lagged cadence (after batch 1, then after batch
    3 — one sync window covering two applies), and the MIRROR's state
    is returned. Exactly-once with no sidecar state: the sync batch id
    encodes the (from, to) version window and the mirror's own batch
    log is the high-water mark. The feed is O(net changes) per window
    (``read_changes`` candidates = files added in the window), so
    mirror lag cost is bounded by sync cadence, not table size — the
    read-replica / DR-copy path at 10^10 events."""
    from embulk_util_json_spark.sinks.snapshot import ParquetSnapshotSink
    from embulk_util_json_spark.sources.events import parse_change_events
    from embulk_util_json_spark.streaming.mirror import sync_mirror

    changes = parse_change_events(_events_as_cdc_json(spark, sf_dir)).select(
        "seq", "op", "ts", "conv_id", "turn_idx", "role", "text", "tool"
    )
    work = _scratch("mirror_q_")
    src = ParquetSnapshotSink(
        spark, os.path.join(work, "src"), num_buckets=8, mode="mor"
    )
    dst = ParquetSnapshotSink(
        spark, os.path.join(work, "dst"), num_buckets=8, mode="mor"
    )
    for i in range(3):
        src.apply(changes.filter(F.col("seq") % 3 == i), f"b{i}")
        if i != 1:  # lagged cadence: window 2 covers batches 1+2
            sync_mirror(src, dst)
    return dst.read().select("conv_id", "turn_idx", "role", "text", "tool", "ts")


def _q_cdc_projected_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-pruned table read: replay into the sink, then read ONLY
    (keys, text) — the projection is applied BEFORE the LWW merge
    (Catalyst cannot prune through ``max_by(struct(<all payload>))``),
    so the parquet scan's ReadSchema omits role/tool/ts entirely
    (plan-asserted in tests). At 100 TB this is the difference between
    scanning 2 columns and scanning the table."""
    from embulk_util_json_spark.sinks.snapshot import ParquetSnapshotSink
    from embulk_util_json_spark.sources.events import parse_change_events

    changes = parse_change_events(_events_as_cdc_json(spark, sf_dir)).select(
        "seq", "op", "ts", "conv_id", "turn_idx", "role", "text", "tool"
    )
    work = _scratch("proj_read_")
    sink = ParquetSnapshotSink(
        spark, os.path.join(work, "t"), num_buckets=8, mode="mor"
    )
    for i in range(2):
        sink.apply(changes.filter(F.col("seq") % 2 == i), f"b{i}")
    return sink.read(columns=["text"])


_ORACLE_CDC_PROJECTED = f"""
    WITH changes AS ({_ORACLE_CDC_EVENTS}),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY conv_id, turn_idx ORDER BY ts DESC, seq DESC
        ) AS rn
        FROM changes
    )
    SELECT conv_id, turn_idx, text
    FROM ranked WHERE rn = 1 AND op <> 'delete'
"""


def _q_cdc_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental change feed (the "CDC out" twin of apply): replay
    the stream in 2 seq-range micro-batches, then read the NET
    row-level changes between the version after batch 1 and the final
    version via the manifest log — O(changes written in between), not
    a snapshot diff. The oracle recomputes the same net-change set
    relationally: final winners that beat (or are new to) the
    batch-1-only state, tombstones included."""
    from embulk_util_json_spark.sinks.snapshot import ParquetSnapshotSink
    from embulk_util_json_spark.sources.events import parse_change_events

    work = _scratch("change_feed_")
    events = _events_as_cdc_json(spark, sf_dir)
    b = events.agg(F.min("seq").alias("lo"), F.max("seq").alias("hi")).collect()[0]
    cut = int(b.lo) + (int(b.hi) - int(b.lo)) // 2 + 1
    sink = ParquetSnapshotSink(spark, os.path.join(work, "tbl"), num_buckets=8)
    sink.apply(parse_change_events(events.filter(F.col("seq") < cut)), "b0")
    v1 = sink.current_version()
    sink.apply(parse_change_events(events.filter(F.col("seq") >= cut)), "b1")
    return sink.read_changes(from_version=v1).select(
        "conv_id", "turn_idx", "op", "role", "text", "tool", "ts", "seq"
    )


_ORACLE_CHANGE_FEED = f"""
    WITH changes AS ({_ORACLE_CDC_EVENTS}),
    b AS (
        SELECT MIN(seq) + (MAX(seq) - MIN(seq)) // 2 + 1 AS cut FROM changes
    ),
    s1 AS (
        SELECT * FROM (
            SELECT c.*, ROW_NUMBER() OVER (
                PARTITION BY conv_id, turn_idx ORDER BY ts DESC, seq DESC
            ) AS rn
            FROM changes c, b WHERE c.seq < b.cut
        ) WHERE rn = 1
    ),
    f AS (
        SELECT * FROM (
            SELECT c.*, ROW_NUMBER() OVER (
                PARTITION BY conv_id, turn_idx ORDER BY ts DESC, seq DESC
            ) AS rn
            FROM changes c
        ) WHERE rn = 1
    )
    SELECT f.conv_id, f.turn_idx, f.op, f.role, f.text, f.tool, f.ts, f.seq
    FROM f LEFT JOIN s1
      ON f.conv_id = s1.conv_id AND f.turn_idx = s1.turn_idx
    WHERE s1.conv_id IS NULL OR (f.ts, f.seq) > (s1.ts, s1.seq)
"""


def _q_cdc_change_feed_debezium_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-OUT in a standard wire format: the same 2-batch incremental
    change feed as ``cdc_change_feed``, exported as Debezium envelopes
    (``to_native_json`` → ``to_debezium_json``) and parsed BACK through
    the Debezium adapter. Hash-equality against the change-feed oracle
    proves the export loop lossless end-to-end — a downstream system
    consuming the published feed sees exactly the net changes
    (µs timestamps, tombstones, payloads intact)."""
    from embulk_util_json_spark.sinks.snapshot import ParquetSnapshotSink
    from embulk_util_json_spark.sources.debezium import (
        parse_debezium_events,
        to_debezium_json,
    )
    from embulk_util_json_spark.sources.events import (
        parse_change_events,
        to_native_json,
    )

    work = _scratch("feed_out_")
    events = _events_as_cdc_json(spark, sf_dir)
    b = events.agg(F.min("seq").alias("lo"), F.max("seq").alias("hi")).collect()[0]
    cut = int(b.lo) + (int(b.hi) - int(b.lo)) // 2 + 1
    sink = ParquetSnapshotSink(spark, os.path.join(work, "tbl"), num_buckets=8)
    sink.apply(parse_change_events(events.filter(F.col("seq") < cut)), "b0")
    v1 = sink.current_version()
    sink.apply(parse_change_events(events.filter(F.col("seq") >= cut)), "b1")
    feed = sink.read_changes(from_version=v1).select(
        "conv_id", "turn_idx", "op", "role", "text", "tool", "ts", "seq"
    )
    wire = to_debezium_json(to_native_json(feed))
    return parse_debezium_events(wire).select(
        "conv_id", "turn_idx", "op", "role", "text", "tool", "ts", "seq"
    )


def _q_cdc_replay_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay-equality checksum: keyed full-outer diff of the CDC
    final state against a deterministically perturbed copy (dropped
    turns → only_left, injected turns → only_right, edited text →
    mismatch) — the distributed form of the per-turn text-equality
    invariant. One co-partitioned shuffle per side, codegen'd
    null-safe struct compare, map-side-combined status counts."""
    from embulk_util_json_spark.operators.diff import table_diff_summary

    # the replay subtree feeds BOTH diff sides (left + perturbed +
    # injected): localCheckpoint evaluates it once and truncates the
    # lineage, instead of replaying the parse+LWW once per branch
    final = _final_state(spark, sf_dir).localCheckpoint()
    perturbed = final.filter(F.col("turn_idx") < 24).withColumn(
        "text",
        F.when(
            F.col("turn_idx") == 0, F.concat(F.col("text"), F.lit("!"))
        ).otherwise(F.col("text")),
    )
    injected = final.filter(F.col("turn_idx") == 1).withColumn(
        "turn_idx", F.lit(99)
    )
    right = perturbed.unionByName(injected)
    return table_diff_summary(
        final, right, ["conv_id", "turn_idx"], ["role", "text", "tool", "ts"]
    )


def _cdc_replay_diff_sql() -> str:
    from embulk_util_json_spark.operators.diff import table_diff_summary_sql

    right = f"""
        WITH f AS ({_ORACLE_CDC_FINAL})
        SELECT conv_id, turn_idx, role,
               CASE WHEN turn_idx = 0 THEN text || '!' ELSE text END AS text,
               tool, ts
        FROM f WHERE turn_idx < 24
        UNION ALL
        SELECT conv_id, 99 AS turn_idx, role, text, tool, ts
        FROM f WHERE turn_idx = 1
    """
    return table_diff_summary_sql(
        _ORACLE_CDC_FINAL,
        right,
        ["conv_id", "turn_idx"],
        ["role", "text", "tool", "ts"],
    )


def _q_cdc_constraint_enforced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHECK constraints (``sinks/snapshot.add_constraint``): the lower
    half of the stream replays clean, then ``text IS NOT NULL`` is
    added (validated against existing state in one scan). The upper
    half is submitted with text NULLed on ``turn_idx % 7 = 0`` — the
    batch must be refused WHOLE pre-staging (version unchanged, batch
    id not consumed), then the producer resubmits the same batch id
    with those rows redacted and the apply lands exactly-once. Oracle
    = the LWW final state over the stream with the same rows CASE-
    redacted (the refused attempt nets out to nothing)."""
    from embulk_util_json_spark.sinks.snapshot import ParquetSnapshotSink
    from embulk_util_json_spark.sources.events import parse_change_events

    work = _scratch("constraint_")
    changes = parse_change_events(_events_as_cdc_json(spark, sf_dir))
    b = changes.agg(F.min("seq").alias("lo"), F.max("seq").alias("hi")).collect()[0]
    mid = (int(b.lo) + int(b.hi)) // 2
    sink = ParquetSnapshotSink(
        spark, os.path.join(work, "t"), num_buckets=8, mode="mor"
    )
    sink.apply(changes.filter(F.col("seq") <= mid), "b0")
    sink.add_constraint("text_present", "text IS NOT NULL")
    upper = changes.filter(F.col("seq") > mid)
    bad = upper.withColumn(
        "text",
        F.when(F.col("turn_idx") % 7 == 0, F.lit(None).cast("string"))
        .otherwise(F.col("text")),
    )
    v0 = sink.current_version()
    try:
        sink.apply(bad, "b1")
        raise AssertionError("violating batch must be refused")
    except ValueError as e:
        assert "text_present" in str(e)
    assert sink.current_version() == v0, "refusal must not advance the version"
    assert "b1" not in sink.current_manifest()["batch_ids"]
    fixed = upper.withColumn(
        "text",
        F.when(F.col("turn_idx") % 7 == 0, F.lit("REDACTED"))
        .otherwise(F.col("text")),
    )
    r = sink.apply(fixed, "b1")
    assert not r.get("skipped"), "fixed resubmit under the same id must land"
    return sink.read().select("conv_id", "turn_idx", "role", "text", "tool", "ts")


_ORACLE_CONSTRAINT = f"""
    WITH changes AS ({_ORACLE_CDC_EVENTS}),
    bounds AS (SELECT (MIN(seq) + MAX(seq)) // 2 AS mid FROM changes),
    redacted AS (
        SELECT seq, op, ts, conv_id, turn_idx, role,
            CASE WHEN seq > (SELECT mid FROM bounds) AND turn_idx % 7 = 0
                 THEN 'REDACTED' ELSE text END AS text,
            tool
        FROM changes
    ),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY conv_id, turn_idx ORDER BY ts DESC, seq DESC
        ) AS rn
        FROM redacted
    )
    SELECT conv_id, turn_idx, role, text, tool, ts
    FROM ranked WHERE rn = 1 AND op <> 'delete'
"""


def _q_cdc_asof_ts_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timestamp time travel (``read(at_ts=...)`` / ``version_at_ts``,
    the FOR SYSTEM_TIME AS OF surface): three seq-sliced applies, then
    a read AS OF an instant strictly between the first and second
    commit stamps — it must see exactly the first batch's LWW state.
    Stamps come from the manifests themselves, so the result is
    deterministic whatever the wall clock did. Oracle = the LWW state
    of the first seq third."""
    from embulk_util_json_spark.sinks.snapshot import ParquetSnapshotSink
    from embulk_util_json_spark.sources.events import parse_change_events

    work = _scratch("asofts_")
    changes = parse_change_events(_events_as_cdc_json(spark, sf_dir))
    b = changes.agg(F.min("seq").alias("lo"), F.max("seq").alias("hi")).collect()[0]
    lo, hi = int(b.lo), int(b.hi)
    span = hi - lo + 1
    c1, c2 = lo + span // 3, lo + (2 * span) // 3
    sink = ParquetSnapshotSink(
        spark, os.path.join(work, "t"), num_buckets=8, mode="mor"
    )
    sink.apply(changes.filter(F.col("seq") < c1), "b0")
    sink.apply(changes.filter((F.col("seq") >= c1) & (F.col("seq") < c2)), "b1")
    sink.apply(changes.filter(F.col("seq") >= c2), "b2")
    s1 = float(sink.manifest_at(1)["committed_at"])
    s2 = float(sink.manifest_at(2)["committed_at"])
    mid_ts = (s1 + s2) / 2
    assert sink.version_at_ts(mid_ts) == 1
    assert sink.version_at_ts(s2 + 3600.0) == 3
    return sink.read(at_ts=mid_ts).select(
        "conv_id", "turn_idx", "role", "text", "tool", "ts"
    )


_ORACLE_ASOF_TS = f"""
    WITH changes AS ({_ORACLE_CDC_EVENTS}),
    bounds AS (
        SELECT MIN(seq) AS lo,
               MIN(seq) + (MAX(seq) - MIN(seq) + 1) // 3 AS c1
        FROM changes
    ),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY conv_id, turn_idx ORDER BY ts DESC, seq DESC
        ) AS rn
        FROM changes WHERE seq < (SELECT c1 FROM bounds)
    )
    SELECT conv_id, turn_idx, role, text, tool, ts
    FROM ranked WHERE rn = 1 AND op <> 'delete'
"""


def _q_cdc_tagged_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot tags (Iceberg tag refs): tag the first commit, keep
    writing, then VACUUM with keep_versions=1 — the tagged version
    must be pinned outside the keep window (its untagged neighbor is
    expired, runtime-asserted) and ``read(at_tag=...)`` must still
    reproduce the first batch's exact LWW state. Oracle = the LWW
    state of the first seq third (same content contract as the as-of
    read: both are time travel to version 1)."""
    from embulk_util_json_spark.sinks.snapshot import ParquetSnapshotSink
    from embulk_util_json_spark.sources.events import parse_change_events

    work = _scratch("tagread_")
    changes = parse_change_events(_events_as_cdc_json(spark, sf_dir))
    b = changes.agg(F.min("seq").alias("lo"), F.max("seq").alias("hi")).collect()[0]
    lo, hi = int(b.lo), int(b.hi)
    span = hi - lo + 1
    c1, c2 = lo + span // 3, lo + (2 * span) // 3
    sink = ParquetSnapshotSink(
        spark, os.path.join(work, "t"), num_buckets=8, mode="mor"
    )
    sink.apply(changes.filter(F.col("seq") < c1), "b0")
    sink.create_tag("trained-on")
    sink.apply(changes.filter((F.col("seq") >= c1) & (F.col("seq") < c2)), "b1")
    sink.apply(changes.filter(F.col("seq") >= c2), "b2")
    r = sink.vacuum(keep_versions=1, protect_cursors=False)
    assert r["removed_versions"] == 1, r  # v2 expired; tagged v1 pinned
    assert [s.version for s in sink.snapshots().collect()] == [1, 3]
    return sink.read(at_tag="trained-on").select(
        "conv_id", "turn_idx", "role", "text", "tool", "ts"
    )


def _q_cdc_row_lineage_final(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row lineage (``track_lineage=True``, Delta row tracking made
    explicit): 3 seq-sliced applies, each row stamped with its writer
    batch id; the final LWW winner must carry exactly the batch whose
    seq slice contains the winning event — recomputable relationally,
    so the oracle derives ``_ingest_batch`` from the winner's seq.
    A mid-stream compact() pins that provenance survives rewrites."""
    from embulk_util_json_spark.sinks.snapshot import ParquetSnapshotSink
    from embulk_util_json_spark.sources.events import parse_change_events

    work = _scratch("rowlin_")
    changes = parse_change_events(_events_as_cdc_json(spark, sf_dir))
    b = changes.agg(F.min("seq").alias("lo"), F.max("seq").alias("hi")).collect()[0]
    lo, hi = int(b.lo), int(b.hi)
    span = hi - lo + 1
    c1, c2 = lo + span // 3, lo + (2 * span) // 3
    sink = ParquetSnapshotSink(
        spark, os.path.join(work, "t"), num_buckets=8, mode="mor",
        track_lineage=True,
    )
    sink.apply(changes.filter(F.col("seq") < c1), "b0")
    sink.apply(changes.filter((F.col("seq") >= c1) & (F.col("seq") < c2)), "b1")
    sink.compact()  # provenance must survive the rewrite
    sink.apply(changes.filter(F.col("seq") >= c2), "b2")
    return sink.read().select(
        "conv_id", "turn_idx", "role", "text", "tool", "ts", "_ingest_batch"
    )


_ORACLE_ROW_LINEAGE = f"""
    WITH changes AS ({_ORACLE_CDC_EVENTS}),
    bounds AS (
        SELECT MIN(seq) AS lo,
               MIN(seq) + (MAX(seq) - MIN(seq) + 1) // 3 AS c1,
               MIN(seq) + (2 * (MAX(seq) - MIN(seq) + 1)) // 3 AS c2
        FROM changes
    ),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY conv_id, turn_idx ORDER BY ts DESC, seq DESC
        ) AS rn
        FROM changes
    )
    SELECT conv_id, turn_idx, role, text, tool, ts,
           CASE WHEN seq < (SELECT c1 FROM bounds) THEN 'b0'
                WHEN seq < (SELECT c2 FROM bounds) THEN 'b1'
                ELSE 'b2' END AS _ingest_batch
    FROM ranked WHERE rn = 1 AND op <> 'delete'
"""


def _q_cdc_changes_since_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wall-clock change-feed window (``read_changes(since_ts=...)``,
    the Delta CDF ``startingTimestamp`` shape): the same 2-batch replay
    as ``cdc_change_feed``, but the feed is anchored at an INSTANT
    strictly between the two commit stamps instead of a version number.
    Timestamp resolution must pick exactly the version-1 anchor, so the
    feed content equals the version-window feed and the change-feed
    oracle applies verbatim. Stamps come from the manifests themselves
    — deterministic whatever the wall clock did."""
    from embulk_util_json_spark.sinks.snapshot import ParquetSnapshotSink
    from embulk_util_json_spark.sources.events import parse_change_events

    work = _scratch("changes_ts_")
    events = _events_as_cdc_json(spark, sf_dir)
    b = events.agg(F.min("seq").alias("lo"), F.max("seq").alias("hi")).collect()[0]
    cut = int(b.lo) + (int(b.hi) - int(b.lo)) // 2 + 1
    sink = ParquetSnapshotSink(spark, os.path.join(work, "tbl"), num_buckets=8)
    sink.apply(parse_change_events(events.filter(F.col("seq") < cut)), "b0")
    sink.apply(parse_change_events(events.filter(F.col("seq") >= cut)), "b1")
    s1 = float(sink.manifest_at(1)["committed_at"])
    s2 = float(sink.manifest_at(2)["committed_at"])
    assert s2 > s1, "commits are Spark jobs; stamps cannot coincide"
    return sink.read_changes(since_ts=(s1 + s2) / 2).select(
        "conv_id", "turn_idx", "op", "role", "text", "tool", "ts", "seq"
    )


def _q_cdc_orphan_cleanup_final_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orphan-file cleanup (``remove_orphans``, the Iceberg
    ``remove_orphan_files`` analogue): after a 2-batch replay, a
    never-referenced staging directory — the exact shape a losing OCC
    attempt leaves behind — is planted and reclaimed WITHOUT expiring
    any snapshot. Graded result: the final table, which must be
    bit-identical to the plain replay oracle (cleanup touched only
    garbage); runtime asserts pin that the orphan actually went and
    that every committed version survived."""
    from embulk_util_json_spark.sinks.snapshot import ParquetSnapshotSink
    from embulk_util_json_spark.sources.events import parse_change_events

    work = _scratch("orphans_")
    events = _events_as_cdc_json(spark, sf_dir)
    b = events.agg(F.min("seq").alias("lo"), F.max("seq").alias("hi")).collect()[0]
    cut = int(b.lo) + (int(b.hi) - int(b.lo)) // 2 + 1
    sink = ParquetSnapshotSink(
        spark, os.path.join(work, "t"), num_buckets=8, mode="mor"
    )
    sink.apply(parse_change_events(events.filter(F.col("seq") < cut)), "b0")
    sink.apply(parse_change_events(events.filter(F.col("seq") >= cut)), "b1")
    orphan = os.path.join(sink.root, "data", "v99999999-deadbeef", "_bucket=0")
    os.makedirs(orphan, exist_ok=True)
    with open(os.path.join(orphan, "part-00000.parquet"), "w") as fh:
        fh.write("garbage")
    r = sink.remove_orphans(grace_seconds=0.0)
    assert r["removed_dirs"] == 1, r
    assert not os.path.exists(os.path.dirname(orphan))
    assert [s.version for s in sink.snapshots().collect()] == [1, 2]
    return sink.read().select("conv_id", "turn_idx", "role", "text", "tool", "ts")


def _q_cdc_shallow_clone_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shallow clone (``clone_to``, the Delta CLONE shape): after 2 of
    3 seq-thirds land, the table is cloned to a new root — METADATA
    ONLY, zero data bytes copied (runtime-asserted) — then the two
    tables diverge: the source takes the whole third batch, the clone
    only its even-seq rows. Graded result: the CLONE's final state,
    which must equal the LWW fold of batches 1+2 plus the even-seq
    slice of batch 3 — provably independent of the source's
    post-clone write. The source-side pin tag (vacuum protection for
    the zero-copy references) is asserted present."""
    from embulk_util_json_spark.sinks.snapshot import ParquetSnapshotSink
    from embulk_util_json_spark.sources.events import parse_change_events
    import glob as _glob

    work = _scratch("clone_")
    changes = parse_change_events(_events_as_cdc_json(spark, sf_dir))
    b = changes.agg(F.min("seq").alias("lo"), F.max("seq").alias("hi")).collect()[0]
    lo, hi = int(b.lo), int(b.hi)
    span = hi - lo + 1
    c1, c2 = lo + span // 3, lo + (2 * span) // 3
    src = ParquetSnapshotSink(
        spark, os.path.join(work, "src"), num_buckets=8, mode="mor"
    )
    src.apply(changes.filter(F.col("seq") < c1), "b0")
    src.apply(changes.filter((F.col("seq") >= c1) & (F.col("seq") < c2)), "b1")
    clone = src.clone_to(os.path.join(work, "clone"))
    assert (
        _glob.glob(os.path.join(work, "clone", "data", "**", "*.parquet"), recursive=True)
        == []
    ), "shallow clone must copy zero data files"
    assert any(t.startswith("clone-") for t in src.tags())
    src.apply(changes.filter(F.col("seq") >= c2), "b2")  # invisible to clone
    clone.apply(
        changes.filter((F.col("seq") >= c2) & (F.col("seq") % 2 == 0)), "b2-even"
    )
    return clone.read().select("conv_id", "turn_idx", "role", "text", "tool", "ts")


_ORACLE_SHALLOW_CLONE = f"""
    WITH changes AS ({_ORACLE_CDC_EVENTS}),
    bounds AS (
        SELECT MIN(seq) + (2 * (MAX(seq) - MIN(seq) + 1)) // 3 AS c2
        FROM changes
    ),
    kept AS (
        SELECT * FROM changes
        WHERE seq < (SELECT c2 FROM bounds) OR seq % 2 = 0
    ),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY conv_id, turn_idx ORDER BY ts DESC, seq DESC
        ) AS rn
        FROM kept
    )
    SELECT conv_id, turn_idx, role, text, tool, ts
    FROM ranked WHERE rn = 1 AND op <> 'delete'
"""


def _q_cdc_cherrypick_final_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-commit cherry-pick (``cherrypick_from``, the Iceberg
    ``cherrypick_snapshot`` analogue): a sibling table replays all 3
    seq-thirds (3 commits); the target holds only the first and picks
    the THIRD commit alone — its final state must equal the LWW fold
    of thirds 1 and 3, with the middle third never present. Pick
    idempotency (derived batch id) is runtime-asserted."""
    from embulk_util_json_spark.sinks.snapshot import ParquetSnapshotSink
    from embulk_util_json_spark.sources.events import parse_change_events

    work = _scratch("cherry_")
    changes = parse_change_events(_events_as_cdc_json(spark, sf_dir))
    b = changes.agg(F.min("seq").alias("lo"), F.max("seq").alias("hi")).collect()[0]
    lo, hi = int(b.lo), int(b.hi)
    span = hi - lo + 1
    c1, c2 = lo + span // 3, lo + (2 * span) // 3
    donor = ParquetSnapshotSink(
        spark, os.path.join(work, "donor"), num_buckets=8, mode="mor"
    )
    donor.apply(changes.filter(F.col("seq") < c1), "b0")
    donor.apply(changes.filter((F.col("seq") >= c1) & (F.col("seq") < c2)), "b1")
    donor.apply(changes.filter(F.col("seq") >= c2), "b2")
    target = ParquetSnapshotSink(
        spark, os.path.join(work, "t"), num_buckets=8, mode="mor"
    )
    target.apply(changes.filter(F.col("seq") < c1), "b0")
    r = target.cherrypick_from(donor, 3)  # ONLY b2's commit
    assert not r.get("skipped"), r
    assert target.cherrypick_from(donor, 3)["skipped"]
    return target.read().select("conv_id", "turn_idx", "role", "text", "tool", "ts")


_ORACLE_CHERRYPICK = f"""
    WITH changes AS ({_ORACLE_CDC_EVENTS}),
    bounds AS (
        SELECT MIN(seq) + (MAX(seq) - MIN(seq) + 1) // 3 AS c1,
               MIN(seq) + (2 * (MAX(seq) - MIN(seq) + 1)) // 3 AS c2
        FROM changes
    ),
    kept AS (
        SELECT * FROM changes
        WHERE seq < (SELECT c1 FROM bounds) OR seq >= (SELECT c2 FROM bounds)
    ),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY conv_id, turn_idx ORDER BY ts DESC, seq DESC
        ) AS rn
        FROM kept
    )
    SELECT conv_id, turn_idx, role, text, tool, ts
    FROM ranked WHERE rn = 1 AND op <> 'delete'
"""


def _q_cdc_bucketed_export_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed warehouse export (``export_bucketed``) + the payoff it
    buys: the transcripts table and a conversation-level dimension
    (same stream keyed by conv_id alone = latest event per conv) are
    exported as Spark bucketed tables with the SAME bucket count, then
    joined on conv_id — and the executed plan is runtime-asserted to
    contain a SortMergeJoin with ZERO Exchange nodes: both sides read
    pre-bucketed, so a 100 TB feature join pays no shuffle at all.
    Values are oracle-checked against the two-level LWW join."""
    import uuid as _uuid

    from embulk_util_json_spark.sinks.snapshot import ParquetSnapshotSink
    from embulk_util_json_spark.sources.events import parse_change_events

    work = _scratch("bexp_")
    changes = parse_change_events(_events_as_cdc_json(spark, sf_dir))
    turns = ParquetSnapshotSink(
        spark, os.path.join(work, "turns"), num_buckets=8, mode="mor"
    )
    turns.apply(changes, "b0")
    conv = ParquetSnapshotSink(
        spark, os.path.join(work, "conv"), num_buckets=8, keys=["conv_id"], mode="mor"
    )
    conv.apply(changes, "b0")
    tag = _uuid.uuid4().hex[:8]
    ta = turns.export_bucketed(f"bexp_turns_{tag}", os.path.join(work, "exp_t"))
    tb = conv.export_bucketed(f"bexp_conv_{tag}", os.path.join(work, "exp_c"))
    dim = spark.table(tb).select(
        "conv_id",
        F.col("text").alias("conv_last_text"),
        F.col("ts").alias("conv_last_ts"),
    )
    joined = (
        spark.table(ta)
        .hint("merge")
        .join(dim, "conv_id")
        .select(
            "conv_id", "turn_idx", "role", "text", "tool", "ts",
            "conv_last_text", "conv_last_ts",
        )
    )
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan, plan
    assert "Exchange" not in plan, plan  # both sides pre-bucketed
    return joined


_ORACLE_BUCKETED_EXPORT_JOIN = f"""
    WITH changes AS ({_ORACLE_CDC_EVENTS}),
    turn_ranked AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY conv_id, turn_idx ORDER BY ts DESC, seq DESC
        ) AS rn
        FROM changes
    ),
    turns AS (
        SELECT conv_id, turn_idx, role, text, tool, ts
        FROM turn_ranked WHERE rn = 1 AND op <> 'delete'
    ),
    conv_ranked AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY conv_id ORDER BY ts DESC, seq DESC
        ) AS rn
        FROM changes
    ),
    conv_dim AS (
        SELECT conv_id, text AS conv_last_text, ts AS conv_last_ts
        FROM conv_ranked WHERE rn = 1 AND op <> 'delete'
    )
    SELECT t.conv_id, t.turn_idx, t.role, t.text, t.tool, t.ts,
           d.conv_last_text, d.conv_last_ts
    FROM turns t JOIN conv_dim d ON t.conv_id = d.conv_id
"""


def _q_cdc_partitioned_export_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-partitioned lake export + pruned time-window read
    (``pipeline.export.export_day_partitioned`` /
    ``read_time_sliced``): the final LWW state is written hive-
    partitioned by the DAY derived from ``ts`` (hidden-partitioning
    discipline — the partition value is derived at write, the
    matching partition predicate re-derived at read), and a
    second-half time window is read back. Partition pruning is
    runtime-asserted physically: the sliced scan opens strictly fewer
    data files than the full scan. Values oracle-check against the
    LWW state filtered by the same window."""
    from datetime import timedelta

    from embulk_util_json_spark.operators.lww import lww_agg
    from embulk_util_json_spark.pipeline.export import (
        export_day_partitioned,
        read_time_sliced,
    )
    from embulk_util_json_spark.sources.events import parse_change_events

    work = _scratch("dayexp_")
    changes = parse_change_events(_events_as_cdc_json(spark, sf_dir))
    state = lww_agg(changes, ["conv_id", "turn_idx"], ["ts", "seq"]).filter(
        F.col("op") != "delete"
    ).select("conv_id", "turn_idx", "role", "text", "tool", "ts")
    path = os.path.join(work, "byday")
    export_day_partitioned(state, path)
    b = state.agg(F.min("ts").alias("lo"), F.max("ts").alias("hi")).collect()[0]
    days = (b.hi.date() - b.lo.date()).days
    since = b.lo.date() + timedelta(days=days // 2)
    assert days >= 2, "driver events span multiple days"
    full = spark.read.parquet(path)
    sliced = read_time_sliced(spark, path, since=str(since))

    def _files_read(df: DataFrame) -> int:
        # physical probe: files a real scan actually opens — pruned
        # day directories never contribute an input_file_name
        return df.select(F.input_file_name().alias("f")).distinct().count()

    n_sliced, n_full = _files_read(sliced), _files_read(full)
    assert 0 < n_sliced < n_full, (n_sliced, n_full)
    plan = sliced._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan, plan
    return sliced


_ORACLE_PARTITIONED_EXPORT = f"""
    WITH changes AS ({_ORACLE_CDC_EVENTS}),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY conv_id, turn_idx ORDER BY ts DESC, seq DESC
        ) AS rn
        FROM changes
    ),
    state AS (
        SELECT conv_id, turn_idx, role, text, tool, ts
        FROM ranked WHERE rn = 1 AND op <> 'delete'
    ),
    b AS (
        SELECT CAST(MIN(ts) AS DATE)
               + CAST(
                   (CAST(MAX(ts) AS DATE) - CAST(MIN(ts) AS DATE)) // 2
                   AS INTEGER
                 ) AS since
        FROM state
    )
    SELECT conv_id, turn_idx, role, text, tool, ts
    FROM state WHERE ts >= (SELECT CAST(since AS TIMESTAMP) FROM b)
"""


def _q_cdc_partition_evolution_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-SPEC EVOLUTION (``pipeline.export.
    export_time_partitioned`` / ``read_time_sliced_evolved``): the
    archive half of the state (ts < midpoint) was exported under the
    original DAY spec; the write pattern then changed and the tail
    half landed under the evolved HOUR spec — old files keep their
    old layout, nothing is rewritten (the Iceberg
    partition-spec-evolution contract for plain parquet). A window
    spanning the evolution boundary is read back: each spec
    generation is planned under ITS OWN transform (day bounds on the
    day subtree, hour bounds on the hour subtree). Pruning is
    runtime-asserted physically on BOTH generations — the sliced scan
    opens strictly fewer files than the full scan yet both subtrees
    still contribute — and values oracle-check against the LWW state
    filtered by the same window."""
    import datetime

    from embulk_util_json_spark.operators.lww import lww_agg
    from embulk_util_json_spark.pipeline.export import (
        export_time_partitioned,
        read_time_sliced_evolved,
    )
    from embulk_util_json_spark.sources.events import parse_change_events

    work = _scratch("specevo_")
    changes = parse_change_events(_events_as_cdc_json(spark, sf_dir))
    state = lww_agg(changes, ["conv_id", "turn_idx"], ["ts", "seq"]).filter(
        F.col("op") != "delete"
    ).select("conv_id", "turn_idx", "role", "text", "tool", "ts")
    b = state.agg(
        F.unix_micros(F.min("ts")).alias("lo_us"),
        F.unix_micros(F.max("ts")).alias("hi_us"),
    ).collect()[0]  # 1-row bound
    epoch = datetime.datetime(1970, 1, 1)
    mid_us = (int(b.lo_us) + int(b.hi_us)) // 2
    mid = epoch + datetime.timedelta(microseconds=mid_us)
    until_us = (mid_us + int(b.hi_us)) // 2
    until = epoch + datetime.timedelta(
        microseconds=until_us - until_us % 3_600_000_000
    )
    lo_d = (epoch + datetime.timedelta(microseconds=int(b.lo_us))).date()
    hi_d = (epoch + datetime.timedelta(microseconds=int(b.hi_us))).date()
    days = (hi_d - lo_d).days
    assert days >= 2, "driver events span multiple days"
    since = datetime.datetime.combine(
        lo_d + datetime.timedelta(days=days // 3), datetime.time()
    )
    path = os.path.join(work, "evolved")
    export_time_partitioned(state.filter(F.col("ts") < F.lit(mid)), path, "day")
    export_time_partitioned(state.filter(F.col("ts") >= F.lit(mid)), path, "hour")
    full = read_time_sliced_evolved(spark, path)
    sliced = read_time_sliced_evolved(spark, path, since=since, until=until)

    def _files_read(df: DataFrame, sub: str) -> int:
        probe = df.select(F.input_file_name().alias("f")).filter(
            F.col("f").contains(sub)
        )
        return probe.distinct().count()

    for sub in ("spec=day", "spec=hour"):
        n_s, n_f = _files_read(sliced, sub), _files_read(full, sub)
        # both generations prune AND both still contribute: the
        # window straddles the spec-evolution boundary
        assert 0 < n_s < n_f, (sub, n_s, n_f)
    plan = sliced._jdf.queryExecution().executedPlan().toString()
    assert plan.count("PartitionFilters: [") >= 2, plan
    return sliced


_ORACLE_PARTITION_EVOLUTION = f"""
    WITH changes AS ({_ORACLE_CDC_EVENTS}),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY conv_id, turn_idx ORDER BY ts DESC, seq DESC
        ) AS rn
        FROM changes
    ),
    state AS (
        SELECT conv_id, turn_idx, role, text, tool, ts
        FROM ranked WHERE rn = 1 AND op <> 'delete'
    ),
    b AS (
        SELECT epoch_us(MIN(ts)) AS lo_us, epoch_us(MAX(ts)) AS hi_us,
               CAST(MIN(ts) AS DATE) AS lo_d, CAST(MAX(ts) AS DATE) AS hi_d
        FROM state
    ),
    w AS (
        SELECT
            CAST(lo_d + CAST((hi_d - lo_d) // 3 AS INTEGER) AS TIMESTAMP)
                AS since,
            make_timestamp(
                ((lo_us + hi_us) // 2 + hi_us) // 2
                - (((lo_us + hi_us) // 2 + hi_us) // 2) % 3600000000
            ) AS until
        FROM b
    )
    SELECT conv_id, turn_idx, role, text, tool, ts
    FROM state
    WHERE ts >= (SELECT since FROM w) AND ts < (SELECT until FROM w)
"""



__all__ = [
    "_q_cdc_partitioned_export_prune",
    "_ORACLE_PARTITIONED_EXPORT",
    "_q_cdc_partition_evolution_prune",
    "_ORACLE_PARTITION_EVOLUTION",
    "_q_cdc_shallow_clone_divergence",
    "_ORACLE_SHALLOW_CLONE",
    "_q_cdc_cherrypick_final_state",
    "_ORACLE_CHERRYPICK",
    "_q_cdc_bucketed_export_join",
    "_ORACLE_BUCKETED_EXPORT_JOIN",
    "_q_cdc_constraint_enforced",
    "_ORACLE_CONSTRAINT",
    "_q_cdc_asof_ts_read",
    "_ORACLE_ASOF_TS",
    "_q_cdc_changes_since_ts",
    "_q_cdc_orphan_cleanup_final_state",
    "_q_cdc_tagged_read",
    "_q_cdc_row_lineage_final",
    "_ORACLE_ROW_LINEAGE",
    "_q_cdc_apply_final_state",
    "_ORACLE_MERGE_INTO",
    "_q_cdc_txn_consistent_read",
    "_ORACLE_TXN_CONSISTENT",
    "_q_cdc_scd2_history",
    "_ORACLE_RETENTION",
    "_q_cdc_scd2_view_incremental",
    "_q_cdc_published_feed_roundtrip",
    "_q_cdc_table_stats",
    "_ORACLE_ALIGNED_READ",
    "_q_cdc_aligned_read",
    "_q_cdc_feed_cursor_fanout",
    "_ORACLE_FEED_FANOUT",
    "_q_cdc_minor_compact_final_state",
    "_q_cdc_retention_delete",
    "_q_cdc_temporal_enrich",
    "_q_cdc_compact_net_effect",
    "_q_cdc_scd2_asof",
    "_ORACLE_SCD2_ASOF",
    "_q_cdc_agg_view_incremental",
    "_ORACLE_AGG_VIEW",
    "_q_cdc_secondary_index_lookup",
    "_ORACLE_SECONDARY_INDEX",
    "_q_cdc_covering_index_lookup",
    "_ORACLE_COVERING_INDEX",
    "_q_cdc_branch_final_state",
    "_q_cdc_wap_publish_final_state",
    "_q_cdc_savepoint_resume_final_state",
    "_q_cdc_rollback_final_state",
    "_ORACLE_RECENT_STATE",
    "_q_cdc_recent_state_read",
    "_q_cdc_banded_compact_recent_read",
    "_ORACLE_KEY_LOOKUP",
    "_q_cdc_key_skipped_lookup",
    "_q_cdc_merge_into_final_state",
    "_q_cdc_join_view_incremental",
    "_ORACLE_JOIN_VIEW",
    "_q_cdc_view_cascade_incremental",
    "_ORACLE_VIEW_CASCADE",
    "_q_cdc_checksum_repair_final_state",
    "_q_cdc_snapshot_resync_final_state",
    "_ORACLE_SNAPSHOT_RESYNC",
    "_q_cdc_stats_pruned_scan",
    "_ORACLE_STATS_PRUNED",
    "_q_cdc_type_widening_final_state",
    "_ORACLE_TYPE_WIDENING",
    "_q_cdc_column_rename_final_state",
    "_ORACLE_COLUMN_RENAME",
    "_q_cdc_add_column_default_final_state",
    "_ORACLE_ADD_COLUMN_DEFAULT",
    "_q_cdc_drop_column_final_state",
    "_ORACLE_DROP_COLUMN",
    "_q_cdc_bloom_skipped_lookup",
    "_ORACLE_BLOOM_LOOKUP",
    "_q_cdc_mirror_final_state",
    "_q_cdc_projected_read",
    "_ORACLE_CDC_PROJECTED",
    "_q_cdc_change_feed",
    "_ORACLE_CHANGE_FEED",
    "_q_cdc_change_feed_debezium_export",
    "_q_cdc_replay_diff",
    "_cdc_replay_diff_sql",
]
