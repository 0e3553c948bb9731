"""Event-time disorder measurement → watermark planning.

Structured Streaming's windowed aggregations (``streaming/windowed``)
take a watermark delay as INPUT; pick it too small and late events are
dropped, too large and state lingers. This operator MEASURES the
stream's actual out-of-orderness so the knob is derived from data:

    lateness(e) = max(ts of all events delivered before e) − ts(e)

i.e. how far behind the event-time high-water-mark each event arrives
(delivery order = ``seq``, the binlog position). The summary row
reports the count/fraction of late events, the max and mean lateness,
and ``watermark_sec = ceil(max lateness)`` — the smallest whole-second
watermark that would have dropped nothing.

Scale shape: the running max over delivery order is a PREFIX SCAN —
the naive formulation (a window over ``ORDER BY seq`` with no
partition) collapses to a single task at 10^10 events. This
implementation is the classic two-pass distributed scan (same trick
as ``pipeline/packing.pack_sequences``):

1. bucket events into R contiguous seq ranges (driver reads the 1-row
   seq bounds; range id is a pure function of seq, so no sampling
   nondeterminism);
2. per-range max(ts) — R tiny rows to the driver → EXCLUSIVE prefix
   max per range, re-broadcast as a literal lookup (CASE chain over
   R entries);
3. within each range (parallel window, partitioned by range id):
   running max(ts); the global running max is
   greatest(within-range running max, prefix of the range).

Exact for any R; every stage is parallel except the R-row driver
fold. The DuckDB oracle is the naive single-window formulation —
the graded query proves the distributed scan equals it bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def _running_max_ts(
    df: DataFrame, ts_col: str, seq_col: str, n_ranges: int
) -> DataFrame:
    """df + ``_run`` = max(ts) over all rows with seq' <= seq."""
    bounds = df.agg(
        F.min(seq_col).alias("lo"), F.max(seq_col).alias("hi")
    ).collect()[0]
    if bounds.lo is None:
        return df.withColumn("_run", F.col(ts_col))
    width = (int(bounds.hi) - int(bounds.lo)) // n_ranges + 1
    rid = ((F.col(seq_col) - F.lit(int(bounds.lo))) / F.lit(width)).cast("long")
    df = df.withColumn("_rid", rid)
    # pass 1: per-range max → driver fold to exclusive prefix maxima
    per_range = {
        r._rid: r.m
        for r in df.groupBy("_rid").agg(F.max(ts_col).alias("m")).collect()
    }
    prefix, best = {}, None
    for r in sorted(per_range):
        prefix[r] = best
        best = per_range[r] if best is None or per_range[r] > best else best
    pre = F.lit(None).cast("timestamp")
    for r, p in prefix.items():
        if p is not None:
            pre = F.when(F.col("_rid") == r, F.lit(p)).otherwise(pre)
    # pass 2: parallel within-range running max, offset by the prefix
    w = (
        Window.partitionBy("_rid")
        .orderBy(seq_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    within = F.max(ts_col).over(w)
    return df.withColumn("_run", F.greatest(within, F.coalesce(pre, within))).drop(
        "_rid"
    )


def disorder_summary(
    df: DataFrame,
    ts_col: str = "ts",
    seq_col: str = "seq",
    n_ranges: int = 64,
) -> DataFrame:
    """One row: event-time disorder of a change stream (NULL-ts rows
    excluded) and the watermark that would have dropped nothing."""
    # The scan needs three passes over (seq, ts) — bounds, per-range
    # maxima, main — and the input is usually a parse projection:
    # checkpoint the two-column slice so the parse runs once, not 3×
    # (measured 5.5 s → ~2 s at sf0.1).
    c = (
        df.select(seq_col, ts_col)
        .filter(F.col(ts_col).isNotNull())
        .localCheckpoint()
    )
    r = _running_max_ts(c, ts_col, seq_col, n_ranges)
    late_us = F.unix_micros(F.col("_run")) - F.unix_micros(F.col(ts_col))
    return r.agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.when(late_us > 0, 1).otherwise(0)).alias("n_late"),
        (
            F.sum(F.when(late_us > 0, 1).otherwise(0)) / F.count(F.lit(1))
        ).alias("frac_late"),
        (F.max(late_us) / F.lit(1e6)).alias("max_lateness_sec"),
        (F.sum(late_us) / F.count(F.lit(1)) / F.lit(1e6)).alias(
            "mean_lateness_sec"
        ),
        F.ceil(F.max(late_us) / F.lit(1e6)).alias("watermark_sec"),
    )


def seq_gaps(df: DataFrame, seq_col: str = "seq", n_ranges: int = 64) -> DataFrame:
    """Binlog-position continuity check: every maximal missing seq
    range, as (gap_start, gap_end, n_missing) — the WAL-hole detector
    a CDC tail needs before it can claim "no events lost" (a gap means
    a segment was dropped or a producer skipped positions).

    Scale shape: neighbor comparison over a total order is the same
    prefix-scan trap as the disorder measurement above — a bare
    ``LAG OVER (ORDER BY seq)`` is one task at 10^10 events. Same cure:
    contiguous fixed-width seq ranges (pure function of seq, driver
    reads only the 1-row bounds), LAG *within* each range in parallel,
    then the R-row per-range (min, max) summary is folded on the
    driver to emit cross-range gaps — ranges left wholly empty by a
    gap simply don't appear and the stitch spans them. Exact for any
    R; duplicate seqs never fake a gap (lag ties compare equal)."""
    c = (
        df.select(F.col(seq_col).cast("long").alias("seq"))
        .filter(F.col("seq").isNotNull())
        .localCheckpoint()
    )
    spark = df.sparkSession
    out_schema = "gap_start long, gap_end long, n_missing long"
    b = c.agg(F.min("seq").alias("lo"), F.max("seq").alias("hi")).collect()[0]
    if b.lo is None:
        return spark.createDataFrame([], out_schema)
    width = (int(b.hi) - int(b.lo)) // n_ranges + 1
    c = c.withColumn(
        "_rid", ((F.col("seq") - F.lit(int(b.lo))) / F.lit(width)).cast("long")
    )
    prev = F.lag("seq").over(Window.partitionBy("_rid").orderBy("seq"))
    interior = (
        c.withColumn("_prev", prev)
        .filter(F.col("seq") > F.col("_prev") + 1)
        .select(
            (F.col("_prev") + 1).alias("gap_start"),
            (F.col("seq") - 1).alias("gap_end"),
        )
    )
    per_range = sorted(
        c.groupBy("_rid").agg(
            F.min("seq").alias("mn"), F.max("seq").alias("mx")
        ).collect(),
        key=lambda r: r._rid,
    )
    stitched, last = [], None
    for r in per_range:
        if last is not None and r.mn > last + 1:
            stitched.append((last + 1, r.mn - 1))
        last = max(last, r.mx) if last is not None else r.mx
    boundary = spark.createDataFrame(
        stitched, "gap_start long, gap_end long"
    )
    return (
        interior.unionByName(boundary)
        .withColumn("n_missing", F.col("gap_end") - F.col("gap_start") + 1)
        .orderBy("gap_start")
    )


def seq_gaps_sql(changes_sql: str, seq_col: str = "seq") -> str:
    """DuckDB oracle twin: the naive single-window LAG formulation."""
    return f"""
        WITH c AS (
            SELECT DISTINCT {seq_col} AS seq FROM ({changes_sql})
            WHERE {seq_col} IS NOT NULL
        ),
        l AS (SELECT seq, LAG(seq) OVER (ORDER BY seq) AS prev FROM c)
        SELECT prev + 1 AS gap_start, seq - 1 AS gap_end,
               seq - prev - 1 AS n_missing
        FROM l WHERE seq > prev + 1
    """


def seq_continuity_summary(
    df: DataFrame, seq_col: str = "seq", n_ranges: int = 64
) -> DataFrame:
    """One row: span bounds, row/distinct counts (duplicate-delivery
    count falls out), total missing positions, and the number of
    maximal gaps — the at-a-glance 'did the tail lose anything'
    check. One agg over the stream + one agg over the (tiny) gaps
    frame; joined on a constant (both sides are 1 row)."""
    c = (
        df.select(F.col(seq_col).cast("long").alias("seq"))
        .filter(F.col("seq").isNotNull())
        .localCheckpoint()
    )
    base = c.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct(F.col("seq")).alias("n_distinct"),
        F.min("seq").alias("lo"),
        F.max("seq").alias("hi"),
        (F.count(F.lit(1)) - F.count_distinct(F.col("seq"))).alias("n_dup_rows"),
    )
    gaps = seq_gaps(c, "seq", n_ranges).agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.coalesce(F.sum("n_missing"), F.lit(0)).alias("n_missing"),
    )
    return base.crossJoin(gaps).select(
        "n_rows", "n_distinct", "lo", "hi", "n_dup_rows", "n_gaps", "n_missing"
    )


def seq_continuity_summary_sql(changes_sql: str, seq_col: str = "seq") -> str:
    """DuckDB oracle twin of :func:`seq_continuity_summary`."""
    return f"""
        WITH src AS (
            SELECT {seq_col} AS seq FROM ({changes_sql})
            WHERE {seq_col} IS NOT NULL
        ),
        base AS (
            SELECT COUNT(*) AS n_rows, COUNT(DISTINCT seq) AS n_distinct,
                   MIN(seq) AS lo, MAX(seq) AS hi,
                   COUNT(*) - COUNT(DISTINCT seq) AS n_dup_rows
            FROM src
        ),
        l AS (
            SELECT seq, LAG(seq) OVER (ORDER BY seq) AS prev
            FROM (SELECT DISTINCT seq FROM src)
        ),
        g AS (
            SELECT COUNT(*) AS n_gaps,
                   -- DuckDB SUM(BIGINT) returns HUGEINT (Arrow
                   -- decimal128); Spark emits int64 — CAST so the
                   -- driver's value hash canonicalizes identically.
                   CAST(COALESCE(SUM(seq - prev - 1), 0) AS BIGINT)
                       AS n_missing
            FROM l WHERE seq > prev + 1
        )
        SELECT n_rows, n_distinct, lo, hi, n_dup_rows, n_gaps, n_missing
        FROM base, g
    """


def fence_at_first_gap(
    df: DataFrame, seq_col: str = "seq", n_ranges: int = 64
) -> DataFrame:
    """In-order commit fencing: keep only events strictly below the
    first missing binlog position; everything at or past the first
    gap is held back.

    Why a CDC apply wants this: LWW merging is order-insensitive for
    the events it HAS, but a hole in the sequence means an event was
    lost in flight — committing past it can expose a state that a
    late-arriving refetch of the hole would retroactively change
    (e.g. the missing event is the delete between two updates). The
    transactional guarantee "the sink never reflects a suffix of the
    log while missing part of its prefix" is exactly this fence; the
    held-back tail is applied later once the hole is refetched (or
    explicitly abandoned, at which point the fence moves).

    Scale shape: the fence value derives from :func:`seq_gaps`
    (range-parallel LAG, never a single-task global window); the
    1-row minimum is broadcast and the filter runs BEFORE any
    downstream shuffle, so held-back rows never enter the merge
    exchange. No driver collect in the data path.
    """
    gaps = seq_gaps(df, seq_col, n_ranges)
    fence = gaps.agg(
        F.coalesce(F.min("gap_start"), F.lit((1 << 63) - 1)).alias("_fence")
    )
    return (
        df.crossJoin(F.broadcast(fence))
        .filter(F.col(seq_col) < F.col("_fence"))
        .drop("_fence")
    )


def replication_lag_summary(
    df: DataFrame,
    applied_hwm_seq: "int | F.Column",
    ts_col: str = "ts",
    seq_col: str = "seq",
    key_cols: list[str] | None = None,
) -> DataFrame:
    """One-row freshness report for a downstream replica whose applied
    high-watermark is ``applied_hwm_seq``: how much of the log is still
    pending, how many keys it touches, and how stale the replica's
    event-time frontier is relative to the source's.

    Columns: ``applied_hwm_seq``, ``applied_hwm_ts`` (event-time
    frontier of the applied prefix), ``n_pending``, ``n_keys_pending``
    (distinct keys the backlog will touch — the write amplification of
    catching up), ``source_hwm_ts``, ``lag_sec`` (event-time distance
    between the two frontiers; 0 when nothing is pending).

    Scale shape: one pass, one hash aggregation — conditional
    aggregates over the seq predicate instead of two scans; the
    distinct-key count shuffles only the (tiny) per-partition partial
    sketches. No window, no driver collect.
    """
    hwm = (
        F.lit(applied_hwm_seq)
        if isinstance(applied_hwm_seq, int)
        else applied_hwm_seq
    )
    pend = F.col(seq_col) > hwm
    keys = key_cols or []
    key_struct = F.struct(*[F.col(k) for k in keys]) if keys else None
    agg = [
        F.max(F.when(~pend, F.col(seq_col))).alias("applied_hwm_seq"),
        F.max(F.when(~pend, F.col(ts_col))).alias("applied_hwm_ts"),
        F.sum(F.when(pend, 1).otherwise(0)).cast("long").alias("n_pending"),
        (
            F.count_distinct(F.when(pend, key_struct))
            if key_struct is not None
            else F.lit(0).cast("long")
        ).alias("n_keys_pending"),
        F.max(F.col(ts_col)).alias("source_hwm_ts"),
    ]
    out = df.agg(*agg)
    lag_us = F.unix_micros(F.col("source_hwm_ts")) - F.unix_micros(
        F.col("applied_hwm_ts")
    )
    return out.withColumn(
        "lag_sec",
        F.when(F.col("n_pending") == 0, F.lit(0.0)).otherwise(
            F.greatest(lag_us / F.lit(1e6), F.lit(0.0))
        ),
    )


def replication_lag_summary_sql(
    changes_sql: str,
    applied_hwm_seq_sql: str,
    ts_col: str = "ts",
    seq_col: str = "seq",
    key_cols: list[str] | None = None,
) -> str:
    """DuckDB oracle twin of :func:`replication_lag_summary`.
    ``applied_hwm_seq_sql`` is a scalar SQL expression (may reference a
    1-row subquery)."""
    keys = key_cols or []
    key_expr = (
        "ROW(" + ", ".join(keys) + ")" if len(keys) > 1 else (keys[0] if keys else None)
    )
    nkeys = (
        f"COUNT(DISTINCT CASE WHEN seq > hwm THEN {key_expr} END)"
        if key_expr
        else "0"
    )
    return f"""
        WITH src AS (
            SELECT *, {seq_col} AS seq, {ts_col} AS ts,
                   ({applied_hwm_seq_sql}) AS hwm
            FROM ({changes_sql})
        ),
        a AS (
            SELECT
                MAX(CASE WHEN seq <= hwm THEN seq END) AS applied_hwm_seq,
                MAX(CASE WHEN seq <= hwm THEN ts END) AS applied_hwm_ts,
                CAST(COUNT(CASE WHEN seq > hwm THEN 1 END) AS BIGINT)
                    AS n_pending,
                CAST({nkeys} AS BIGINT) AS n_keys_pending,
                MAX(ts) AS source_hwm_ts
            FROM src
        )
        SELECT *,
               CASE WHEN n_pending = 0 THEN 0.0
                    ELSE GREATEST(
                        date_diff('microsecond', applied_hwm_ts,
                                  source_hwm_ts) / 1e6, 0.0)
               END AS lag_sec
        FROM a
    """


def disorder_summary_sql(changes_sql: str, ts_col: str = "ts",
                         seq_col: str = "seq") -> str:
    """DuckDB oracle twin: the naive single-window prefix scan."""
    return f"""
        WITH c AS (
            SELECT {seq_col} AS seq, {ts_col} AS ts
            FROM ({changes_sql}) WHERE {ts_col} IS NOT NULL
        ),
        r AS (
            SELECT ts, MAX(ts) OVER (
                ORDER BY seq ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
            ) AS run
            FROM c
        ),
        l AS (SELECT date_diff('microsecond', ts, run) AS late_us FROM r)
        SELECT COUNT(*) AS n_events,
               -- CAST: DuckDB SUM -> HUGEINT, Spark -> int64.
               CAST(SUM(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_late,
               CAST(SUM(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) AS DOUBLE)
                   / COUNT(*) AS frac_late,
               MAX(late_us) / 1e6 AS max_lateness_sec,
               CAST(SUM(late_us) AS DOUBLE) / COUNT(*) / 1e6
                   AS mean_lateness_sec,
               CAST(CEIL(MAX(late_us) / 1e6) AS BIGINT) AS watermark_sec
        FROM l
    """
