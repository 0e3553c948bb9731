"""Sharded-source merge: N independent binlog shards → one table.

Web-scale sources are sharded (Vitess/MySQL shard binlogs, a
multi-partition Kafka topic, per-tablet WALs): each shard carries its
OWN dense sequence space and its own holes, and the lake sink sees
the union. Two things must survive the merge:

1. **A deterministic total order.** Cross-shard delivery order is
   meaningless, so the engine's (ts, seq) LWW order needs a seq stamp
   that (a) preserves each shard's internal order and (b) breaks
   exact-ts cross-shard ties identically on every replay.
   ``merge_shard_seqs`` interleaves the spaces arithmetically:
   ``global_seq = shard_seq * n_shards + shard`` — injective, order-
   preserving per shard, pure projection (no shuffle, no window), and
   trivially invertible for audits. (Bound: shard_seq < 2^63 /
   n_shards — binlog positions are nowhere near it.)

2. **Per-shard commit fencing.** ``disorder.fence_at_first_gap`` is
   single-stream: unioned shards would fence each other (shard 1's
   WAL hole would stall shards 0 and 2 — at 1000 shards, any hole
   anywhere halts everything), and a global fence over interleaved
   stamps would see phantom gaps. ``fence_per_shard`` runs the same
   range-parallel gap scan GROUPED by shard: each shard commits
   exactly its own contiguous prefix; progress is independent.

Scale shape: the grouped scan partitions windows by (shard, range) —
never a global ORDER BY window; the driver folds only the
(n_shards × n_ranges)-row per-range summary; fences broadcast as one
tiny frame and the filter runs before any downstream shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

MAX_SEQ = (1 << 63) - 1


def merge_shard_seqs(
    df: DataFrame,
    n_shards: int,
    shard_col: str = "shard",
    seq_col: str = "seq",
    out_col: str = "seq",
) -> DataFrame:
    """Stamp the deterministic global sequence over a union of shard
    frames: ``out = seq * n_shards + shard``. Keeps every other
    column; drops the shard/seq inputs when ``out_col`` shadows
    ``seq_col``."""
    stamp = (
        F.col(seq_col).cast("long") * F.lit(int(n_shards))
        + F.col(shard_col).cast("long")
    ).alias(out_col)
    others = [c for c in df.columns if c not in (seq_col, out_col)]
    return df.select(stamp, *others)


def shard_fences(
    df: DataFrame,
    shard_col: str = "shard",
    seq_col: str = "seq",
    n_ranges: int = 64,
) -> DataFrame:
    """(shard, fence) — each shard's first missing position (or
    MAX_SEQ when its observed span is contiguous). Same two-level
    scan as ``disorder.seq_gaps``, grouped: LAG within (shard, range)
    in parallel; cross-range holes stitched from the tiny per-(shard,
    range) min/max summary on the driver."""
    spark = df.sparkSession
    c = (
        df.select(
            F.col(shard_col).alias("shard"),
            F.col(seq_col).cast("long").alias("seq"),
        )
        .filter(F.col("seq").isNotNull())
        .localCheckpoint()
    )
    b = c.agg(F.min("seq").alias("lo"), F.max("seq").alias("hi")).collect()[0]
    if b.lo is None:
        return spark.createDataFrame([], "shard int, fence long")
    width = (int(b.hi) - int(b.lo)) // n_ranges + 1
    c = c.withColumn(
        "_rid", ((F.col("seq") - F.lit(int(b.lo))) / F.lit(width)).cast("long")
    )
    prev = F.lag("seq").over(
        Window.partitionBy("shard", "_rid").orderBy("seq")
    )
    interior = (
        c.withColumn("_prev", prev)
        .filter(F.col("seq") > F.col("_prev") + 1)
        .groupBy("shard")
        .agg(F.min(F.col("_prev") + 1).alias("f_in"))
    )
    per_range = sorted(
        c.groupBy("shard", "_rid")
        .agg(F.min("seq").alias("mn"), F.max("seq").alias("mx"))
        .collect(),
        key=lambda r: (str(r.shard), r._rid),
    )
    boundary_rows, last_by_shard = [], {}
    for r in per_range:
        last = last_by_shard.get(r.shard)
        if last is not None and r.mn > last + 1:
            boundary_rows.append((r.shard, last + 1))
        last_by_shard[r.shard] = max(last, r.mx) if last is not None else r.mx
    shards = c.select("shard").distinct()
    boundary = (
        spark.createDataFrame(
            boundary_rows, c.select("shard").schema.add("f_bd", "long")
        ).groupBy("shard").agg(F.min("f_bd").alias("f_bd"))
        if boundary_rows
        else None
    )
    out = shards.join(interior, "shard", "left")
    if boundary is not None:
        out = out.join(boundary, "shard", "left")
    else:
        out = out.withColumn("f_bd", F.lit(None).cast("long"))
    return out.select(
        "shard",
        F.least(
            F.coalesce("f_in", F.lit(MAX_SEQ)),
            F.coalesce("f_bd", F.lit(MAX_SEQ)),
        ).alias("fence"),
    )


def fence_per_shard(
    df: DataFrame,
    shard_col: str = "shard",
    seq_col: str = "seq",
    n_ranges: int = 64,
) -> DataFrame:
    """Keep each shard's events strictly below that shard's first
    hole — the in-order commit guarantee of ``fence_at_first_gap``,
    per shard, without cross-shard stalls. Fences broadcast (one row
    per shard); the filter runs before any downstream exchange."""
    fences = (
        shard_fences(df, shard_col, seq_col, n_ranges)
        .withColumnRenamed("shard", "_f_shard")
        .withColumnRenamed("fence", "_f_fence")
    )
    return (
        df.join(
            F.broadcast(fences), F.col(shard_col) == F.col("_f_shard")
        )
        .filter(F.col(seq_col) < F.col("_f_fence"))
        .drop("_f_shard", "_f_fence")
    )

