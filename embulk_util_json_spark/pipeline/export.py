"""Train-ready shard export — the last mile of the corpus pipeline.

Dataloaders want the corpus as N similarly-sized, globally-ordered
shard files plus a manifest (file → row count) they can split across
workers. The scale-correct formulation is ``repartitionByRange`` on
the order key (sampled range boundaries, deterministic for a fixed
input) + per-shard sort — NO global single-partition sort, no
driver-side row movement; shard sizes are approximately even (range
sampling), which is what dataloader sharding actually needs.

The manifest is read from parquet footers (metadata-only, no extra
Spark job) and written as JSON next to the shards.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..sinks.jsonlog import replace_json

DAY_COL = "_day"


def export_shards(
    df: DataFrame,
    path: str,
    n_shards: int,
    order_by: list[str],
) -> dict:
    """Write ``df`` as ``n_shards`` globally-ordered parquet shards
    under ``path`` plus ``_shard_manifest.json``. Returns the manifest
    dict: total rows, per-file rows, and the order key."""
    (
        df.repartitionByRange(n_shards, *order_by)
        .sortWithinPartitions(*order_by)
        .write.mode("overwrite")
        .parquet(path)
    )
    import pyarrow.parquet as pq

    files = sorted(
        f
        for f in os.listdir(path)
        if f.endswith(".parquet") and not f.startswith(".")
    )
    shards = {f: pq.read_metadata(os.path.join(path, f)).num_rows for f in files}
    manifest = {
        "n_shards": len(files),
        "total_rows": sum(shards.values()),
        "order_by": list(order_by),
        "shards": shards,
    }
    replace_json(os.path.join(path, "_shard_manifest.json"), manifest)
    return manifest


def export_day_partitioned(
    df: DataFrame,
    path: str,
    ts_col: str = "ts",
) -> str:
    """Write ``df`` hive-partitioned by the DAY of ``ts_col``
    (``_day=YYYY-MM-DD/`` directories) — the classic lake layout for
    time-ranged consumption. The partition value is DERIVED at write
    (hidden-partitioning discipline: callers never maintain ``_day``
    themselves, so it cannot drift from ``ts_col``), and
    :func:`read_time_sliced` re-derives the matching partition
    predicate at read, so a time-window scan opens only the window's
    day directories — directory-level pruning, before any footer or
    row is touched. At 10^10 events/day this is the difference
    between listing one day and listing the archive."""
    (
        df.withColumn(DAY_COL, F.to_date(F.col(ts_col)))
        .write.mode("overwrite")
        .partitionBy(DAY_COL)
        .parquet(path)
    )
    return path


def read_time_sliced(
    spark: SparkSession,
    path: str,
    since=None,
    until=None,
    ts_col: str = "ts",
) -> DataFrame:
    """Read a :func:`export_day_partitioned` dataset restricted to
    ``since <= ts_col < until`` (either bound optional).

    The exact row filter on ``ts_col`` defines the result; the helper
    additionally derives the implied ``_day`` bounds so Catalyst's
    partition pruning (PartitionFilters on the hive partition column)
    skips every out-of-window day directory — plain parquet has no
    Iceberg-style transform metadata to do this automatically, so the
    derivation lives here, next to the write-side transform it
    mirrors. The two predicates are consistent by construction
    (``to_date`` at write ≡ ``to_date`` of the bounds), so pruning is
    exact: fail-open on a missing bound, never a dropped row."""
    df = spark.read.parquet(path)
    if since is not None:
        df = df.filter(
            (F.col(DAY_COL) >= F.to_date(F.lit(since)))
            & (F.col(ts_col) >= F.lit(since).cast("timestamp"))
        )
    if until is not None:
        df = df.filter(
            (F.col(DAY_COL) <= F.to_date(F.lit(until)))
            & (F.col(ts_col) < F.lit(until).cast("timestamp"))
        )
    return df.drop(DAY_COL)


HOUR_COL = "_hour"
_HOUR_FMT = "yyyy-MM-dd-HH"


def export_time_partitioned(
    df: DataFrame,
    path: str,
    granularity: str = "day",
    ts_col: str = "ts",
) -> str:
    """Write one PARTITION-SPEC GENERATION of an evolvable
    time-partitioned export: ``path/spec=<granularity>/`` hive-
    partitioned by the value derived from ``ts_col`` under that spec
    (``_day=YYYY-MM-DD`` or ``_hour=YYYY-MM-DD-HH`` — lexicographic ==
    chronological by construction).

    This is the Iceberg partition-spec-evolution shape for plain
    parquet: when a table's write pattern changes (daily archive →
    hourly tail), old data KEEPS its old layout — nothing is
    rewritten — and new data lands under the new spec; each
    generation lives in its own ``spec=`` subtree so
    :func:`read_time_sliced_evolved` can plan each subtree under its
    own transform. Same hidden-partitioning discipline as
    :func:`export_day_partitioned`: callers never maintain the
    partition column, it is derived at write and re-derived at read.
    """
    if granularity == "day":
        pcol, expr = DAY_COL, F.to_date(F.col(ts_col))
    elif granularity == "hour":
        pcol, expr = HOUR_COL, F.date_format(F.col(ts_col), _HOUR_FMT)
    else:
        raise ValueError(f"unknown granularity {granularity!r}")
    out = os.path.join(path, f"spec={granularity}")
    (
        df.withColumn(pcol, expr)
        # cluster rows by partition value before the write so each
        # directory gets ~one file instead of one per upstream task —
        # the standard small-files mitigation for hive layouts (AQE
        # coalesces the hash partitions; fine-grained specs like
        # hourly would otherwise fan out dirs × tasks tiny files)
        .repartition(F.col(pcol))
        .write.mode("overwrite")
        .partitionBy(pcol)
        .parquet(out)
    )
    return out


def read_time_sliced_evolved(
    spark: SparkSession,
    path: str,
    since=None,
    until=None,
    ts_col: str = "ts",
) -> DataFrame:
    """Read an evolvable export restricted to ``since <= ts_col <
    until``, pruning EVERY spec generation under its own transform.

    Each ``spec=`` subtree is planned separately — the matching
    partition predicate is re-derived from the window under THAT
    spec's transform (day bounds for the day generation, hour bounds
    for the hour generation) so Catalyst prunes out-of-window
    directories in both layouts before touching a footer — then the
    generations union (schemas are identical once the partition
    column is dropped). The exact row predicate on ``ts_col`` defines
    the result; the derived bounds are fail-open supersets, so
    pruning is exact under either spec. Spec discovery is a
    directory listing (metadata-only; on an object store this is the
    same LIST the read would issue anyway)."""
    specs = sorted(
        d for d in os.listdir(path)
        if d.startswith("spec=") and os.path.isdir(os.path.join(path, d))
    )
    if not specs:
        raise ValueError(f"no spec= generations under {path}")
    since_ts = F.lit(since).cast("timestamp") if since is not None else None
    until_ts = F.lit(until).cast("timestamp") if until is not None else None
    parts = []
    for spec in specs:
        gran = spec.split("=", 1)[1]
        df = spark.read.parquet(os.path.join(path, spec))
        if gran == "day":
            pcol = DAY_COL
            lo = F.to_date(since_ts) if since is not None else None
            hi = F.to_date(until_ts) if until is not None else None
        elif gran == "hour":
            pcol = HOUR_COL
            lo = (
                F.date_format(since_ts, _HOUR_FMT)
                if since is not None
                else None
            )
            hi = (
                F.date_format(until_ts, _HOUR_FMT)
                if until is not None
                else None
            )
        else:
            raise ValueError(f"unknown spec generation {spec!r}")
        if since is not None:
            df = df.filter((F.col(pcol) >= lo) & (F.col(ts_col) >= since_ts))
        if until is not None:
            df = df.filter((F.col(pcol) <= hi) & (F.col(ts_col) < until_ts))
        parts.append(df.drop(pcol))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
