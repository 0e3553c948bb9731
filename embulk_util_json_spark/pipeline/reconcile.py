"""Checksum reconciliation: detect and repair out-of-band table damage.

A replica maintained by the CDC apply path can silently diverge from
the authoritative log for reasons the exactly-once machinery cannot
see: bit-rot in a data file, a partial out-of-band write, an operator
"fixing" rows by hand, a restore from a stale backup. The classic
answer (Percona pt-table-checksum, Debezium's incremental-snapshot
re-validation) is to compare cheap per-chunk checksums of replica vs
source and re-sync ONLY the chunks that disagree — never a full
re-copy.

This module is that loop for :class:`~..sinks.snapshot.
ParquetSnapshotSink` tables, with the sink's hash buckets as the
chunks:

- :func:`bucket_checksums` — one hash aggregation producing, per
  bucket, the row count and an ORDER-INSENSITIVE digest (``bit_xor``
  of per-row ``xxhash64`` over every compared column: commutative and
  associative, so it map-side combines and is insensitive to row
  order, file order, and chain layout; no sum overflow under ANSI
  mode). One scan, one tiny exchange of ≤ num_buckets rows.
- :func:`verify_and_repair` — checksums of the replica's visible
  state vs the authoritative truth, full-outer-joined (metadata-sized
  — ≤ num_buckets rows collected driver-side), then
  ``sink.restore_buckets`` rewrites exactly the disagreeing buckets
  from truth. Matching buckets are never read twice, never rewritten.

Scale shape: the expensive side is the two checksum scans, each a
single pass with map-side partial aggregation — no join of the two
TABLES, only of their ≤ num_buckets summaries. Repair cost is
proportional to the damage, not the table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..sinks.snapshot import ParquetSnapshotSink

DELETE_OP = "delete"


def bucket_checksums(
    df: DataFrame, bucket_expr, cols: list[str]
) -> DataFrame:
    """Per-bucket (n_rows, digest) summary of ``df`` over ``cols``.
    The digest is ``bit_xor(xxhash64(cols...))`` — order-insensitive,
    overflow-free, map-side combinable."""
    return (
        df.select(
            bucket_expr.alias("bucket"),
            F.xxhash64(*[F.col(c) for c in cols]).alias("_d"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.expr("bit_xor(_d)").alias("digest"),
        )
    )


def verify_and_repair(
    sink: ParquetSnapshotSink,
    truth_reduced: DataFrame,
    repair: bool = True,
) -> dict:
    """Compare the sink's visible state against the authoritative
    reduced state, bucket by bucket; rewrite disagreeing buckets from
    ``truth_reduced`` (the chain-schema frame ``restore_buckets``
    expects: op + order cols + keys + payload, tombstones included).

    Returns ``{"buckets_checked", "mismatched", "repaired",
    "version"}``; with ``repair=False`` it is a pure audit."""
    cur = sink.read()
    cols = list(cur.columns)
    visible_truth = truth_reduced.filter(F.col("op") != DELETE_OP).select(*cols)

    def summarize(df: DataFrame, side: str) -> DataFrame:
        s = bucket_checksums(df, sink._bucket_expr(), cols)
        return s.select(
            "bucket",
            F.col("n_rows").alias(f"n_{side}"),
            F.col("digest").alias(f"d_{side}"),
        )

    j = summarize(cur, "cur").join(
        summarize(visible_truth, "tr"), "bucket", "full_outer"
    )
    rows = j.collect()  # metadata-sized: <= num_buckets rows
    mismatched = sorted(
        int(r.bucket)
        for r in rows
        if r.n_cur != r.n_tr or r.d_cur != r.d_tr
    )
    out = {
        "buckets_checked": len(rows),
        "mismatched": mismatched,
        "repaired": [],
        "version": sink.current_version(),
    }
    if mismatched and repair:
        res = sink.restore_buckets(truth_reduced, mismatched)
        out["repaired"] = mismatched
        out["version"] = res["version"]
    return out


def snapshot_diff(
    state: DataFrame,
    snapshot: DataFrame,
    keys: list[str],
    resync_ts,
    compare_cols: list[str],
    ts_col: str = "ts",
    seq_col: str | None = "seq",
) -> DataFrame:
    """Minimal change batch turning ``state`` into ``snapshot``.

    The relational core of :func:`snapshot_resync`: a full outer join
    of the two states on ``keys`` emitting

    - an UPSERT (op ``update``, payload from the snapshot) for every
      key the snapshot carries whose ``compare_cols`` content is
      missing or differs in ``state`` (null-safe column-wise compare —
      exact, never a hash that could collide a real difference away),
    - a DELETE tombstone for every key ``state`` carries that the
      snapshot no longer does (the ``WHEN NOT MATCHED BY SOURCE THEN
      DELETE`` arm),

    and NOTHING for keys whose content matches — the diff is
    O(drift), not O(table). Every emitted row is stamped
    ``(resync_ts, 0)``; the snapshot is authoritative, so the caller
    must pick ``resync_ts`` strictly above every order stamp stored
    for the keys being rewritten (e.g. the snapshot's consistency
    watermark). Scale shape: ONE key-partitioned shuffle join of the
    two states; no window, no collect.
    """
    s = snapshot.select(
        *[F.col(k).alias(f"_sk_{k}") for k in keys],
        *[F.col(c).alias(f"_sv_{c}") for c in compare_cols],
        F.lit(True).alias("_s_present"),
    )
    c = state.select(
        *[F.col(k).alias(f"_ck_{k}") for k in keys],
        *[F.col(col).alias(f"_cv_{col}") for col in compare_cols],
        F.lit(True).alias("_c_present"),
    )
    cond = None
    for k in keys:
        e = F.col(f"_sk_{k}").eqNullSafe(F.col(f"_ck_{k}"))
        cond = e if cond is None else (cond & e)
    j = s.join(c, cond, "full_outer")
    same = None
    for col in compare_cols:
        e = F.col(f"_sv_{col}").eqNullSafe(F.col(f"_cv_{col}"))
        same = e if same is None else (same & e)
    s_present = F.coalesce(F.col("_s_present"), F.lit(False))
    c_present = F.coalesce(F.col("_c_present"), F.lit(False))
    stamps = [F.lit(resync_ts).cast("timestamp").alias(ts_col)]
    if seq_col is not None and seq_col != ts_col:
        stamps.append(F.lit(0).cast("long").alias(seq_col))
    upserts = j.filter(s_present & (~c_present | ~same)).select(
        *[F.col(f"_sk_{k}").alias(k) for k in keys],
        *[F.col(f"_sv_{c_}").alias(c_) for c_ in compare_cols],
        F.lit("update").alias("op"),
        *stamps,
    )
    snap_types = {f.name: f.dataType for f in snapshot.schema.fields}
    deletes = j.filter(c_present & ~s_present).select(
        *[F.col(f"_ck_{k}").alias(k) for k in keys],
        *[
            F.lit(None).cast(snap_types[c_]).alias(c_)
            for c_ in compare_cols
        ],
        F.lit(DELETE_OP).alias("op"),
        *stamps,
    )
    return upserts.unionByName(deletes)


def snapshot_resync(
    sink: ParquetSnapshotSink,
    snapshot: DataFrame,
    resync_ts,
    batch_id: str,
    compare_cols: list[str] | None = None,
) -> dict:
    """Re-sync the sink to an authoritative full snapshot, writing
    only the drift.

    The periodic full-resync every production CDC pipeline needs (AWS
    DMS "full load + CDC" revalidation, Debezium blocking snapshots,
    ``MERGE ... WHEN NOT MATCHED BY SOURCE THEN DELETE``): an
    incrementally-maintained replica can be missing changes the log
    never delivered (retention gaps, filtered tables, pre-subscription
    history). Given a fresh authoritative dump of the source table,
    compute the MINIMAL change batch — upserts for missing/differing
    keys, delete tombstones for vanished keys — and apply it through
    the sink's ordinary exactly-once path, so the resync is
    idempotent on ``batch_id``, versioned, rollback-able, and visible
    in the change feed like any other batch.

    ``compare_cols`` defaults to every snapshot column that is not a
    key. The sink's order column is authored by the resync
    (``resync_ts`` is the merge stamp that makes the snapshot win —
    pick it at or above the snapshot's consistency watermark), so it
    is never part of the content compare. After the apply,
    ``sink.read()`` equals the snapshot on ``keys + compare_cols``;
    untouched rows keep their original stamps. Cost: one join of the
    two states + one O(drift) apply — repair proportional to the
    damage, same contract as :func:`verify_and_repair`, but driven by
    a row-level source of truth instead of the sink's own history.
    """
    keys = list(sink.keys)
    if compare_cols is None:
        compare_cols = [c for c in snapshot.columns if c not in keys]
    ts_col = sink.order_cols[0]
    seq_col = sink.order_cols[1] if len(sink.order_cols) > 1 else None
    batch = snapshot_diff(
        sink.read(),
        snapshot,
        keys,
        resync_ts,
        compare_cols,
        ts_col=ts_col,
        seq_col=seq_col,
    )
    return sink.apply(batch, batch_id)


def fsck(sink: ParquetSnapshotSink, deep: bool = False) -> dict:
    """Structural integrity audit of the sink's current branch state —
    the ``fsck`` every production table format grows (Delta FSCK,
    Iceberg's orphan/metadata validation), covering the failure class
    :func:`verify_and_repair` cannot: damage to the TABLE STRUCTURE
    rather than to row contents.

    Metadata-only checks (driver-side, no Spark job):

    - **missing_paths** — manifest-referenced data directories absent
      from disk or holding no parquet part (a reclaim raced a reader,
      a restore missed files, out-of-band deletion);
    - **dangling_stats** — zone-map/bloom entries (``file_stats`` /
      ``key_stats`` / ``col_stats`` / ``blooms``) keyed by paths NO
      chain references (metadata leak: harmless to reads but
      unbounded growth = a commit-path bug);
    - **duplicate_batch_ids** — the exactly-once ledger must be a set.

    ``deep=True`` adds ONE Spark job over every referenced path:
    **misplaced_rows** — rows whose key does not hash to the bucket
    directory holding them (would silently vanish from point lookups
    and bucket-pruned reads, which trust the layout). The claimed
    bucket is recovered from ``input_file_name``, the true bucket
    from the sink's own hash expression — build and probe share one
    definition, so a disagreement is a real misplacement, not a
    formula drift. Scale: the deep pass is a single scan with a
    codegen'd comparison — the same cost as one full read.

    Returns ``{"ok", "checked_paths", "missing_paths",
    "dangling_stats", "duplicate_batch_ids", "misplaced_rows"}``
    (``misplaced_rows`` is None unless ``deep``). Scoped to the
    handle's branch — audit each branch with its own handle.
    """
    import os

    m = sink.current_manifest()
    report: dict = {
        "ok": True,
        "checked_paths": 0,
        "missing_paths": [],
        "dangling_stats": [],
        "duplicate_batch_ids": [],
        "misplaced_rows": None,
    }
    if not m or not m.get("buckets"):
        return report
    referenced = sorted(
        {p for b in m["buckets"] for p in sink._paths_of(m, b)}
    )
    report["checked_paths"] = len(referenced)
    for p in referenced:
        d = os.path.join(sink.root, p)
        if not os.path.isdir(d) or not any(
            f.endswith(".parquet") for f in os.listdir(d)
        ):
            report["missing_paths"].append(p)
    ref_set = set(referenced)
    for kind in ("file_stats", "key_stats", "col_stats", "blooms"):
        for p in sorted(m.get(kind) or {}):
            if p not in ref_set:
                report["dangling_stats"].append(f"{kind}:{p}")
    ids = list(m.get("batch_ids") or [])
    report["duplicate_batch_ids"] = sorted(
        {i for i in ids if ids.count(i) > 1}
    )
    if deep and not report["missing_paths"]:
        df = sink._read_bucket_paths(referenced)
        claimed = F.regexp_extract(
            F.input_file_name(), r"_bucket=(\d+)", 1
        ).cast("int")
        report["misplaced_rows"] = df.filter(
            claimed != sink._bucket_expr()
        ).count()
    report["ok"] = not (
        report["missing_paths"]
        or report["dangling_stats"]
        or report["duplicate_batch_ids"]
        or (report["misplaced_rows"] or 0) > 0
    )
    return report
