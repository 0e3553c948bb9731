"""Declarative MERGE INTO over a ParquetSnapshotSink — the Delta /
Iceberg DML surface (`MERGE INTO t USING s ON keys WHEN MATCHED THEN
UPDATE/DELETE WHEN NOT MATCHED THEN INSERT`) with IMPERATIVE clause
semantics: the clauses decide the outcome, not LWW event order. This
is the interactive-DML twin of the streaming ``apply`` path (which is
deliberately a pure LWW monoid so replay is order-insensitive);
reference parity: embulk-util-json's host pipeline hands rows to an
output plugin that owns MERGE semantics — here the engine owns them.

Scale design: the merge touches ONLY the bucket chains containing
source keys — one distinct-buckets metadata collect on the source
keys, a probe-pruned read of those chains, one full-outer shuffle join
of (affected state) × (source), and a copy-on-write rewrite of exactly
the affected buckets, committed atomically under the same manifest
protocol (idempotent on ``batch_id``). A 1%-of-keys source rewrites
~1% of the table; nothing is O(table).

Replay interaction (documented contract, pinned in tests): merged
rows re-enter the LWW algebra at ``(source ts, target seq + 1)`` —
a binlog event NEWER than the merge still beats it, a replayed
pre-merge event still loses, and the +1 breaks the tie against the
exact row the update replaced. Fresh inserts enter at ``(ts, 0)``.
Row-level tables only: a patch-mode table's stamped column history
has no single row an imperative UPDATE could replace.
"""

from __future__ import annotations

import time
import uuid

from pyspark.sql import DataFrame, Observation, functions as F

from .snapshot import BUCKET_COL, META_COLS, ParquetSnapshotSink


def _pred(p, default):
    if p is None or isinstance(p, bool):
        return F.lit(bool(default if p is None else p))
    return F.expr(p) if isinstance(p, str) else p


def merge_into(
    sink: ParquetSnapshotSink,
    source: DataFrame,
    batch_id: str,
    when_matched_update: bool | dict | None = True,
    when_matched_delete=None,
    when_not_matched_insert=True,
    validate_source: bool = True,
) -> dict:
    """MERGE ``source`` into ``sink``. Clause arguments:

    - ``when_matched_delete``: predicate (SQL string or Column; may
      reference ``s.<col>`` / ``t.<col>``) — matched rows satisfying
      it are tombstoned (CDC delete: the change feed sees it,
      ``compact`` GCs it). Evaluated before the update clause, like
      SQL MERGE clause order.
    - ``when_matched_update``: ``True`` (take every source payload
      column), a ``{col: expr}`` dict (expr over ``s.``/``t.``;
      unlisted columns keep the target value), or ``None`` (matched
      rows pass through unchanged).
    - ``when_not_matched_insert``: ``True``/``False`` or a predicate
      over ``s.`` — unmatched source rows to insert. A key whose
      current state is a tombstone counts as NOT matched (the row
      does not exist), exactly like Delta/Iceberg.

    ``source`` must carry the sink's key columns plus every payload
    column (for dict-updates, every column the exprs reference).
    Multiple source rows per key violate SQL MERGE semantics and
    raise when ``validate_source`` (one count-distinct pass)."""
    if sink.patch_cols:
        raise ValueError(
            "merge_into supports row-level tables only: a patch-mode "
            "table's stamped column history has no single row an "
            "imperative UPDATE could replace (use apply with patch "
            "events instead)"
        )
    t0 = time.time()
    manifest = sink.current_manifest() or sink._empty_manifest()
    sink._adopt(manifest)
    if batch_id in manifest["batch_ids"]:
        return {"batch_id": batch_id, "skipped": True, "reason": "already-applied"}
    missing = [k for k in sink.keys if k not in source.columns]
    if missing:
        raise ValueError(f"source is missing key columns {missing}")
    if validate_source:
        dup = (
            source.groupBy(*sink.keys).count().filter(F.col("count") > 1).limit(1)
        )
        if dup.count():
            raise ValueError(
                "source has multiple rows for the same key (SQL MERGE "
                "cardinality violation) — pre-reduce the source"
            )

    # Affected buckets: metadata-sized distinct over source keys.
    affected = sorted(
        int(r.b)
        for r in source.select(
            sink._bucket_expr(F.col(sink.bucket_by)).alias("b")
        )
        .distinct()
        .collect()
    )
    merged, obs = (
        _merged_rows(
            sink, manifest, source, affected, batch_id, when_matched_update,
            when_matched_delete, when_not_matched_insert,
        )
        if affected
        else (None, None)
    )

    def record(seen, counts, _):
        if merged is None:  # an empty source still commits its batch_id
            return {"batch_id": batch_id, "merge_into": True, "change_rows": 0}
        return {
            "batch_id": batch_id,
            "merge_into": True,
            "change_rows": int(obs.get["rows_out"]),
            "matched_updated": int(obs.get["update"]),
            "matched_deleted": int(obs.get["delete"]),
            "inserted": int(obs.get["insert"]),
            "passthrough": int(obs.get["keep"]),
            "affected_buckets": len(affected),
            "rows_per_bucket": counts,
        }

    # copy-on-write: an affected chain is emptied in place (the map
    # keeps its order) and holds only its new level
    keep = {**sink._chains(manifest), **dict.fromkeys(map(str, affected), [])}
    new = sink._write_level(
        manifest, merged, keep, record, t0,
        **sink._batch_fields(manifest, batch_id, merged),
    )
    return new["applies"][-1]


def _merged_rows(
    sink: ParquetSnapshotSink,
    manifest: dict,
    source: DataFrame,
    affected: list[int],
    batch_id: str,
    upd,
    when_matched_delete,
    when_not_matched_insert,
) -> tuple[DataFrame, Observation]:
    """The merged rows of the affected buckets (carrying ``_bucket``)
    and the Observation counting each clause's rows."""
    old_paths = [p for b in affected for p in sink._paths_of(manifest, str(b))]
    if old_paths:
        old = sink._read_bucket_paths(old_paths).filter(
            F.col(sink.keys[0]).isNotNull()
        )
        old = sink._reduce(old, sink.keys, manifest=manifest)
    else:
        old = (
            source.limit(0)
            .withColumn("op", F.lit(None).cast("string"))
            .withColumn("seq", F.lit(None).cast("long"))
        )
    payload_cols = [
        c
        for c in old.columns
        if c not in sink.keys and c not in META_COLS and c != BUCKET_COL
    ]
    if upd is True or (
        when_not_matched_insert is not False and when_not_matched_insert is not None
    ):
        # underscore columns (the ``_extras`` evolution rider) are
        # sink-internal: never required from a MERGE source — they
        # pass through from the target via _payload's fallback
        absent = [
            c
            for c in payload_cols
            if c not in source.columns and not c.startswith("_")
        ]
        if absent:
            raise ValueError(
                f"source is missing payload columns {absent} required by "
                "the update/insert clauses"
            )

    t, s = old.alias("t"), source.alias("s")
    on = None
    for k in sink.keys:
        c = F.col(f"t.{k}") == F.col(f"s.{k}")
        on = c if on is None else (on & c)
    j = t.join(s, on, "full_outer")

    t_exists = F.col(f"t.{sink.keys[0]}").isNotNull()
    s_exists = F.col(f"s.{sink.keys[0]}").isNotNull()
    matched = t_exists & s_exists & (F.col("t.op") != F.lit("delete"))
    del_pred = _pred(when_matched_delete, False)
    ins_pred = _pred(when_not_matched_insert, True)
    action = (
        F.when(matched & del_pred, F.lit("delete"))
        .when(matched & F.lit(upd is not None), F.lit("update"))
        .when(s_exists & ~matched & ins_pred, F.lit("insert"))
        .when(t_exists, F.lit("keep"))
        .otherwise(F.lit("drop"))
    )

    def _payload(c: str):
        t_c = F.col(f"t.{c}") if c in old.columns else F.lit(None)
        s_c = F.col(f"s.{c}") if c in source.columns else t_c
        if isinstance(upd, dict):
            upd_c = F.expr(upd[c]) if c in upd else t_c
        else:
            upd_c = s_c
        return (
            F.when(F.col("_action") == "update", upd_c)
            .when(F.col("_action") == "insert", s_c)
            .otherwise(t_c)  # keep + delete tombstones keep target payload
            .alias(c)
        )

    obs = Observation(f"merge-{batch_id}-{uuid.uuid4().hex[:8]}")
    merged = (
        j.withColumn("_action", action)
        .filter(F.col("_action") != "drop")
        .select(
            *[F.coalesce(F.col(f"s.{k}"), F.col(f"t.{k}")).alias(k) for k in sink.keys],
            *[_payload(c) for c in payload_cols],
            F.when(F.col("_action") == "delete", F.lit("delete"))
            .when(F.col("_action") == "insert", F.lit("insert"))
            .when(F.col("_action") == "update", F.lit("update"))
            .otherwise(F.col("t.op"))
            .alias("op"),
            # updates/deletes/tombstone-replacing inserts continue the
            # target row's seq line (+1 breaks the tie against the
            # exact row replaced); only genuinely fresh keys start at 0
            F.when(
                F.col("_action").isin("update", "delete", "insert"),
                F.coalesce(F.col("t.seq") + 1, F.lit(0)),
            )
            .otherwise(F.col("t.seq"))
            .cast("long")
            .alias("seq"),
            F.col("_action"),
        )
        .observe(
            obs,
            F.count(F.lit(1)).alias("rows_out"),
            *[
                F.sum(F.when(F.col("_action") == a, 1).otherwise(0)).alias(a)
                for a in ("update", "delete", "insert", "keep")
            ],
        )
        .drop("_action")
        .withColumn(BUCKET_COL, sink._bucket_expr())
    )
    return merged, obs
