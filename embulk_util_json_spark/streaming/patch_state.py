"""Continuously-resolved partial-update state (applyInPandasWithState).

The patch-mode sink (``sinks/snapshot.ParquetSnapshotSink(patch_cols=…)``)
maintains column-level LWW in the LAKE: exactly-once, replayable, the
system of record. This module is its STREAMING twin for consumers that
want the resolved row continuously — a live transcript view, a cache
feed, monitoring — without waiting for a lake read: per-key state in
the Spark state store holds the same information the sink's ``_po_``
stamps persist (per patch column: latest value + the (ts, seq) it was
written at; plus the row-level winner's op/position), merged with each
micro-batch under the identical algebra (``operators.lww.lww_patch``
semantics — presence = not ``unchanged_marker`` if given else
non-NULL; tombstone rows carry no column payload; carry-forward looks
through deletes; the row-level winner's op decides survival).

Emission: one resolved snapshot per touched key per micro-batch
(operator output mode ``append`` — each row is a closed snapshot, any
sink works; consumers keep the row with the highest (ts, seq) per
key). Because the merge is the same commutative/associative column-
wise max the sink uses, out-of-order delivery ACROSS micro-batches
resolves identically to the batch operator — pinned in tests against
``lww_patch`` over the full raw history.

Scale notes: state is one row-level position + one (value, position)
per patch column per key — bounded by live keys, partitioned by the
groupBy key across executors, checkpointed by the state store. Arrow
batches in/out; the per-group pandas work is two column-wise sorts,
no per-row Python in the hot path beyond the group loop the operator
itself defines.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame

from ..sources.events import KEY_COLS, ORDER_COLS


def resolved_patch_state(
    changes: DataFrame,
    patch_cols: list[str],
    keys: list[str] | None = None,
    order_cols: list[str] | None = None,
    unchanged_marker: str | None = None,
    state_ttl_sec: float | None = None,
    watermark_delay_sec: float = 0.0,
) -> DataFrame:
    """Streaming column-level LWW: the resolved patched row per key,
    maintained across micro-batches in the state store.

    ``changes``: a *streaming* DataFrame carrying ``keys`` +
    ``order_cols`` + ``op`` + ``patch_cols`` (e.g. the output of
    ``parse_change_events``, optionally column-pruned).
    Rows with NULL key or NULL order values must be quarantined
    upstream (the runner's malformed-row path) — they are dropped
    here, not merged.

    ``state_ttl_sec`` bounds the state store for unbounded key spaces
    (conversations at 10^10-event scale are finite-lived; without a
    TTL, state grows with EVERY key ever seen, not live keys): a key
    whose latest EVENT TIME falls ``state_ttl_sec`` behind the
    watermark is evicted. Event-time, not processing-time, for two
    reasons: (a) replay determinism — the same stream evicts the same
    keys at the same points, so a checkpoint-restarted or re-run query
    resolves identically (the module's core contract); (b) Spark's
    processing-time timeout keeps ``availableNow``/batch-drain
    triggers scheduling no-data batches forever (its
    ``shouldRunAnotherBatch`` is unconditionally true), so the query
    never terminates. ``watermark_delay_sec`` is the usual lateness
    allowance feeding the watermark (TTL mode only).

    SEMANTIC TRADE-OFF, opt-in: a patch arriving after eviction
    resolves with no carry-forward (unpatched columns NULL) and loses
    out-of-order protection against pre-eviction positions, so set the
    TTL well beyond the feed's replay/lateness horizon. The patch-mode
    SINK remains the system of record — its stamps never expire; this
    view is the cache tier."""
    keys = keys or KEY_COLS
    order_cols = order_cols or ORDER_COLS
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    by_name = {f.name: f.dataType.simpleString() for f in changes.schema.fields}
    missing = [c for c in [*keys, *order_cols, "op", *patch_cols] if c not in by_name]
    if missing:
        raise ValueError(f"columns absent from the stream: {missing}")
    # Stricter than the batch operator: lww_patch handles array-typed
    # patch columns (Spark arrays are orderable), but this operator's
    # per-group pandas merge uses scalar NULL checks (pd.isna) and
    # scalar state slots — container values would crash or corrupt
    # state mid-stream. Reject them up front.
    bad = [
        c for c in patch_cols
        if by_name[c].partition("<")[0] in ("map", "array", "struct")
    ]
    if bad:
        raise ValueError(
            f"non-scalar columns cannot be patch columns here: {bad} "
            "(streaming state holds scalar slots; use the batch "
            "lww_patch or the patch-mode sink for container types)"
        )

    out_schema = ", ".join(
        f"{c} {by_name[c]}" for c in [*keys, "op", *order_cols, *patch_cols]
    )
    state_fields = [f"op {by_name['op']}"]
    state_fields += [f"{o} {by_name[o]}" for o in order_cols]
    for c in patch_cols:
        state_fields.append(f"{c} {by_name[c]}")
        state_fields += [f"{c}__{o} {by_name[o]}" for o in order_cols]
    state_schema = ", ".join(state_fields)

    n_ord = len(order_cols)
    marker = unchanged_marker

    if state_ttl_sec is not None and state_ttl_sec <= 0:
        # falsy-zero must not silently mean "no TTL" — that is the
        # exact unbounded-state failure the parameter exists to prevent
        raise ValueError(f"state_ttl_sec must be > 0, got {state_ttl_sec}")
    ttl_ms = int(state_ttl_sec * 1000) if state_ttl_sec is not None else None
    ts_col = order_cols[0]
    if ttl_ms is not None and by_name[ts_col] != "timestamp":
        raise ValueError(
            f"state_ttl_sec needs a timestamp first order column, got "
            f"{ts_col!r}: {by_name[ts_col]} (event-time TTL rides the "
            "watermark)"
        )
    # Arrow hands the pandas UDF tz-NAIVE timestamps rendered in the
    # session timezone, while GroupState.getCurrentWatermarkMs /
    # setTimeoutTimestamp speak true epoch-UTC ms. Capture the session
    # tz at plan build and localize before converting, or a non-UTC
    # session would skew every deadline by the UTC offset (west-of-UTC:
    # deadlines land in the past → TTL collapses to one watermark tick).
    session_tz = changes.sparkSession.conf.get(
        "spark.sql.session.timeZone", "UTC"
    )

    def _arm(state, last_ts) -> None:
        """Schedule eviction at (latest event ts) + TTL, clamped above
        the current watermark (Spark rejects deadlines <= watermark —
        a key already idle past its TTL at arm time evicts on the next
        watermark tick)."""
        ts = pd.Timestamp(last_ts)
        if ts.tzinfo is None:
            ts = ts.tz_localize(session_tz)
        deadline = int(ts.value // 1_000_000) + ttl_ms
        state.setTimeoutTimestamp(max(deadline, state.getCurrentWatermarkMs() + 1))

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        # TTL eviction: fired only for keys whose deadline fell behind
        # the advancing watermark (no new rows this batch) — drop the
        # slots and emit nothing; the lake sink keeps the history.
        if ttl_ms is not None and state.hasTimedOut:
            state.remove()
            return
        # unpack state: row-level (op, order...), then per patch col
        # (value, order...)
        if state.exists:
            flat = list(state.get)
        else:
            flat = [None] * (1 + n_ord + len(patch_cols) * (1 + n_ord))
        row_op, row_ord = flat[0], tuple(flat[1 : 1 + n_ord])
        col_state = {}
        base = 1 + n_ord
        for i, c in enumerate(patch_cols):
            s = base + i * (1 + n_ord)
            col_state[c] = (flat[s], tuple(flat[s + 1 : s + 1 + n_ord]))

        def beats(a: tuple, b: tuple) -> bool:
            """a > b over the order tuple; None order = never written."""
            if b is None or any(v is None for v in b):
                return True
            if a is None or any(v is None for v in a):
                return False
            return tuple(a) > tuple(b)

        touched = False
        for pdf in pdfs:
            pdf = pdf.dropna(subset=list(order_cols))
            if not len(pdf):
                continue
            touched = True
            srt = pdf.sort_values(list(order_cols), kind="stable")
            top = srt.iloc[-1]
            cand_ord = tuple(top[o] for o in order_cols)
            if beats(cand_ord, row_ord):
                row_op, row_ord = top["op"], cand_ord
            not_delete = srt["op"] != "delete"
            for c in patch_cols:
                if marker is not None:
                    present = (srt[c] != marker) | srt[c].isna()
                else:
                    present = srt[c].notna()
                sub = srt[present & not_delete]
                if not len(sub):
                    continue
                last = sub.iloc[-1]
                c_ord = tuple(last[o] for o in order_cols)
                if beats(c_ord, col_state[c][1]):
                    v = last[c]
                    col_state[c] = (None if pd.isna(v) else v, c_ord)

        if not touched:
            if ttl_ms is not None and state.exists and row_ord[0] is not None:
                _arm(state, row_ord[0])  # re-arm, don't evict
            return
        flat_out = [row_op, *row_ord]
        for c in patch_cols:
            v, o = col_state[c]
            flat_out += [v, *o]
        state.update(tuple(flat_out))
        if ttl_ms is not None:
            _arm(state, row_ord[0])
        out = {k: [v] for k, v in zip(keys, key)}
        out["op"] = [row_op]
        for i, o in enumerate(order_cols):
            out[o] = [row_ord[i]]
        for c in patch_cols:
            out[c] = [col_state[c][0]]
        yield pd.DataFrame(out)

    src = changes.dropna(subset=keys)
    if ttl_ms is not None:
        src = src.withWatermark(ts_col, f"{watermark_delay_sec} seconds")
    return src.groupBy(*keys).applyInPandasWithState(
        update,
        out_schema,
        state_schema,
        "append",
        GroupStateTimeout.EventTimeTimeout
        if ttl_ms is not None
        else GroupStateTimeout.NoTimeout,
    )
