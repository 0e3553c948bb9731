"""Deterministic CDC change-event generator (seed 42).

Synthesizes the FIXTURES.md T5 stream: JSON-encoded binlog/WAL-style
envelopes carrying transcript rows keyed (conv_id, turn_idx) per
BASELINE.json input_hint. Properties exercised on purpose:

- hot-conversation skew: conversation 0 receives ~20% of all events
  (north_star: "salted key-partitioned apply to defeat
  hot-conversation skew");
- duplicate deliveries: ~2% of events re-emitted with the same seq
  and identical payload (at-least-once transport);
- out-of-ts-order arrival: ts is NOT monotonic in seq, so
  last-writer-wins must order by (ts, seq), not arrival order;
- deletes as tombstones;
- optional schema evolution: events after ``evolve_after`` fraction
  carry an extra ``model`` field inside ``data`` (FIXTURES.md T7).

Everything is numpy-vectorized; json text assembly is one pass of
string concatenation (no per-row json.dumps — the fields are
controlled so no escaping is needed except for text, which is built
escape-free by construction).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROLES = np.array(["user", "assistant", "system", "tool"])
TOOLS = np.array(["", "search", "python", "browser"])  # "" → null
OPS = np.array(["insert", "update", "delete"])

BASE_TS = np.datetime64("2024-01-01T00:00:00")


def generate_events(
    n_events: int,
    n_convs: int = 50,
    n_turns: int = 40,
    seed: int = 42,
    hot_conv_share: float = 0.2,
    dup_rate: float = 0.02,
    delete_rate: float = 0.05,
    evolve_after: float | None = None,
    sort_by_seq: bool = False,
    seq_offset: int = 0,
    evolve_seq: int | None = None,
) -> pa.Table:
    """Return an arrow table (seq: int64, event_json: string).

    Deterministic for a given (n_events, n_convs, n_turns, seed, ...).
    ``sort_by_seq`` orders rows by log position ON THE NUMPY SIDE,
    before Arrow string assembly — an Arrow-side sort would gather the
    whole string column into one >2 GiB array past ~12M events.
    Row payloads are unchanged; duplicate-delivery rows share a seq
    and identical bytes, so tie order is unobservable.

    ``seq_offset`` / ``evolve_seq`` exist for CHUNKED generation (the
    256M+ soak path): a caller generating segment i of a larger
    stream passes the segment's absolute start seq and the absolute
    schema-evolution threshold, so seqs stay globally unique and
    contiguous and the ts drift / evolution point stay global
    properties. A chunked stream is NOT byte-identical to the
    monolithic one with the same seed (each chunk draws its own RNG)
    — it is the same DISTRIBUTION at a scale the monolithic path
    cannot reach; established soak scales keep using the monolithic
    path so their final_rows stay bit-comparable across rounds.
    """
    rng = np.random.default_rng(seed)
    n = int(n_events)
    seq_offset = int(seq_offset)

    # conversation choice: hot conv 0 gets hot_conv_share of traffic
    p = np.full(n_convs, (1.0 - hot_conv_share) / max(n_convs - 1, 1))
    p[0] = hot_conv_share if n_convs > 1 else 1.0
    conv = rng.choice(n_convs, size=n, p=p)
    turn = rng.integers(0, n_turns, size=n)

    op_draw = rng.random(n)
    op = np.where(
        op_draw < delete_rate, 2, np.where(op_draw < delete_rate + 0.45, 0, 1)
    )

    # out-of-order timestamps: seconds offset grows with seq but with
    # heavy jitter; collisions (same second) exercise the seq tie-break
    base_off = ((np.arange(n, dtype=np.int64) + seq_offset) * 3) // 1
    jitter = rng.integers(-600, 600, size=n)
    ts_sec = np.maximum(base_off + jitter, 0)
    seq = np.arange(n, dtype=np.int64) + seq_offset

    tool_i = rng.integers(0, len(TOOLS), size=n)

    # duplicate deliveries: re-emit a sample with identical seq+payload
    n_dup = int(n * dup_rate)
    if n_dup:
        dup_idx = rng.choice(n, size=n_dup, replace=False)
        order = rng.permutation(n + n_dup)
    else:
        dup_idx = np.array([], dtype=np.int64)
        order = rng.permutation(n)

    def col(a: np.ndarray) -> np.ndarray:
        return np.concatenate([a, a[dup_idx]])[order] if n_dup else a[order]

    # Small-cardinality string columns come from object-dtype lookup
    # tables (fancy indexing is C-speed; np.char.* is not).
    conv_lut = np.array([f"c{i:06d}" for i in range(n_convs)], dtype=object)
    turn_lut = np.array([str(i) for i in range(n_turns)], dtype=object)
    role_lut = np.array(
        [',"role":"' + r + '","text":"' for r in ROLES], dtype=object
    )
    tool_lut = np.array(
        [
            ',"tool":null' if t == "" else f',"tool":"{t}"'
            for t in TOOLS
        ],
        dtype=object,
    )
    op_lut = np.array([f'{{"op":"{o}","ts":"' for o in OPS], dtype=object)

    seq_o = col(seq)
    if sort_by_seq:
        perm = np.argsort(seq_o, kind="stable")
        seq_o = seq_o[perm]
        base_col = col

        def col(a: np.ndarray) -> np.ndarray:  # noqa: F811
            return base_col(a)[perm]

    conv_i = col(conv)
    turn_i = col(turn)
    conv_s = conv_lut[conv_i]
    turn_s = turn_lut[turn_i]
    op_s = op_lut[col(op)]
    ts_iso = np.datetime_as_string(BASE_TS + col(ts_sec).astype("timedelta64[s]")).astype(object)
    role_s = role_lut[turn_i % len(ROLES)]
    tool_frag = tool_lut[col(tool_i)]
    seq_s = seq_o.astype("U12").astype(object)

    if evolve_seq is None and evolve_after is not None:
        evolve_seq = seq_offset + int(n * evolve_after)
    if evolve_seq is not None:
        model_frag = np.where(seq_o >= int(evolve_seq), ',"model":"m-2"', "").astype(object)
    else:
        model_frag = np.broadcast_to(np.array("", dtype=object), len(seq_o))

    # arrow element-wise join is C-speed string assembly. Assembled in
    # bounded slices: a single pa.string() array caps at 2 GiB of
    # bytes (~12M events) — one chunk per slice keeps generation
    # O(chunk) memory and removes the cap (needed for the 32M+-event
    # scaling runs).
    import pyarrow.compute as pc

    m = len(seq_o)
    chunk_rows = 1 << 21  # ~2M rows ≈ 350 MB of JSON per chunk

    def join_slice(lo: int, hi: int) -> pa.Array:
        k = hi - lo

        def arr(x) -> pa.Array:
            return pa.array(x[lo:hi], type=pa.string())

        def const(s: str) -> pa.Array:
            return pa.array(
                np.broadcast_to(np.array(s, dtype=object), k), type=pa.string()
            )

        # text embeds key+seq so every update rewrites it deterministically
        return pc.binary_join_element_wise(
            arr(op_s), arr(ts_iso),
            const('","data":{"conv_id":"'), arr(conv_s), const('","turn_idx":'),
            arr(turn_s), arr(role_s),
            const("text "), arr(conv_s), const(" t"), arr(turn_s), const(" rev"), arr(seq_s),
            const('"'), arr(tool_frag), arr(model_frag), const("}}"),
            const(""),  # separator
        )

    event_json = pa.chunked_array(
        [join_slice(lo, min(lo + chunk_rows, m)) for lo in range(0, m, chunk_rows)]
    )

    return pa.table(
        {
            "seq": pa.array(seq_o, type=pa.int64()),
            "event_json": event_json,
        }
    )


def ensure_events_segments(
    dir_path: str,
    n_events: int,
    segments: int = 16,
    n_convs: int = 50,
    n_turns: int = 40,
    seed: int = 42,
    evolve_after: float | None = None,
    chunk_threshold: int = 130_000_000,
    **kwargs,
) -> str:
    """Materialize the stream as ``segments`` seq-contiguous parquet
    segment files (``seg-000.parquet`` …) — the WAL/binlog-shipping
    layout: producers close a segment and move on. A replay micro-batch
    then reads exactly its own segment files; no seq-range filtering of
    a monolithic file (which re-opens every split of the whole dataset
    per batch — measured ~3 s of footer/page-index opens per batch at
    8M events)."""
    done = os.path.join(dir_path, "_DONE")
    if os.path.exists(done):
        return dir_path
    os.makedirs(dir_path, exist_ok=True)
    if n_events > chunk_threshold:
        # CHUNKED generation for soak scales the monolithic path
        # cannot hold driver-side (256M events ≈ 100 GB of Python
        # string objects): each segment is generated independently
        # with its absolute seq range and its own RNG stream, so peak
        # memory is O(segment) regardless of total scale. Same
        # distribution, not byte-identical to the monolithic stream —
        # established scales (≤128M) keep the monolithic path so
        # their final_rows stay bit-comparable across rounds.
        per = (int(n_events) + segments - 1) // segments
        evolve_seq = (
            int(n_events * evolve_after) if evolve_after is not None else None
        )
        for i in range(segments):
            lo = i * per
            hi = min(int(n_events), lo + per)
            if hi <= lo:
                break
            chunk = generate_events(
                hi - lo, n_convs, n_turns, seed + i * 1_000_003,
                seq_offset=lo, evolve_seq=evolve_seq,
                sort_by_seq=True, **kwargs,
            )
            tmp = os.path.join(dir_path, f".seg-{i:03d}.tmp")
            pq.write_table(chunk, tmp, row_group_size=1 << 18)
            os.rename(tmp, os.path.join(dir_path, f"seg-{i:03d}.parquet"))
            del chunk
        with open(done, "w") as fh:
            fh.write(str(n_events))
        return dir_path
    # seq order comes from the numpy side (sort_by_seq): an Arrow-side
    # sort/take would gather the whole string column into one >2 GiB
    # array past ~12M events. Sorted chunks slice cleanly.
    table = generate_events(
        n_events, n_convs, n_turns, seed, evolve_after=evolve_after,
        sort_by_seq=True, **kwargs
    )
    per = (table.num_rows + segments - 1) // segments
    for i in range(segments):
        chunk = table.slice(i * per, per)
        if chunk.num_rows == 0:
            break
        tmp = os.path.join(dir_path, f".seg-{i:03d}.tmp")
        pq.write_table(chunk, tmp, row_group_size=1 << 18)
        os.rename(tmp, os.path.join(dir_path, f"seg-{i:03d}.parquet"))
    with open(done, "w") as fh:
        fh.write(str(n_events))
    return dir_path
