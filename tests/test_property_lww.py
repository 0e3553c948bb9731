"""Property-based hardening of the LWW core (SURVEY §7.3 hard-part
#1): for random event multisets with deliberate (ts) and (ts, seq)
ties, duplicate deliveries, and arbitrary arrival order, all three
engine variants (agg / window / salted) must equal an independent
pure-Python fold, and the reduction must be arrival-order-insensitive
and duplicate-delivery-idempotent — the properties that make replay +
at-least-once delivery safe.

One Spark roundtrip per example → small example budget; the pure-
Python mirror of the same properties runs with a generous budget.
"""

from __future__ import annotations

import random

from hypothesis import HealthCheck, given, settings, strategies as st

from embulk_util_json_spark.operators.lww import lww_agg, lww_salted, lww_window

# events: (key, ts, seq, payload) with tiny domains to force ties and
# hot keys. seq is NOT necessarily unique across rows -> duplicate
# deliveries of the same (ts, seq) carry identical payloads (the
# at-least-once contract: a redelivery is byte-identical).
_event = st.tuples(
    st.sampled_from(["k0", "k1", "k2"]),
    st.integers(min_value=0, max_value=3),
    st.integers(min_value=0, max_value=9),
)


def _payload(key: str, ts: int, seq: int) -> str:
    return f"{key}|{ts}|{seq}"


def _rows(events):
    return [(k, t, s, _payload(k, t, s)) for k, t, s in events]


def _oracle(rows):
    best: dict = {}
    for k, t, s, p in rows:
        if k not in best or (t, s) > best[k][:2]:
            best[k] = (t, s, p)
    return {k: v[2] for k, v in best.items()}


def _collect(df):
    return {r.key: r.payload for r in df.collect()}


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(events=st.lists(_event, min_size=1, max_size=24), seed=st.integers(0, 2**16))
def test_lww_variants_equal_oracle_any_order(spark, events, seed):
    rows = _rows(events)
    random.Random(seed).shuffle(rows)  # arrival order must not matter
    df = spark.createDataFrame(
        rows, "key string, ts int, seq int, payload string"
    )
    want = _oracle(rows)
    assert _collect(lww_agg(df, ["key"], ["ts", "seq"])) == want
    assert _collect(lww_window(df, ["key"], ["ts", "seq"])) == want
    assert (
        _collect(lww_salted(df, ["key"], ["ts", "seq"], salt_buckets=4))
        == want
    )


@settings(max_examples=8, deadline=None)
@given(
    events=st.lists(_event, min_size=1, max_size=16),
    dup_idx=st.lists(st.integers(0, 15), max_size=8),
)
def test_lww_duplicate_delivery_idempotent(spark, events, dup_idx):
    rows = _rows(events)
    dups = rows + [rows[i % len(rows)] for i in dup_idx]
    a = lww_agg(
        spark.createDataFrame(rows, "key string, ts int, seq int, payload string"),
        ["key"],
        ["ts", "seq"],
    )
    b = lww_agg(
        spark.createDataFrame(dups, "key string, ts int, seq int, payload string"),
        ["key"],
        ["ts", "seq"],
    )
    assert _collect(a) == _collect(b) == _oracle(rows)


@settings(max_examples=300, deadline=None)
@given(
    events=st.lists(_event, min_size=1, max_size=40),
    cut=st.integers(0, 40),
)
def test_lww_fold_is_associative_pure(events, cut):
    """Pure-Python mirror with a big budget: folding a prefix and a
    suffix separately, then folding the two partial states, equals one
    fold — the associativity that makes MOR chain-merge ≡ sequential
    apply and bootstrap handoff exact."""
    rows = _rows(events)
    cut = min(cut, len(rows))
    left, right = rows[:cut], rows[cut:]

    def fold_state(state_rows):
        st_ = _oracle(state_rows)
        # re-materialize partial state as rows (ts, seq) of the winner
        out = []
        for k, p in st_.items():
            _, t, s = p.split("|")
            out.append((k, int(t), int(s), p))
        return out

    merged = _oracle(fold_state(left) + fold_state(right))
    assert merged == _oracle(rows)


# ---- lww_patch (column-level LWW, partial updates) ------------------

_M = "__unchanged__"

# per-event column values: a real value, the unchanged marker, or an
# explicit NULL write — the three presence states lww_patch must
# distinguish
_colval = st.sampled_from(["v1", "v2", "v3", _M, None])

_patch_event = st.tuples(
    st.sampled_from(["k0", "k1"]),
    st.integers(0, 3),
    st.integers(0, 30),
    _colval,
    _colval,
)


def _patch_oracle(rows):
    """Pure fold: per key, per column, value of the max-(ts,seq) row
    where the column was present (≠ marker); row-level winner for the
    tombstone decision is the overall max."""
    out = {}
    for k, t, s, a, b in rows:
        e = out.setdefault(k, {"ord": None, "a": None, "b": None})
        for col, v in (("a", a), ("b", b)):
            if v != _M:
                prev = e.get(col + "_ord")
                if prev is None or (t, s) > prev:
                    e[col + "_ord"] = (t, s)
                    e[col] = v
        if e["ord"] is None or (t, s) > e["ord"]:
            e["ord"] = (t, s)
    return {k: (e["a"], e["b"]) for k, e in out.items()}


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    events=st.lists(_patch_event, min_size=1, max_size=20, unique_by=lambda e: (e[0], e[1], e[2])),
    seed=st.integers(0, 2**16),
    dup_idx=st.lists(st.integers(0, 19), max_size=4),
)
def test_lww_patch_equals_pure_fold_any_order_with_dups(spark, events, seed, dup_idx):
    from embulk_util_json_spark.operators.lww import lww_patch

    rows = list(events)
    rows += [rows[i % len(rows)] for i in dup_idx]  # at-least-once
    random.Random(seed).shuffle(rows)  # arrival order must not matter
    df = spark.createDataFrame(
        rows, "key string, ts int, seq int, a string, b string"
    )
    got = {
        r.key: (r.a, r.b)
        for r in lww_patch(df, ["key"], ["ts", "seq"], ["a", "b"], _M).collect()
    }
    assert got == _patch_oracle(events)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    events=st.lists(
        _patch_event, min_size=1, max_size=20,
        unique_by=lambda e: (e[0], e[1], e[2]),
    ),
    cut=st.integers(0, 20),
    seed=st.integers(0, 2**16),
)
def test_patch_evolution_alignment_equals_full_history(spark, events, cut, seed):
    """The algebra behind metadata-only patch-column evolution
    (``ParquetSnapshotSink.evolve_patch_cols`` additive path): a
    prefix of the stream stamped WITHOUT column ``b`` (it did not
    exist yet), aligned to (NULL value, NULL stamp), then reduced
    together with the stamped suffix, must equal ``lww_patch`` over a
    full history in which prefix events simply never carry ``b`` —
    for ANY evolution cut point and arrival order."""
    import random as _random

    from pyspark.sql import functions as F

    from embulk_util_json_spark.operators.lww import (
        PATCH_ORD_PREFIX,
        lww_agg,
        lww_patch,
        patch_stamp,
    )

    rows = list(events)
    cut = min(cut, len(rows))
    prefix, suffix = rows[:cut], rows[cut:]
    _random.Random(seed).shuffle(prefix)
    _random.Random(seed + 1).shuffle(suffix)

    pre = spark.createDataFrame(
        [(k, t, s, a) for k, t, s, a, _ in prefix] or [],
        "key string, ts int, seq int, a string",
    )
    post = spark.createDataFrame(
        suffix or [], "key string, ts int, seq int, a string, b string"
    )
    pre_stamped = patch_stamp(pre, ["ts", "seq"], ["a"], _M)
    # metadata-only evolution alignment: typed-NULL value + NULL stamp
    pre_aligned = pre_stamped.select(
        "*",
        F.lit(None).cast("string").alias("b"),
        F.lit(None).cast("struct<ts:int,seq:int>").alias(PATCH_ORD_PREFIX + "b"),
    )
    post_stamped = patch_stamp(post, ["ts", "seq"], ["a", "b"], _M)
    merged = lww_agg(
        pre_aligned.unionByName(post_stamped), ["key"], ["ts", "seq"], ["a", "b"]
    )
    got = {r.key: (r.a, r.b) for r in merged.collect()}

    # oracle: one lww_patch over a history where prefix rows carry the
    # marker for b (= not present)
    full = [(k, t, s, a, _M) for k, t, s, a, _ in prefix] + suffix
    df = spark.createDataFrame(
        full, "key string, ts int, seq int, a string, b string"
    )
    want = {
        r.key: (r.a, r.b)
        for r in lww_patch(df, ["key"], ["ts", "seq"], ["a", "b"], _M).collect()
    }
    assert got == want


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    events=st.lists(
        _patch_event, min_size=1, max_size=20,
        unique_by=lambda e: (e[0], e[1], e[2]),
    ),
    salt=st.integers(2, 8),
    dup_idx=st.lists(st.integers(0, 19), max_size=4),
)
def test_lww_patch_salted_equals_plain_for_any_salt(spark, events, salt, dup_idx):
    """The two-stage salted split of the column-level reduction must be
    invisible for ANY salt bucket count and under duplicate delivery —
    the associativity/commutativity the skew split rests on."""
    from embulk_util_json_spark.operators.lww import lww_patch, lww_patch_salted

    rows = list(events) + [events[i % len(events)] for i in dup_idx]
    df = spark.createDataFrame(
        rows, "key string, ts int, seq int, a string, b string"
    )
    plain = {
        r.key: (r.a, r.b)
        for r in lww_patch(df, ["key"], ["ts", "seq"], ["a", "b"], _M).collect()
    }
    salted = {
        r.key: (r.a, r.b)
        for r in lww_patch_salted(
            df, ["key"], ["ts", "seq"], ["a", "b"], _M,
            salt_buckets=salt,
        ).collect()
    }
    assert salted == plain == _patch_oracle(events)
