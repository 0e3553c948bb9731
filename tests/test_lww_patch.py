"""Column-level LWW for partial-update change streams (lww_patch):
carry-forward of unchanged columns, the marker vs explicit-NULL
distinction, look-through-delete semantics, and reduction to plain
row-level LWW on dense inputs."""

from __future__ import annotations

from pyspark.sql import functions as F

from embulk_util_json_spark.operators.lww import lww_agg, lww_patch

KEYS = ["conv_id", "turn_idx"]
ORDER = ["ts", "seq"]
M = "__unchanged__"

COLS = ["conv_id", "turn_idx", "ts", "seq", "op", "role", "text", "tool"]


def _df(spark, rows):
    return spark.createDataFrame(rows, COLS)


def _final(df):
    rows = df.select("conv_id", "turn_idx", "op", "role", "text", "tool").collect()
    return {(r.conv_id, r.turn_idx): (r.op, r.role, r.text, r.tool) for r in rows}


def test_patch_carries_unchanged_columns_forward(spark):
    rows = [
        ("c1", 0, 1, 1, "insert", "user", "hello", "search"),
        # update restates text only; role/tool marked unchanged
        ("c1", 0, 2, 2, "update", M, "hello v2", M),
        # later update touches tool only
        ("c1", 0, 3, 3, "update", M, M, "browser"),
    ]
    got = _final(
        lww_patch(_df(spark, rows), KEYS, ORDER, ["role", "text", "tool"], M)
    )
    assert got == {("c1", 0): ("update", "user", "hello v2", "browser")}


def test_patch_explicit_null_sets_null_under_marker(spark):
    rows = [
        ("c1", 0, 1, 1, "insert", "user", "hello", "search"),
        # explicit NULL tool = SET NULL (not "unchanged") when a marker
        # is in play — the Debezium contract
        ("c1", 0, 2, 2, "update", M, M, None),
    ]
    got = _final(
        lww_patch(_df(spark, rows), KEYS, ORDER, ["role", "text", "tool"], M)
    )
    assert got == {("c1", 0): ("update", "user", "hello", None)}


def test_patch_null_means_unchanged_without_marker(spark):
    rows = [
        ("c1", 0, 1, 1, "insert", "user", "hello", "search"),
        ("c1", 0, 2, 2, "update", None, "hello v2", None),
    ]
    got = _final(
        lww_patch(_df(spark, rows), KEYS, ORDER, ["role", "text", "tool"], None)
    )
    assert got == {("c1", 0): ("update", "user", "hello v2", "search")}


def test_patch_never_present_column_is_null(spark):
    # key whose whole history is patch updates: never-carried column
    # resolves NULL (no insert to carry from)
    rows = [("c2", 1, 1, 1, "update", "user", M, "search")]
    got = _final(
        lww_patch(_df(spark, rows), KEYS, ORDER, ["role", "text", "tool"], M)
    )
    assert got == {("c2", 1): ("update", "user", None, "search")}


def test_patch_looks_through_delete_and_op_is_overall_winner(spark):
    rows = [
        ("c1", 0, 1, 1, "insert", "user", "hello", "search"),
        ("c1", 0, 2, 2, "delete", None, None, None),
        # resurrect with a patch update: text carries from before the
        # tombstone (column-level LWW over the full history)
        ("c1", 0, 3, 3, "update", "user", M, "browser"),
    ]
    tomb = F.col("op") == "delete"
    out = lww_patch(
        _df(spark, rows), KEYS, ORDER, ["role", "text", "tool"], M,
        absent_if=tomb,
    )
    got = _final(out.filter(F.col("op") != "delete"))
    assert got == {("c1", 0): ("update", "user", "hello", "browser")}
    # and when the tombstone IS the latest event, the key filters out
    out2 = lww_patch(
        _df(spark, rows[:2]), KEYS, ORDER, ["role", "text", "tool"], M,
        absent_if=tomb,
    )
    assert _final(out2.filter(F.col("op") != "delete")) == {}


def test_patch_on_dense_input_equals_row_level_lww(spark):
    rows = [
        ("c%d" % (i % 5), i % 3, i % 7, i, "update", "r%d" % (i % 4),
         "t%d" % i, "tool%d" % (i % 2))
        for i in range(200)
    ]
    df = _df(spark, rows)
    patch = _final(lww_patch(df, KEYS, ORDER, ["role", "text", "tool"], None))
    row = _final(lww_agg(df, KEYS, ORDER))
    assert patch == row


def test_patch_salted_equals_lww_patch(spark):
    """The salted two-stage split of the patch reduction is exact:
    shard winners keep their per-column stamps, so stage-2 merge
    re-enters them at the positions their values were written."""
    from embulk_util_json_spark.operators.lww import lww_patch_salted

    rows = []
    for i in range(1, 301):
        # one pathologically hot key plus a normal tail
        conv, turn = ("hot", 0) if i % 3 else ("c%d" % (i % 7), i % 4)
        r = i % 10
        if r == 0:
            rows.append((conv, turn, i // 3, i, "delete", None, None, None))
        elif r == 1:
            rows.append((conv, turn, i // 3, i, "insert",
                         "r%d" % (i % 3), "t%d" % i, "tool%d" % (i % 4)))
        else:
            rows.append((conv, turn, i // 3, i, "update",
                         M if i % 2 else "r%d" % (i % 3),
                         M if i % 5 else "t%d v2" % i,
                         None if i % 11 == 0 else M))
    df = _df(spark, rows)
    tomb = F.col("op") == "delete"
    want = lww_patch(df, KEYS, ORDER, ["role", "text", "tool"], M, absent_if=tomb)
    for buckets in (1, 4, 32):
        got = lww_patch_salted(
            df, KEYS, ORDER, ["role", "text", "tool"], M, absent_if=tomb,
            salt_buckets=buckets,
        )
        assert _final(got) == _final(want), f"salt_buckets={buckets}"


def test_patch_stamp_rejects_map_and_missing_columns(spark):
    from embulk_util_json_spark.operators.lww import patch_stamp

    df = spark.createDataFrame(
        [("c1", 0, 1, 1, {"k": "v"}, [{"k": "v"}], ([{"k": "v"}],))],
        "conv_id string, turn_idx int, ts long, seq long, attrs map<string,string>, "
        "tags array<map<string,string>>, doc struct<m: array<map<string,string>>>",
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="map-typed"):
        patch_stamp(df, ORDER, ["attrs"])
    # a map at any depth inside an array or struct is just as unorderable
    for nested in ("tags", "doc"):
        with _pytest.raises(ValueError, match="map-typed"):
            patch_stamp(df, ORDER, [nested])
        with _pytest.raises(ValueError, match="map-typed"):
            lww_patch(df, KEYS, ORDER, [nested])
    with _pytest.raises(ValueError, match="absent"):
        patch_stamp(df, ORDER, ["nope"])


def test_patch_oracle_takes_map_payload_by_order(spark):
    """A non-patch map column (the parser's ``_extras``) has no
    ordering: ``lww_patch`` takes it from the latest event, so over raw
    batches that carry it the oracle still equals the stamped
    reduction ``lww_agg(..., PATCH)``."""
    from embulk_util_json_spark.operators.lww import patch_stamp

    rows = [
        ("c1", 0, 1, 1, "insert", "user", "hello", "search"),
        ("c1", 0, 2, 2, "update", M, "hello v2", M),
        ("c1", 1, 1, 3, "insert", "user", "hi", M),
        ("c1", 0, 3, 4, "update", M, M, "browser"),
        ("c2", 0, 4, 5, "insert", "user", "x", "search"),
        ("c2", 0, 5, 6, "delete", None, None, None),
        ("c2", 0, 6, 7, "insert", M, "back", M),
    ]
    df = _df(spark, rows).withColumn(
        "_extras", F.create_map(F.lit("src"), F.col("seq").cast("string"))
    )
    patch = ["role", "text", "tool"]
    tomb = F.col("op") == "delete"
    got = lww_patch(df, KEYS, ORDER, patch, M, absent_if=tomb)
    want = lww_agg(
        patch_stamp(df, ORDER, patch, M, absent_if=tomb), KEYS, ORDER, patch
    )
    cols = [*COLS, "_extras"]
    assert sorted(map(str, got.select(*cols).collect())) == sorted(
        map(str, want.select(*cols).collect())
    )


def test_patch_marker_on_non_string_column(spark):
    """A non-string patch column under a string marker: the presence
    predicate compares in STRING space. The naive `col != lit(marker)`
    coerces the marker to the column type (NULL for a non-numeric
    marker), making presence NULL for every non-null value — every
    write would silently read as absent and the column would stay at
    its first value forever."""
    cols = ["conv_id", "turn_idx", "ts", "seq", "op", "score", "text"]
    rows = [
        ("c1", 0, 1, 1, "insert", 10, "hello"),
        ("c1", 0, 2, 2, "update", 42, M),      # score UPDATE must land
        ("c1", 0, 3, 3, "update", None, "v3"),  # explicit NULL write
    ]
    df = spark.createDataFrame(rows, ", ".join(
        f"{c} {'int' if c in ('turn_idx', 'score') else 'long' if c in ('ts', 'seq') else 'string'}"
        for c in cols
    ))
    out = lww_patch(
        df, KEYS, ORDER, patch_cols=["score", "text"], unchanged_marker=M
    ).collect()
    assert len(out) == 1
    r = out[0]
    # NULL under a marker is an explicit write: score ends NULL (seq 3
    # wins), having passed through 42 — NOT stuck at 10
    assert r.score is None and r.text == "v3"

    # and without the explicit-NULL tail, the int update itself lands
    out2 = lww_patch(
        spark.createDataFrame(rows[:2], df.schema), KEYS, ORDER,
        patch_cols=["score", "text"], unchanged_marker=M,
    ).collect()[0]
    assert out2.score == 42 and out2.text == "hello"


def test_numeric_marker_on_non_string_column_rejected(spark):
    """A numeric-looking marker on a non-string patch column is an
    ambiguous config (string-space comparison: '-1' matches int -1 but
    not double -1.0) — rejected loudly instead of silently resolving
    either way."""
    df = spark.createDataFrame(
        [("c1", 0, 1, 1, "insert", 10, "x")],
        "conv_id string, turn_idx int, ts long, seq long, op string, "
        "score int, text string",
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="numeric-looking"):
        lww_patch(
            df, KEYS, ORDER, patch_cols=["score", "text"],
            unchanged_marker="-1",
        )
    # string columns only: numeric markers stay allowed
    out = lww_patch(
        df.drop("score"), KEYS, ORDER, patch_cols=["text"],
        unchanged_marker="-1",
    )
    assert out.count() == 1
