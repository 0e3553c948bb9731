"""Golden tests for the IcebergSink SQL builders.

The sandbox has no iceberg-spark-runtime jar, so the sink can't
execute — but every statement it would run is produced by a pure
builder, and the *text* is the contract: these tests pin the DDL, the
exactly-once log read/write pair, and the LWW MERGE shape (tombstone
retention, struct-tuple ordering, explicit INSERT column list) so a
regression in generated SQL fails without a cluster.
"""

from embulk_util_json_spark.sinks.iceberg import (
    add_column_sql,
    applied_check_sql,
    batchlog_table,
    compact_sql,
    create_batchlog_sql,
    create_table_sql,
    log_batch_sql,
    merge_upsert_sql,
)

TABLE = "lake.db.transcripts"
KEYS = ["conv_id", "turn_idx"]
ORDER = ["ts", "seq"]
COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts", "seq", "op"]


def test_create_table_golden():
    sql = create_table_sql(
        TABLE,
        [("conv_id", "string"), ("turn_idx", "int"), ("text", "string")],
        32,
        "conv_id",
    )
    assert sql == (
        "CREATE TABLE IF NOT EXISTS lake.db.transcripts "
        "(conv_id string, turn_idx int, text string) USING iceberg "
        "PARTITIONED BY (bucket(32, conv_id)) "
        "TBLPROPERTIES ('format-version'='2', "
        "'write.merge.mode'='merge-on-read', "
        "'write.distribution-mode'='hash')"
    )


def test_batchlog_roundtrip_consistency():
    # the exactly-once contract: what apply() writes is what
    # _applied() reads — same table, same column. (Round 1 wrote a
    # table property and read the snapshot summary: unfalsifiable.)
    assert batchlog_table(TABLE) == "lake.db.transcripts_batchlog"
    create = create_batchlog_sql(TABLE)
    assert create == (
        "CREATE TABLE IF NOT EXISTS lake.db.transcripts_batchlog "
        "(batch_id string, applied_at timestamp) USING iceberg"
    )
    write = log_batch_sql(TABLE, "seg-000042")
    read = applied_check_sql(TABLE, "seg-000042")
    assert write == (
        "INSERT INTO lake.db.transcripts_batchlog "
        "VALUES ('seg-000042', current_timestamp())"
    )
    assert read == (
        "SELECT batch_id FROM lake.db.transcripts_batchlog "
        "WHERE batch_id = 'seg-000042' LIMIT 1"
    )
    # both statements target the same log table and quote the same id
    assert batchlog_table(TABLE) in write and batchlog_table(TABLE) in read
    assert "'seg-000042'" in write and "'seg-000042'" in read


def test_merge_golden():
    sql = merge_upsert_sql(TABLE, "_staged_b1", KEYS, ORDER, COLS)
    assert sql == (
        "MERGE INTO lake.db.transcripts t USING _staged_b1 s "
        "ON t.conv_id = s.conv_id AND t.turn_idx = s.turn_idx "
        "WHEN MATCHED AND struct(s.ts, s.seq) > struct(t.ts, t.seq) "
        "THEN UPDATE SET t.role = s.role, t.text = s.text, "
        "t.tool = s.tool, t.ts = s.ts, t.seq = s.seq, t.op = s.op "
        "WHEN NOT MATCHED THEN INSERT "
        "(conv_id, turn_idx, role, text, tool, ts, seq, op) VALUES "
        "(s.conv_id, s.turn_idx, s.role, s.text, s.tool, s.ts, s.seq, s.op)"
    )


def test_merge_retains_tombstones():
    # no DELETE clause: deletes upsert as op='delete' tombstone rows
    # (filtered on read), preserving the per-key (ts, seq) high-water
    # mark so a late-but-older replayed event cannot resurrect the
    # row — and making batch replay a MERGE no-op (idempotence).
    sql = merge_upsert_sql(TABLE, "s1", KEYS, ORDER, COLS)
    assert "DELETE" not in sql
    assert "op" in sql  # tombstone marker column flows through


def test_merge_ordering_is_struct_tuple():
    # Spark SQL has no row-value (a, b) > (c, d); the builder must
    # emit struct comparison, and keys must not appear in UPDATE SET.
    sql = merge_upsert_sql(TABLE, "s1", KEYS, ORDER, COLS)
    assert "struct(s.ts, s.seq) > struct(t.ts, t.seq)" in sql
    assert "t.conv_id = s.conv_id," not in sql.split("UPDATE SET")[1]


def test_merge_insert_lists_columns_explicitly():
    # after additive evolution the table can have MORE columns than a
    # replayed old batch; INSERT * would fail on the arity mismatch,
    # an explicit list NULL-fills the missing ones.
    old_batch_cols = ["conv_id", "turn_idx", "text", "ts", "seq", "op"]
    sql = merge_upsert_sql(TABLE, "s1", KEYS, ORDER, old_batch_cols)
    assert "INSERT *" not in sql
    assert (
        "INSERT (conv_id, turn_idx, text, ts, seq, op) VALUES "
        "(s.conv_id, s.turn_idx, s.text, s.ts, s.seq, s.op)" in sql
    )


def test_sink_gated_without_jar(spark):
    # iceberg_available must use Class.forName — bare py4j package
    # attribute access returns a lazy JavaPackage and never raises,
    # which made the round-1 probe report True on jarless clusters.
    from embulk_util_json_spark.sinks.iceberg import (
        IcebergSink,
        iceberg_available,
    )

    assert iceberg_available(spark) is False
    try:
        IcebergSink(spark, "lake.db.t")
        raise AssertionError("constructor must raise without the runtime jar")
    except NotImplementedError:
        pass


def test_merge_parses_and_ordering_semantics(spark):
    # the generated MERGE must be valid Spark SQL (round 1 emitted
    # row-value tuples `(a, b) > (c, d)`, which Spark rejects), and
    # struct-tuple ordering must be strict: newer wins, equal no-ops.
    plan = spark._jsparkSession.sessionState().sqlParser().parsePlan(
        merge_upsert_sql(TABLE, "s1", KEYS, ORDER, COLS)
    )
    assert plan.getClass().getSimpleName() == "MergeIntoTable"
    r = spark.sql(
        "SELECT struct(TIMESTAMP'2024-01-02', 5L) > "
        "struct(TIMESTAMP'2024-01-01', 9L) AS newer, "
        "struct(TIMESTAMP'2024-01-01', 5L) > "
        "struct(TIMESTAMP'2024-01-01', 5L) AS equal_"
    ).first()
    assert r.newer is True and r.equal_ is False


def test_add_column_and_compact():
    assert (
        add_column_sql(TABLE, "tool_version", "string")
        == "ALTER TABLE lake.db.transcripts ADD COLUMN tool_version string"
    )
    # catalog derived from the identifier, not hard-coded
    assert compact_sql(TABLE) == (
        "CALL lake.system.rewrite_data_files(table => 'lake.db.transcripts')"
    )
    assert compact_sql("transcripts") == (
        "CALL spark_catalog.system.rewrite_data_files(table => 'transcripts')"
    )


def test_purge_sql_golden():
    from embulk_util_json_spark.sinks.iceberg import purge_sql

    stmts = purge_sql("lake.db.transcripts", {"conv_id": "c42", "turn_idx": 3})
    assert stmts[0] == (
        "DELETE FROM lake.db.transcripts WHERE conv_id = 'c42' AND turn_idx = 3"
    )
    assert stmts[1] == (
        "CALL lake.system.expire_snapshots(table => 'lake.db.transcripts', "
        "older_than => now(), retain_last => 1)"
    )
    assert stmts[2] == (
        "CALL lake.system.remove_orphan_files(table => 'lake.db.transcripts', "
        "older_than => now())"
    )


def test_batch_id_literals_escaped():
    # batch ids legally contain '.', '@', ':' (replay_segments /
    # route_tables id formats) and could carry a quote; the log SQL
    # must escape, not break.
    from embulk_util_json_spark.sinks.iceberg import sql_str_lit

    evil = "seg-a'b.parquet-1@2:t"
    assert sql_str_lit(evil) == "'seg-a''b.parquet-1@2:t'"
    write = log_batch_sql(TABLE, evil)
    read = applied_check_sql(TABLE, evil)
    assert "'seg-a''b.parquet-1@2:t'" in write
    assert "'seg-a''b.parquet-1@2:t'" in read


def test_staged_view_name_sanitized_and_unique():
    from embulk_util_json_spark.sinks.iceberg import staged_view_name

    import re as _re

    for bid in ("seg-f.parquet-0@17", "b:route", "plain", "a'quote"):
        name = staged_view_name(bid)
        assert _re.fullmatch(r"[A-Za-z0-9_]+", name), name
    # ids that sanitize to the same base must still get distinct views
    assert staged_view_name("b.1") != staged_view_name("b:1")
    # deterministic across calls (replay resolves the same view name)
    assert staged_view_name("b.1") == staged_view_name("b.1")


def test_staged_view_name_is_valid_temp_view(spark):
    from embulk_util_json_spark.sinks.iceberg import staged_view_name

    name = staged_view_name("seg-f.parquet-0@17:transcripts")
    spark.range(1).createOrReplaceTempView(name)  # must not raise
    assert spark.table(name).count() == 1
    spark.catalog.dropTempView(name)


def test_align_select_exprs_full_table_overwrite():
    # LWW parity with ParquetSnapshotSink: a staged batch lacking an
    # evolved column must write NULL over the loser's value, so the
    # staged view is aligned to the FULL table schema and the MERGE's
    # UPDATE SET covers every non-key column.
    from embulk_util_json_spark.sinks.iceberg import align_select_exprs

    table_fields = [
        ("conv_id", "string"), ("turn_idx", "int"), ("text", "string"),
        ("model", "string"), ("ts", "timestamp"), ("seq", "bigint"),
        ("op", "string"),
    ]
    staged = ["conv_id", "turn_idx", "text", "ts", "seq", "op"]
    exprs = align_select_exprs(table_fields, staged)
    assert exprs == [
        "conv_id", "turn_idx", "text",
        "CAST(NULL AS string) AS model", "ts", "seq", "op",
    ]
    # the MERGE built from the aligned (table) columns assigns the
    # evolved column too — stale values can't survive a newer winner
    cols = [n for n, _ in table_fields]
    sql = merge_upsert_sql(TABLE, "s1", KEYS, ORDER, cols)
    assert "t.model = s.model" in sql.split("UPDATE SET")[1].split("WHEN NOT")[0]


def test_changelog_sql_golden():
    from embulk_util_json_spark.sinks.iceberg import changelog_sql

    assert changelog_sql("lake.db.t") == (
        "CALL lake.system.create_changelog_view(table => 'lake.db.t', "
        "changelog_view => 'changes_view')"
    )
    assert changelog_sql("lake.db.t", 10, 20) == (
        "CALL lake.system.create_changelog_view(table => 'lake.db.t', "
        "options => map('start-snapshot-id', '10', 'end-snapshot-id', '20'), "
        "changelog_view => 'changes_view')"
    )


# ---- patch-mode MERGE ----------------------------------------------------

PATCH = ["role", "text", "tool"]
PCOLS = [
    "conv_id", "turn_idx", "ts", "seq", "op",
    "role", "text", "tool", "_po_role", "_po_text", "_po_tool",
]


def test_merge_patch_structure():
    from embulk_util_json_spark.sinks.iceberg import merge_patch_sql

    sql = merge_patch_sql(TABLE, "_staged_v", KEYS, ORDER, PATCH, PCOLS)
    # tombstone retention: upserts only, never a DELETE branch
    assert "WHEN MATCHED" in sql and "DELETE" not in sql
    # every patch column and its stamp update under the SAME condition
    for c in PATCH:
        assert f"t.{c} = CASE WHEN (s._po_{c} IS NOT NULL" in sql
        assert f"t._po_{c} = CASE WHEN (s._po_{c} IS NOT NULL" in sql
    # row-level columns follow the row order comparison
    assert (
        "t.op = CASE WHEN struct(s.ts, s.seq) > struct(t.ts, t.seq) "
        "THEN s.op ELSE t.op END" in sql
    )
    # no-op guard: row newer OR any column newer
    assert "WHEN MATCHED AND (struct(s.ts, s.seq) > struct(t.ts, t.seq) OR" in sql
    # evolution-safe INSERT: explicit column list incl. stamps
    assert "INSERT (" + ", ".join(PCOLS) + ")" in sql


def test_patch_merge_exprs_semantics(spark):
    """Run the generated CASE expressions in plain Spark SQL over a
    full-outer join of (target, staged) — exactly what MERGE evaluates
    per key pair — and pin the result bit-equal to the stamped lww_agg
    over the combined history. This is the jarless semantic proof that
    the Iceberg patch MERGE and the snapshot sink's patch mode are the
    same operator."""
    from pyspark.sql import functions as F

    from embulk_util_json_spark.operators.lww import lww_agg, patch_stamp
    from embulk_util_json_spark.sinks.iceberg import patch_merge_exprs

    M = "__unchanged__"
    rows = []
    for i in range(1, 161):
        conv, turn = "c%d" % (i % 6), i % 3
        r = i % 9
        if r == 0:
            rows.append((conv, turn, i // 2, i, "delete", None, None, None))
        elif r == 1:
            rows.append((conv, turn, i // 2, i, "insert",
                         "r%d" % (i % 3), "t%d" % i, "tool%d" % (i % 4)))
        else:
            rows.append((conv, turn, i // 2, i, "update",
                         M if i % 2 else "r%d" % (i % 3),
                         M if i % 5 else "t%d v2" % i, M))
    schema = ("conv_id string, turn_idx int, ts long, seq long, "
              "op string, role string, text string, tool string")
    stamp = lambda rs: patch_stamp(  # noqa: E731
        spark.createDataFrame(rs, schema), ORDER, PATCH, M,
        absent_if=F.col("op") == "delete",
    )
    red = lambda d: lww_agg(d, KEYS, ORDER, PATCH)  # noqa: E731
    target = red(stamp(rows[:80]))   # prior table state
    staged = red(stamp(rows[80:]))   # one pre-reduced batch
    target.createOrReplaceTempView("t_state")
    staged.createOrReplaceTempView("s_batch")

    _, sets = patch_merge_exprs(KEYS, ORDER, PATCH, list(staged.columns))
    key_sel = ", ".join(f"coalesce(t.{k}, s.{k}) AS {k}" for k in KEYS)
    val_sel = ", ".join(
        f"CASE WHEN {' AND '.join(f't.{k} IS NULL' for k in KEYS)} THEN s.{c} "
        f"WHEN {' AND '.join(f's.{k} IS NULL' for k in KEYS)} THEN t.{c} "
        f"ELSE {e} END AS {c}"
        for c, e in sets
    )
    on = " AND ".join(f"t.{k} = s.{k}" for k in KEYS)
    merged_sql = spark.sql(
        f"SELECT {key_sel}, {val_sel} FROM t_state t "
        f"FULL OUTER JOIN s_batch s ON {on}"
    )
    want = red(target.unionByName(staged))
    cols = sorted(want.columns)
    got_set = {tuple(r) for r in merged_sql.select(*cols).collect()}
    want_set = {tuple(r) for r in want.select(*cols).collect()}
    assert got_set == want_set


def test_evolve_patch_cols_sqls_golden():
    """Patch-column evolution statements: additive column → two ADD
    COLUMNs (value + stamp struct) and NO data-touching statement;
    promoted column → stamp ADD COLUMN + one UPDATE stamping rows at
    their own (ts, seq); config property commit last, marker escaped."""
    from embulk_util_json_spark.sinks.iceberg import evolve_patch_cols_sqls

    existing = ["conv_id", "turn_idx", "ts", "seq", "op", "role", "text"]
    ords = [("ts", "timestamp"), ("seq", "bigint")]
    # additive: 'tool' never stored
    sqls = evolve_patch_cols_sqls(
        TABLE, {"tool": "string"}, ords, "__u__", existing,
        ["role", "text", "tool"],
    )
    assert sqls[0] == f"ALTER TABLE {TABLE} ADD COLUMN tool string"
    assert sqls[1] == (
        f"ALTER TABLE {TABLE} ADD COLUMN _po_tool "
        "struct<ts: timestamp, seq: bigint>"
    )
    assert not any(s.startswith("UPDATE") for s in sqls)
    assert sqls[-1] == (
        f"ALTER TABLE {TABLE} SET TBLPROPERTIES ("
        "'engine.patch_cols' = 'role,text,tool', "
        "'engine.unchanged_marker' = '__u__')"
    )
    # promotion: 'text' already stored row-level
    sqls = evolve_patch_cols_sqls(
        TABLE, {"text": "string"}, ords, "it''s", existing, ["text"]
    )
    assert not any(s == f"ALTER TABLE {TABLE} ADD COLUMN text string" for s in sqls)
    upd = [s for s in sqls if s.startswith("UPDATE")]
    assert len(upd) == 1
    assert "named_struct('ts', ts, 'seq', seq)" in upd[0]
    assert "IS DISTINCT FROM 'it''''s'" in upd[0]
    assert "op <> 'delete'" in upd[0]


def test_promote_stamp_exprs_semantics(spark):
    """The promotion UPDATE's CASE expressions, run via selectExpr,
    must equal ``patch_stamp`` on the same stored rows — the jarless
    proof the Iceberg promotion and the snapshot sink's promotion
    rewrite stamp identically (marker → absent, explicit NULL under a
    marker → present, tombstones never stamped)."""
    from pyspark.sql import functions as F

    from embulk_util_json_spark.operators.lww import patch_stamp
    from embulk_util_json_spark.sinks.iceberg import promote_stamp_exprs

    M = "__u__"
    rows = [
        ("c1", 0, 10, 1, "insert", "hello"),
        ("c1", 1, 11, 2, "update", M),        # marker → absent
        ("c2", 0, 12, 3, "update", None),      # explicit NULL → present
        ("c2", 1, 13, 4, "delete", "ghost"),   # tombstone → absent
    ]
    schema = "conv_id string, turn_idx int, ts long, seq long, op string, text string"
    df = spark.createDataFrame(rows, schema)
    v, s = promote_stamp_exprs("text", ORDER, M)
    via_sql = df.selectExpr(
        "conv_id", "turn_idx", "ts", "seq", "op",
        f"{v} AS text", f"{s} AS _po_text",
    )
    via_engine = patch_stamp(
        df, ORDER, ["text"], unchanged_marker=M,
        absent_if=F.col("op") == "delete",
    )
    cols = via_engine.columns
    assert sorted(via_sql.columns) == sorted(cols)
    got = {tuple(str(x) for x in r) for r in via_sql.select(*cols).collect()}
    want = {tuple(str(x) for x in r) for r in via_engine.collect()}
    assert got == want


def test_promote_stamp_exprs_no_marker(spark):
    """marker=None: presence is plain non-NULL (sparse mode)."""
    from pyspark.sql import functions as F

    from embulk_util_json_spark.operators.lww import patch_stamp
    from embulk_util_json_spark.sinks.iceberg import promote_stamp_exprs

    rows = [
        ("c1", 0, 10, 1, "insert", "hello"),
        ("c1", 1, 11, 2, "update", None),  # NULL → absent without marker
    ]
    schema = "conv_id string, turn_idx int, ts long, seq long, op string, text string"
    df = spark.createDataFrame(rows, schema)
    v, s = promote_stamp_exprs("text", ORDER, None)
    via_sql = df.selectExpr(
        "conv_id", "turn_idx", "ts", "seq", "op",
        f"{v} AS text", f"{s} AS _po_text",
    )
    via_engine = patch_stamp(
        df, ORDER, ["text"], absent_if=F.col("op") == "delete"
    )
    cols = via_engine.columns
    got = {tuple(str(x) for x in r) for r in via_sql.select(*cols).collect()}
    want = {tuple(str(x) for x in r) for r in via_engine.collect()}
    assert got == want


def test_evolve_patch_cols_sqls_reentrant_and_single_update():
    """Crash-retry contract: with the LIVE schema (value + stamp
    columns already added) passed as existing_cols, re-running emits
    no duplicate ADD COLUMNs — just the idempotent promotion UPDATE +
    property commit. Multi-column promotion rides ONE UPDATE (one
    full-table rewrite, not one per column)."""
    from embulk_util_json_spark.sinks.iceberg import evolve_patch_cols_sqls

    ords = [("ts", "timestamp"), ("seq", "bigint")]
    cols = {"role": "string", "text": "string", "tool": "string"}
    base = ["conv_id", "turn_idx", "ts", "seq", "op", "role", "text", "tool"]
    first = evolve_patch_cols_sqls(
        TABLE, cols, ords, "__u__", base, sorted(cols)
    )
    updates = [s for s in first if s.startswith("UPDATE")]
    assert len(updates) == 1
    for c in cols:
        assert f"_po_{c} = " in updates[0] and f" {c} = CASE" in updates[0]
    # retry with live schema: stamps already added
    live = base + [f"_po_{c}" for c in cols]
    retry = evolve_patch_cols_sqls(TABLE, cols, ords, "__u__", live, sorted(cols))
    assert not any("ADD COLUMN" in s for s in retry)
    assert [s for s in retry if s.startswith("UPDATE")] == updates
    assert retry[-1].startswith(f"ALTER TABLE {TABLE} SET TBLPROPERTIES")
