"""IcebergSink — the MERGE INTO implementation of the lake-sink
contract, selected when an Iceberg runtime is on the Spark classpath.

This sandbox ships no iceberg-spark-runtime jar and no pyiceberg
(verified), so the offline tests run against
:class:`~embulk_util_json_spark.sinks.snapshot.ParquetSnapshotSink`,
which implements identical apply/read semantics (bucketed
merge-on-write / merge-on-read, batch-id exactly-once, additive
schema evolution). On a real cluster, construct the session with::

    spark-submit --py-files engine.zip \
      --packages org.apache.iceberg:iceberg-spark-runtime-3.5_2.12:<ver> \
      --conf spark.sql.extensions=org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions \
      --conf spark.sql.catalog.lake=org.apache.iceberg.spark.SparkCatalog \
      --conf spark.sql.catalog.lake.type=hadoop \
      --conf spark.sql.catalog.lake.warehouse=<path>

and pass ``table="lake.db.transcripts"``.

Design parity with the offline sink
(``sinks/snapshot.py``; reference row-skip semantics
``JsonParseException.java:24-43``):

- the table is bucket-partitioned on the conversation key
  (``bucket(N, conv_id)``) so MERGE is a storage-partitioned join —
  the same layout the manifest sink realizes with explicit hash
  buckets;
- **soft-delete tombstones**: deletes are retained as rows with
  ``op = 'delete'`` and filtered on read, exactly like the offline
  sink. A hard DELETE would discard the (ts, seq) high-water mark for
  the key, so a late-but-*older* replayed event would re-insert — the
  resurrect bug tombstones exist to prevent. Retaining tombstones
  also makes the MERGE **idempotent**: replaying an already-applied
  batch matches every key with an equal (not newer) order tuple and
  no-ops.
- **exactly-once** via a companion batch-log table
  ``<table>_batchlog``: ``_applied`` checks it before merging and
  ``apply`` appends to it after. The two steps are not one atomic
  commit — but they don't need to be, because the tombstone-retaining
  MERGE is idempotent: a crash between MERGE and log replays as a
  no-op MERGE followed by the log append. (The round-1 version
  stamped a single mutable table property that ``_applied`` never
  read; this fixes both the write/read mismatch and the
  can't-dedupe-older-batches flaw.)
- **additive schema evolution**: unseen fields arriving in the batch
  (promoted out of the ``_extras`` map) become real columns via
  ``ALTER TABLE ... ADD COLUMN`` before the MERGE; Iceberg's
  id-based column mapping makes this metadata-only.

Every SQL statement is produced by a pure module-level builder so the
generated DDL/MERGE text is golden-tested without the runtime jar
(``tests/test_iceberg_sql.py``); the class methods only sequence and
execute them.
"""

from __future__ import annotations

import hashlib
import re

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.lww import PATCH_ORD_PREFIX, lww_agg, stamp_batch
from ..sources.events import EXTRAS_COL, KEY_COLS, ORDER_COLS


def sql_str_lit(value: str) -> str:
    """Quote a string as a SQL literal, escaping embedded quotes.

    Batch ids produced elsewhere in this engine legally contain
    ``.``, ``@`` and ``:`` (``replay_segments`` uses
    ``seg-<file>.parquet-...@<min_seq>``; ``route_tables`` uses
    ``<batch>:<table>``), and nothing stops a caller-supplied id from
    carrying a quote — interpolating it raw into the batch-log SQL was
    a foot-gun even under the trusted-caller contract."""
    return "'" + value.replace("'", "''") + "'"


def staged_view_name(batch_id: str) -> str:
    """Deterministic, always-valid temp-view name for a staged batch.

    ``createOrReplaceTempView`` rejects identifiers with ``.``/``@``/
    ``:`` — all of which appear in legal batch ids (see
    :func:`sql_str_lit`). Whitelist-sanitize and suffix a short hash
    of the ORIGINAL id so two ids that sanitize identically (e.g.
    ``b.1`` vs ``b:1``) still get distinct views."""
    safe = re.sub(r"[^A-Za-z0-9_]", "_", batch_id)
    tag = hashlib.sha256(batch_id.encode("utf-8")).hexdigest()[:8]
    return f"_staged_{safe}_{tag}"


def iceberg_available(spark: SparkSession) -> bool:
    """True when the Iceberg Spark extensions are on the classpath.

    Must use ``Class.forName``: attribute access on ``spark._jvm``
    yields a lazy py4j ``JavaPackage`` and never raises, so the
    round-1 probe reported True on jarless clusters and the
    constructor's NotImplementedError gate was dead code."""
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


# ---------------------------------------------------------------------------
# Pure SQL builders (jarless-testable)
# ---------------------------------------------------------------------------


def batchlog_table(table: str) -> str:
    """Companion exactly-once log table name."""
    return f"{table}_batchlog"


def create_table_sql(
    table: str,
    fields: list[tuple[str, str]],
    num_buckets: int,
    bucket_key: str,
) -> str:
    """CREATE TABLE IF NOT EXISTS for the transcripts table: Iceberg
    v2, merge-on-read, bucket-partitioned on the conversation key so
    the per-batch MERGE shuffles into stable storage partitions."""
    cols = ", ".join(f"{n} {t}" for n, t in fields)
    return (
        f"CREATE TABLE IF NOT EXISTS {table} ({cols}) USING iceberg "
        f"PARTITIONED BY (bucket({num_buckets}, {bucket_key})) "
        "TBLPROPERTIES ('format-version'='2', "
        "'write.merge.mode'='merge-on-read', "
        "'write.distribution-mode'='hash')"
    )


def create_batchlog_sql(table: str) -> str:
    """CREATE TABLE IF NOT EXISTS for the exactly-once batch log."""
    return (
        f"CREATE TABLE IF NOT EXISTS {batchlog_table(table)} "
        "(batch_id string, applied_at timestamp) USING iceberg"
    )


def applied_check_sql(table: str, batch_id: str) -> str:
    """SELECT that is non-empty iff ``batch_id`` was already logged."""
    return (
        f"SELECT batch_id FROM {batchlog_table(table)} "
        f"WHERE batch_id = {sql_str_lit(batch_id)} LIMIT 1"
    )


def log_batch_sql(table: str, batch_id: str) -> str:
    """Append the applied batch id to the log (after the MERGE)."""
    return (
        f"INSERT INTO {batchlog_table(table)} "
        f"VALUES ({sql_str_lit(batch_id)}, current_timestamp())"
    )


def add_column_sql(table: str, name: str, sql_type: str) -> str:
    """Additive evolution: one new nullable column."""
    return f"ALTER TABLE {table} ADD COLUMN {name} {sql_type}"


def align_select_exprs(
    table_fields: list[tuple[str, str]], staged_cols: list[str]
) -> list[str]:
    """selectExpr list that aligns a staged batch to the FULL table
    schema: table columns the batch lacks become typed NULL casts, in
    table-column order.

    Why this matters (LWW parity with ParquetSnapshotSink): after
    additive evolution, a newer winning event that lacks an evolved
    column (e.g. ``model`` promoted from ``_extras`` by an earlier
    batch) must REPLACE the loser's value with NULL — the snapshot
    sink's LWW keeps whole payloads, so the evolved column reads NULL
    there. A MERGE whose UPDATE SET lists only the staged columns
    would instead leave the loser's stale value in place, and the two
    'parity' sinks would diverge on the same event stream. Aligning
    the staged frame first lets :func:`merge_upsert_sql` be built from
    the table's columns, so UPDATE SET overwrites every non-key
    column."""
    staged = set(staged_cols)
    return [
        name if name in staged else f"CAST(NULL AS {sql_type}) AS {name}"
        for name, sql_type in table_fields
    ]


def merge_upsert_sql(
    table: str,
    staged_view: str,
    keys: list[str],
    order_cols: list[str],
    staged_cols: list[str],
) -> str:
    """The LWW upsert MERGE.

    - newer (ts, seq) wins via a struct tuple comparison (Spark SQL
      has no row-value ``(a, b) > (c, d)`` syntax);
    - delete events are *upserted like any row* (tombstone retention —
      see module docstring), never ``DELETE``d;
    - the INSERT lists columns explicitly: after evolution the table
      may carry columns an old replayed batch doesn't have — those
      default to NULL, while ``INSERT *`` would fail on the mismatch;
    - ``staged_cols`` must be the TABLE's full column list with the
      staged view aligned to it (:func:`align_select_exprs`), so
      UPDATE SET overwrites every non-key column — a winning event
      that lacks an evolved column writes NULL, matching the snapshot
      sink's whole-payload LWW.
    """
    on = " AND ".join(f"t.{k} = s.{k}" for k in keys)
    s_ord = ", ".join(f"s.{c}" for c in order_cols)
    t_ord = ", ".join(f"t.{c}" for c in order_cols)
    ord_newer = f"struct({s_ord}) > struct({t_ord})"
    set_cols = ", ".join(
        f"t.{c} = s.{c}" for c in staged_cols if c not in keys
    )
    ins_cols = ", ".join(staged_cols)
    ins_vals = ", ".join(f"s.{c}" for c in staged_cols)
    return (
        f"MERGE INTO {table} t USING {staged_view} s ON {on} "
        f"WHEN MATCHED AND {ord_newer} THEN UPDATE SET {set_cols} "
        f"WHEN NOT MATCHED THEN INSERT ({ins_cols}) VALUES ({ins_vals})"
    )


def merge_patch_sql(
    table: str,
    staged_view: str,
    keys: list[str],
    order_cols: list[str],
    patch_cols: list[str],
    staged_cols: list[str],
) -> str:
    """The COLUMN-level LWW MERGE for partial-update streams — the
    Iceberg twin of the snapshot sink's patch mode (same stamped
    model: the staged view is ``stamp_batch`` + ``lww_agg`` output
    with the patch columns, one row per key carrying ``_po_<col>``
    order stamps).

    - each patch column updates independently: staged value wins iff
      its stamp is non-NULL and beats (or the target has none) the
      target's stamp — the stamp moves WITH the value, so the stored
      row stays in the closed stamped form and the next MERGE merges
      against the true per-column positions;
    - row-level columns (op, event time, order cols, non-patch
      payload) follow the row-level (ts, seq) comparison, exactly as
      :func:`merge_upsert_sql`;
    - the MATCHED guard (row newer OR any column newer) keeps replays
      and pure-late-loser batches from rewriting rows as dead no-op
      updates — idempotence with no write amplification;
    - tombstones upsert like any row (retention, module docstring):
      their stamps are all NULL (``absent_if`` at stamping), so a
      delete never clobbers carried column values — carry-forward
      looks through it, matching ``lww_patch`` / the snapshot sink.
    """
    on = " AND ".join(f"t.{k} = s.{k}" for k in keys)
    guard, sets = patch_merge_exprs(keys, order_cols, patch_cols, staged_cols)
    set_sql = ", ".join(f"t.{c} = {e}" for c, e in sets)
    ins_cols = ", ".join(staged_cols)
    ins_vals = ", ".join(f"s.{c}" for c in staged_cols)
    return (
        f"MERGE INTO {table} t USING {staged_view} s ON {on} "
        f"WHEN MATCHED AND ({guard}) THEN UPDATE SET {set_sql} "
        f"WHEN NOT MATCHED THEN INSERT ({ins_cols}) VALUES ({ins_vals})"
    )


def patch_merge_exprs(
    keys: list[str],
    order_cols: list[str],
    patch_cols: list[str],
    staged_cols: list[str],
) -> tuple[str, list[tuple[str, str]]]:
    """The MATCHED guard and per-column CASE expressions of
    :func:`merge_patch_sql`, exposed so their SEMANTICS (not just
    their text) are testable without the Iceberg runtime: the jarless
    test runs them in a plain Spark SQL SELECT over a full-outer join
    of (target, staged) — which is exactly what MERGE evaluates per
    matched pair — and pins the result bit-equal to the stamped
    ``lww_agg`` over the combined history."""

    def tup(side: str, cols: list[str]) -> str:
        return "struct(" + ", ".join(f"{side}.{c}" for c in cols) + ")"

    ord_newer = f"{tup('s', order_cols)} > {tup('t', order_cols)}"

    def col_newer(c: str) -> str:
        po = PATCH_ORD_PREFIX + c
        s_ord = "struct(" + ", ".join(f"s.{po}.{o}" for o in order_cols) + ")"
        t_ord = "struct(" + ", ".join(f"t.{po}.{o}" for o in order_cols) + ")"
        return f"(s.{po} IS NOT NULL AND (t.{po} IS NULL OR {s_ord} > {t_ord}))"

    po_names = {PATCH_ORD_PREFIX + c for c in patch_cols}
    row_cols = [
        c for c in staged_cols
        if c not in keys and c not in patch_cols and c not in po_names
    ]
    sets = [
        (c, f"CASE WHEN {ord_newer} THEN s.{c} ELSE t.{c} END")
        for c in row_cols
    ]
    for c in patch_cols:
        cn = col_newer(c)
        po = PATCH_ORD_PREFIX + c
        sets.append((c, f"CASE WHEN {cn} THEN s.{c} ELSE t.{c} END"))
        sets.append((po, f"CASE WHEN {cn} THEN s.{po} ELSE t.{po} END"))
    guard = " OR ".join([ord_newer] + [col_newer(c) for c in patch_cols])
    return guard, sets


def stamp_type_ddl(order_cols: list[tuple[str, str]]) -> str:
    """DDL of the per-column order-stamp struct (``_po_<col>``) from
    (name, sql_type) pairs of the order columns."""
    return "struct<" + ", ".join(f"{n}: {t}" for n, t in order_cols) + ">"


def promote_stamp_exprs(
    col: str, order_cols: list[str], marker: str | None
) -> tuple[str, str]:
    """(value_expr, stamp_expr) of the promotion UPDATE — the SQL twin
    of ``patch_stamp`` applied to STORED rows: present (not the
    marker; with a marker set, explicit NULL counts as a write; never
    on tombstones) → value normalized + stamped at the row's own
    order position; absent → both NULL. Exposed for the jarless
    semantic pin (run via selectExpr ≡ ``patch_stamp``)."""
    if marker is not None:
        present = f"({col} IS DISTINCT FROM {sql_str_lit(marker)} AND op <> 'delete')"
    else:
        present = f"({col} IS NOT NULL AND op <> 'delete')"
    struct = "named_struct(" + ", ".join(f"'{o}', {o}" for o in order_cols) + ")"
    return (
        f"CASE WHEN {present} THEN {col} END",
        f"CASE WHEN {present} THEN {struct} END",
    )


def promote_patch_cols_sql(
    table: str, cols: list[str], order_cols: list[str], marker: str | None
) -> str:
    """ONE UPDATE stamping existing row-level columns at each stored
    row's own (order_cols) position — the Iceberg twin of the snapshot
    sink's promotion rewrite (there the chain is collapsed first; an
    Iceberg MOW table is already collapsed, so the UPDATE alone is the
    whole rewrite). All promoted columns ride a single statement: one
    full-table rewrite total, not one per column. RHS expressions
    evaluate against the pre-update row, so value and stamp read
    consistent inputs — which also makes the statement IDEMPOTENT
    (re-running on already-promoted rows recomputes the same stamps:
    normalized values are never the marker, and explicit NULLs under a
    marker stay present), so a crashed evolution sequence can simply
    be re-run."""
    sets = []
    for col in cols:
        v, s = promote_stamp_exprs(col, order_cols, marker)
        sets.append(f"{PATCH_ORD_PREFIX + col} = {s}")
        sets.append(f"{col} = {v}")
    return f"UPDATE {table} SET {', '.join(sets)}"


def patch_props_sql(
    table: str, patch_cols: list[str], marker: str | None
) -> str:
    """Persist patch config as table properties — the manifest-adopted
    config of the snapshot sink, kept where every Iceberg writer can
    re-read it (a writer merging a patch table row-level would corrupt
    carry-forward)."""
    props = [f"'engine.patch_cols' = {sql_str_lit(','.join(patch_cols))}"]
    if marker is not None:
        props.append(f"'engine.unchanged_marker' = {sql_str_lit(marker)}")
    return f"ALTER TABLE {table} SET TBLPROPERTIES ({', '.join(props)})"


def evolve_patch_cols_sqls(
    table: str,
    cols: dict[str, str],
    order_cols: list[tuple[str, str]],
    marker: str | None,
    existing_cols: list[str],
    all_patch_cols: list[str],
) -> list[str]:
    """Statement sequence for patch-column evolution (the
    ``ParquetSnapshotSink.evolve_patch_cols`` twin): per column an ADD
    COLUMN for the value (additive case only) and its ``_po_`` stamp —
    both metadata-only in Iceberg — plus ONE promotion UPDATE covering
    every column that already has stored row-level values; finally the
    config property commit. Iceberg's ALTER is id-based, so the
    additive path touches zero data files, matching the snapshot
    sink's metadata-only alignment.

    Re-entrant: pass the LIVE table schema as ``existing_cols`` (value
    AND ``_po_`` columns) — already-added columns are skipped and the
    promotion UPDATE is idempotent, so a sequence that crashed before
    the final property commit is safely re-run from the top."""
    sqls: list[str] = []
    ord_names = [n for n, _ in order_cols]
    promote: list[str] = []
    for c, t in cols.items():
        if c not in existing_cols:
            sqls.append(add_column_sql(table, c, t))
        else:
            promote.append(c)
        if PATCH_ORD_PREFIX + c not in existing_cols:
            sqls.append(
                add_column_sql(
                    table, PATCH_ORD_PREFIX + c, stamp_type_ddl(order_cols)
                )
            )
    if promote:
        sqls.append(promote_patch_cols_sql(table, promote, ord_names, marker))
    sqls.append(patch_props_sql(table, all_patch_cols, marker))
    return sqls


def purge_sql(table: str, key_eq: dict) -> list[str]:
    """Compliance purge statements (the snapshot sink's ``purge``
    twin): DELETE the matching rows (real row removal, not an engine
    tombstone — the sink's own soft-delete rows for the key go too),
    then expire every prior snapshot and orphan files so no retained
    Iceberg file still carries the data. String values are quoted and
    quote-escaped; the caller passes trusted key names (same contract
    as the other builders)."""
    conds = []
    for k, v in key_eq.items():
        lit = sql_str_lit(v) if isinstance(v, str) else str(v)
        conds.append(f"{k} = {lit}")
    where = " AND ".join(conds)
    catalog = table.split(".", 1)[0] if "." in table else "spark_catalog"
    return [
        f"DELETE FROM {table} WHERE {where}",
        (
            f"CALL {catalog}.system.expire_snapshots(table => '{table}', "
            "older_than => now(), retain_last => 1)"
        ),
        (
            f"CALL {catalog}.system.remove_orphan_files(table => '{table}', "
            "older_than => now())"
        ),
    ]


def changelog_sql(
    table: str, start_snapshot_id: int | None = None,
    end_snapshot_id: int | None = None,
) -> str:
    """Incremental change feed — the Iceberg twin of
    ``ParquetSnapshotSink.read_changes``: the create_changelog_view
    procedure materializes net row-level changes between snapshots
    (insert/delete change types; an update is delete+insert of the
    key). Callers then SELECT from the returned view name."""
    catalog = table.split(".", 1)[0] if "." in table else "spark_catalog"
    opts = [f"table => '{table}'"]
    rng = []
    if start_snapshot_id is not None:
        rng.append(f"'start-snapshot-id', '{start_snapshot_id}'")
    if end_snapshot_id is not None:
        rng.append(f"'end-snapshot-id', '{end_snapshot_id}'")
    if rng:
        opts.append(f"options => map({', '.join(rng)})")
    opts.append("changelog_view => 'changes_view'")
    return (
        f"CALL {catalog}.system.create_changelog_view({', '.join(opts)})"
    )


def compact_sql(table: str) -> str:
    """rewrite_data_files maintenance call, catalog-qualified from the
    table identifier (was hard-coded to ``lake``)."""
    catalog = table.split(".", 1)[0] if "." in table else "spark_catalog"
    return f"CALL {catalog}.system.rewrite_data_files(table => '{table}')"


# ---------------------------------------------------------------------------
# Sink
# ---------------------------------------------------------------------------


class IcebergSink:
    """MERGE INTO-based sink with the same interface as
    ParquetSnapshotSink (apply / read / compact)."""

    def __init__(
        self,
        spark: SparkSession,
        table: str,
        num_buckets: int = 32,
        keys: list[str] | None = None,
        order_cols: list[str] | None = None,
        patch_cols: list[str] | None = None,
        unchanged_marker: str | None = None,
    ) -> None:
        if not iceberg_available(spark):
            raise NotImplementedError(
                "No Iceberg runtime on the classpath — use ParquetSnapshotSink "
                "(identical semantics) or submit with the iceberg-spark-runtime "
                "package as described in the module docstring."
            )
        self.spark = spark
        self.table = table
        self.keys = keys or KEY_COLS
        self.order_cols = order_cols or ORDER_COLS
        self.num_buckets = num_buckets
        # Patch mode (parity with ParquetSnapshotSink(patch_cols=…)):
        # the stamped struct columns live in the Iceberg table like any
        # field, and merge_patch_sql keeps them moving with the values.
        self.patch_cols = list(patch_cols) if patch_cols else None
        self.unchanged_marker = unchanged_marker
        # column → DDL for patch columns that may be absent from a
        # batch (recorded by evolve_patch_cols; the live table schema
        # is the fallback) — the snapshot sink's patch_types twin.
        self.patch_types: dict[str, str] = {}
        # Patch config is TABLE state (the ParquetSnapshotSink._adopt
        # contract): a writer constructed without patch_cols on a
        # patch-mode table would run the row-level MERGE and clobber
        # per-column carry-forward. Adopt the committed properties,
        # raising on conflict with constructor args.
        self._adopt_table_props()

    def _adopt_table_props(self) -> None:
        """Read ``engine.patch_cols`` / ``engine.unchanged_marker``
        back from the table (written by :func:`patch_props_sql` at
        create/evolve time) and adopt them. No-op when the table does
        not exist yet (first ``ensure_tables`` publishes this
        handle's config). Conflicting constructor args raise — a
        silent override in either direction corrupts the table.
        Called from ``__init__`` AND from every ``apply`` /
        ``evolve_patch_cols`` entry point — patch config is table
        state that another writer's evolution can change under a
        long-lived handle (the ``ParquetSnapshotSink._adopt``
        contract)."""
        try:
            rows = self.spark.sql(
                f"SHOW TBLPROPERTIES {self.table}"
            ).collect()
        except Exception as ex:
            # ONLY table-absent is a benign skip. Swallowing transient
            # catalog/metastore errors here would silently leave
            # patch_cols unset and the next apply would run the
            # row-level MERGE — the exact corruption this method
            # exists to prevent.
            msg = f"{type(ex).__name__}: {ex}"
            if (
                "TABLE_OR_VIEW_NOT_FOUND" in msg
                or "Table or view not found" in msg
                or "NoSuchTableException" in msg
            ):
                return
            raise
        props = {r["key"]: r["value"] for r in rows}
        stored = props.get("engine.patch_cols")
        if stored is None:
            return
        stored_cols = [c for c in stored.split(",") if c]
        stored_marker = props.get("engine.unchanged_marker")
        if self.patch_cols is not None and sorted(self.patch_cols) != sorted(
            stored_cols
        ):
            raise ValueError(
                f"patch_cols {self.patch_cols} conflict with the table's "
                f"committed engine.patch_cols {stored_cols}"
            )
        if (
            self.unchanged_marker is not None
            and stored_marker is not None
            and self.unchanged_marker != stored_marker
        ):
            raise ValueError(
                f"unchanged_marker {self.unchanged_marker!r} conflicts with "
                f"the table's committed marker {stored_marker!r}"
            )
        self.patch_cols = stored_cols or None
        if stored_marker is not None:
            self.unchanged_marker = stored_marker

    def _patch_types(self, changes: DataFrame) -> dict[str, str]:
        """The value type of every patch column, for ``stamp_batch``:
        the recorded ``patch_types``, else the live table's column
        type, else ``string``. The table schema is read only when the
        batch lacks a patch column with no recorded type."""
        types = dict(self.patch_types)
        cols = set(changes.columns)
        if any(c not in cols and c not in types for c in self.patch_cols or []):
            try:
                for f in self.spark.table(self.table).schema.fields:
                    types.setdefault(f.name, f.dataType.simpleString())
            except AnalysisException:  # no table yet: first apply
                pass
        return {c: types.get(c, "string") for c in self.patch_cols or []}

    # The remaining methods are executable only with the runtime jar;
    # they are exercised by integration deployments, not this sandbox.
    # All SQL text comes from the golden-tested builders above.

    def ensure_tables(self, like: DataFrame) -> None:
        fields = [
            (f.name, f.dataType.simpleString())
            for f in like.schema.fields
            if f.name != EXTRAS_COL
        ]
        self.spark.sql(
            create_table_sql(self.table, fields, self.num_buckets, self.keys[0])
        )
        self.spark.sql(create_batchlog_sql(self.table))
        # Publish patch config as table properties on first create so
        # later writers (constructed with no args) adopt it — the
        # read-back twin is _adopt_table_props in __init__.
        if self.patch_cols:
            self.spark.sql(
                patch_props_sql(
                    self.table, self.patch_cols, self.unchanged_marker
                )
            )

    def _applied(self, batch_id: str) -> bool:
        return bool(self.spark.sql(applied_check_sql(self.table, batch_id)).take(1))

    def _promote_extras(self, reduced: DataFrame) -> DataFrame:
        """Lift unseen fields out of the ``_extras`` map into real
        columns (the offline sink does this lazily at read; Iceberg
        columns are cheap metadata, so promote at write). The key-name
        collect is one tiny agg job — bounded by distinct event
        shapes, not rows."""
        if EXTRAS_COL not in reduced.columns:
            return reduced
        keys_row = reduced.select(
            F.array_distinct(
                F.flatten(F.collect_set(F.map_keys(F.col(EXTRAS_COL))))
            ).alias("ks")
        ).first()
        extra_names = sorted(keys_row["ks"] or [])
        for name in extra_names:
            if name not in reduced.columns:
                reduced = reduced.withColumn(name, F.col(EXTRAS_COL)[name])
        return reduced.drop(EXTRAS_COL)

    def _evolve(self, staged: DataFrame) -> None:
        """Additive evolution: ADD COLUMN for staged fields the table
        doesn't have yet (id-based mapping → metadata-only)."""
        existing = {f.name for f in self.spark.table(self.table).schema.fields}
        for f in staged.schema.fields:
            if f.name not in existing:
                self.spark.sql(
                    add_column_sql(self.table, f.name, f.dataType.simpleString())
                )

    def apply(self, changes: DataFrame, batch_id: str) -> dict:
        """LWW-pre-reduce the batch, then one MERGE INTO keyed on
        (conv_id, turn_idx): newer (ts, seq) wins, deletes upsert as
        tombstone rows, unseen keys insert. Idempotent per batch (see
        module docstring), skipped outright when the batch log already
        carries ``batch_id``."""
        self._adopt_table_props()  # refresh stale handles per entry point
        stamped = stamp_batch(
            changes,
            self.order_cols,
            self.patch_cols,
            self._patch_types(changes),
            self.unchanged_marker,
        )
        reduced = lww_agg(stamped, self.keys, self.order_cols, self.patch_cols or ())
        reduced = self._promote_extras(reduced)
        self.ensure_tables(reduced)
        if self._applied(batch_id):
            return {"batch_id": batch_id, "skipped": True}
        self._evolve(reduced)
        # Align to the evolved table's full schema (missing columns →
        # typed NULLs) so the MERGE overwrites every non-key column —
        # LWW parity with ParquetSnapshotSink's whole-payload replace.
        table_fields = [
            (f.name, f.dataType.simpleString())
            for f in self.spark.table(self.table).schema.fields
        ]
        aligned = reduced.selectExpr(
            *align_select_exprs(table_fields, reduced.columns)
        )
        view = staged_view_name(batch_id)
        aligned.createOrReplaceTempView(view)
        if self.patch_cols:
            merge = merge_patch_sql(
                self.table, view, self.keys, self.order_cols,
                self.patch_cols, aligned.columns,
            )
        else:
            merge = merge_upsert_sql(
                self.table, view, self.keys, self.order_cols, aligned.columns
            )
        self.spark.sql(merge)
        self.spark.sql(log_batch_sql(self.table, batch_id))
        return {"batch_id": batch_id}

    def evolve_patch_cols(
        self, cols: dict[str, str], unchanged_marker: str | None = None
    ) -> dict:
        """Patch-column evolution — interface twin of
        ``ParquetSnapshotSink.evolve_patch_cols`` (same validation,
        same additive-vs-promotion split; statements from the
        golden-tested :func:`evolve_patch_cols_sqls`)."""
        self._adopt_table_props()  # refresh stale handles per entry point
        have = list(self.patch_cols or [])
        new = {c: t for c, t in cols.items() if c not in have}
        if not new:
            return {"skipped": True, "patch_cols": have}
        for c, t in new.items():
            if t.strip().lower().startswith("map"):
                raise ValueError(f"map-typed columns cannot be patch columns: {c!r}")
            if c in self.keys or c in self.order_cols or c == "op":
                raise ValueError(f"key/order/op column {c!r} cannot be a patch column")
        if self.patch_cols and unchanged_marker is not None and (
            unchanged_marker != self.unchanged_marker
        ):
            raise ValueError(
                "unchanged_marker conflicts with the table's committed "
                f"marker {self.unchanged_marker!r}"
            )
        marker = self.unchanged_marker if self.patch_cols else unchanged_marker
        fields = {
            f.name: f.dataType.simpleString()
            for f in self.spark.table(self.table).schema.fields
        }
        all_patch = sorted(set(have) | set(new))
        promoted = sorted(c for c in new if c in fields)
        for sql in evolve_patch_cols_sqls(
            self.table,
            new,
            [(o, fields[o]) for o in self.order_cols],
            marker,
            list(fields),
            all_patch,
        ):
            self.spark.sql(sql)
        self.patch_cols = all_patch
        self.unchanged_marker = marker
        self.patch_types.update(new)
        return {"patch_cols": all_patch, "promoted": promoted}

    def read(self) -> DataFrame:
        df = self.spark.table(self.table).filter(F.col("op") != "delete")
        if self.patch_cols:
            df = df.drop(*[PATCH_ORD_PREFIX + c for c in self.patch_cols])
        return df

    def compact(self) -> dict:
        self.spark.sql(compact_sql(self.table))
        return {"compacted": True}
