"""In-stream DDL / schema-change events — strict column authorization.

Debezium publishes schema changes on a dedicated topic; Maxwell
inlines ``type: "table-alter"`` rows in the event stream. This engine
already has the OPTIMISTIC path (``sources/events`` single-pass map
capture + additive manifest merge: the first row CARRYING a new
member creates the column). Some pipelines need the STRICT contract
instead: a column exists from its authorizing DDL position onward —
a member that appears BEFORE the DDL (a producer bug, a replay that
crosses a schema rollback, an event mis-routed from another table
version) must NOT create or populate the typed column. It stays in
the ``_extras`` quarantine map where the DLQ/audit path can see it,
instead of silently becoming data.

Scale shape: schema changes are O(100) per table lifetime — driver
metadata, not data. ``ddl_authorizations`` collects that tiny frame
once; ``apply_ddl_gate`` then compiles the authorizations into a
pure projection (``CASE WHEN seq >= auth``) that stays inside
whole-stage codegen — no join, no shuffle, no per-row Python.

Reference anchor: the reference's capture stage makes the analogous
promotion decision per member (SURVEY.md §2.1 R8 "promotion");
gating it on stream position is the CDC-native extension.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F, types as T

from ..sources.events import EXTRAS_COL

DDL_OP = "ddl"

_DDL_SCHEMA = T.StructType(
    [
        T.StructField("op", T.StringType()),
        T.StructField("ts", T.StringType()),
        T.StructField(
            "ddl",
            T.StructType(
                [
                    T.StructField("action", T.StringType()),
                    T.StructField("column", T.StringType()),
                ]
            ),
        ),
    ]
)


def parse_ddl_events(
    events: DataFrame, json_col: str = "event_json", seq_col: str = "seq"
) -> DataFrame:
    """Extract schema-change envelopes from the raw stream:
    ``{"op":"ddl","ts":...,"ddl":{"action":"add_column","column":c}}``
    → ``(seq, ts, action, column)``. One pruned ``from_json`` with
    the DDL schema; non-DDL rows filter out on the parsed op (the
    stream is shared with the data path — no second scan of the data
    fields happens here, the parse only materializes 4 leaves)."""
    parsed = events.select(
        F.col(seq_col).cast("long").alias("seq"),
        F.from_json(F.col(json_col), _DDL_SCHEMA).alias("_e"),
    )
    return parsed.filter(F.col("_e.op") == DDL_OP).select(
        "seq",
        F.try_to_timestamp(F.col("_e.ts")).alias("ts"),
        F.col("_e.ddl.action").alias("action"),
        F.col("_e.ddl.column").alias("column"),
    )


def ddl_authorizations(ddl_events: DataFrame) -> dict[str, int]:
    """{column: first add_column seq} — the position from which each
    column is authorized. Driver-side dict by design (see module
    docstring: O(100) rows per table lifetime); feed to
    :func:`apply_ddl_gate`."""
    rows = (
        ddl_events.filter(F.col("action") == "add_column")
        .groupBy("column")
        .agg(F.min("seq").alias("auth_seq"))
        .collect()
    )
    return {r["column"]: int(r["auth_seq"]) for r in rows}


def apply_ddl_gate(
    changes: DataFrame,
    auth_seqs: dict[str, int],
    extras_col: str = EXTRAS_COL,
) -> DataFrame:
    """Materialize each authorized column ``c`` from the extras map
    ONLY for rows with ``seq >= auth_seqs[c]``; earlier appearances
    stay quarantined in ``extras_col``. Pure projection (CASE chain +
    one ``map_filter``) — codegen-friendly, order-insensitive, safe
    to run per micro-batch with a growing authorization dict (a
    column's gate is its FIRST DDL position, so re-running with more
    DDLs seen never changes already-emitted history)."""
    out = changes
    items = sorted(auth_seqs.items())
    for c, a in items:
        out = out.withColumn(
            c,
            F.when(F.col("seq") >= int(a), F.col(extras_col)[c]),
        )
    if items and extras_col in changes.columns:
        def keep(k, _v):
            cond = F.lit(True)
            for c, a in items:
                cond = cond & ~(
                    (k == F.lit(c)) & (F.col("seq") >= F.lit(int(a)))
                )
            return cond

        out = out.withColumn(
            extras_col, F.map_filter(F.col(extras_col), keep)
        )
    return out
