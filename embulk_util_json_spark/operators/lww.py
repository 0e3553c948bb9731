"""Last-writer-wins reduction per key — the dedupe/order core.

north_star: "de-duplicates and orders events per key with
window-over-(conv_id, turn_idx, ts) last-writer-wins". Total order is
(ts, seq): ts alone ties under out-of-order redelivery, so the binlog
position ``seq`` breaks ties (SURVEY.md §7.3 hard-part #1).

One reduction, one salted split, one batch-stamping step, and two
oracles (equivalence is tested):

``lww_agg``     — THE reduction: groupBy(keys).agg(max_by(payload,
                  order_struct)), plus, for partial-update streams, one
                  max over (stamp, value) per patch column (the stamped
                  form built by ``patch_stamp``). Hash aggregation gets
                  *map-side partial combine*, so a hot key is pre-reduced
                  to one row per input partition before the shuffle —
                  the two-stage reduce the reference's host pipeline
                  would need by hand, done by Spark's physical planner.
                  Closed: stamped output re-enters a later reduction at
                  the positions its values were written, which is what
                  lets the sinks store, chain-merge and compact it.
``lww_salted``  — explicit two-stage split of ``lww_agg``: over
                  (keys, salt), then over keys. max/argmax is
                  associative and commutative, so the split is exact.
                  Useful when a *single* key is so hot that even
                  per-partition partials overwhelm one reducer's input
                  (10^10-event replays with pathological skew), or on
                  engines without partial aggregation.
``stamp_batch`` — the one step that turns a sink's incoming batch into
                  the stamped form (extract from ``_extras``, stamp,
                  align absent columns as "never carried").
``lww_window``  — row_number() over (keys / order desc) == 1: the
                  literal north_star formulation, kept as the oracle of
                  row-level ``lww_agg``. Full shuffle+sort of every row
                  per key: skew-sensitive, not the scale path.
``lww_patch``   — per-column ``max(when(present, struct(order, value)))``
                  over raw events: the independent oracle of the
                  stamped reduction.

LWW is an idempotent, commutative, associative monoid over the total
order — duplicate deliveries (same (ts, seq), identical payload)
cannot change the winner, which is what makes replay + at-least-once
delivery safe end-to-end.

Every column is named through ``_col``: a physical column or an
``_extras`` key may hold a dot, which a bare ``F.col`` reads as a
struct field access.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F, types as T

from ..sources.events import EXTRAS_COL


def _col(name: str) -> Column:
    """The column called ``name``, backtick-quoted (a backtick in the
    name doubled) so a dot in it is not a struct field access."""
    return F.col("`" + name.replace("`", "``") + "`")


def _order_struct(order_cols: list[str]) -> Column:
    return F.struct(*[_col(c) for c in order_cols])


PATCH_ORD_PREFIX = "_po_"
"""Hidden per-patch-column order-stamp columns (``_po_<col>``): a
struct of the order-column values of the latest event that *carried*
the column, or NULL if no event for the key has carried it yet. These
stamps are what make the patch reduction a monoid that can be stored:
a reduced row re-enters a later reduction as if it were one event per
column, each at its own recorded position."""


def lww_agg(
    df: DataFrame,
    keys: list[str],
    order_cols: list[str],
    patch_cols: list[str] | tuple = (),
) -> DataFrame:
    """One row per key: the payload of the (ts, seq)-max event.

    With ``patch_cols`` the input is in stamped form (``patch_stamp``
    output, or rows this function already reduced): per patch column,
    max over (stamp, value) among rows whose stamp is non-NULL; every
    other payload column (op, event time, order cols, non-patch
    fields) comes from the row-level winner by the row's OWN order
    columns. Output carries the winning ``_po_<col>`` stamps, so the
    result is closed under the operation.

    Associative + commutative by the same argument as ``lww_patch``:
    each column is an independent max over a total order, and the
    stamps carried through storage mean a pre-reduced level re-enters
    a later merge at exactly the positions its values were written at
    — merge-at-read of stored levels ≡ one reduction over the raw
    history (the MOR chain-merge requirement). ONE hash aggregate with
    map-side partial combine."""
    skip = {*keys, *patch_cols, *[PATCH_ORD_PREFIX + c for c in patch_cols]}
    payload = [c for c in df.columns if c not in skip]
    aggs = [
        F.max_by(
            F.struct(*[_col(c) for c in payload]), _order_struct(order_cols)
        ).alias("_w")
    ]
    for c in patch_cols:
        po = _col(PATCH_ORD_PREFIX + c)
        slot = F.when(
            po.isNotNull(),
            F.struct(
                *[po[o].alias(f"_o{i}") for i, o in enumerate(order_cols)],
                _col(c).alias("_v"),
            ),
        )
        aggs.append(F.max(slot).alias(f"_s_{c}"))
    out = df.groupBy(*[_col(k) for k in keys]).agg(*aggs)
    sel = [*[_col(k) for k in keys], "_w.*"]
    for c in patch_cols:
        s = _col(f"_s_{c}")
        sel.append(s.getField("_v").alias(c))
        sel.append(
            F.when(
                s.isNotNull(),
                F.struct(
                    *[
                        s.getField(f"_o{i}").alias(o)
                        for i, o in enumerate(order_cols)
                    ]
                ),
            ).alias(PATCH_ORD_PREFIX + c)
        )
    return out.select(*sel)


def lww_salted(
    df: DataFrame,
    keys: list[str],
    order_cols: list[str],
    salt_buckets: int = 32,
    salt_source: str = "seq",
    patch_cols: list[str] | tuple = (),
) -> DataFrame:
    """Two-stage salted ``lww_agg``. Salt is derived deterministically
    from ``salt_source`` (default the event seq) so replays are
    bit-stable; stage 1 reduces each (key, salt) shard, stage 2 merges
    the ≤ ``salt_buckets`` shard winners per key. Exact because argmax
    over a total order is associative + commutative — and, for
    ``patch_cols``, because the stamped reduction is closed: a shard
    winner re-enters stage 2 at the positions its values were written."""
    salt = F.pmod(F.xxhash64(_col(salt_source)), F.lit(salt_buckets))
    shards = lww_agg(
        df.withColumn("_salt", salt), [*keys, "_salt"], order_cols, patch_cols
    ).drop("_salt")
    return lww_agg(shards, keys, order_cols, patch_cols)


def lww_window(df: DataFrame, keys: list[str], order_cols: list[str]) -> DataFrame:
    w = Window.partitionBy(*[_col(k) for k in keys]).orderBy(
        *[_col(c).desc() for c in order_cols]
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def lww_patch(
    df: DataFrame,
    keys: list[str],
    order_cols: list[str],
    patch_cols: list[str],
    unchanged_marker: str | None = None,
    absent_if: Column | None = None,
) -> DataFrame:
    """Column-level LWW for partial-update change streams.

    Real CDC feeds carry updates that do NOT restate every column:
    Debezium emits a placeholder for unchanged Postgres TOAST columns
    ("__debezium_unavailable_value"), and wide-row sources routinely
    ship patch-style updates with only the touched fields. Row-level
    LWW (``lww_agg``) would overwrite the untouched columns with the
    placeholder / NULL; the correct merge carries the previous value
    forward. ``lww_patch`` resolves each column INDEPENDENTLY: the
    final value of a patch column is its value in the latest event (by
    ``order_cols``) where it was *present*; non-patch payload columns
    (op, event time, ...) come from the latest event overall.

    "Present" means: not equal to ``unchanged_marker`` when a marker
    is given (explicit NULL then still means "set to NULL" — the
    Debezium contract), else simply non-NULL (sparse patch rows).
    ``absent_if`` additionally marks whole rows as carrying no column
    payload — pass ``F.col("op") == "delete"`` so a tombstone's NULLs
    don't read as explicit writes. A column never present for a key
    resolves to NULL. Carry-forward then looks *through* tombstones —
    per-column LWW over the full history; the row-level ``op`` of the
    overall winner still decides whether the key survives, exactly as
    in the row-level path.

    Scale shape: ONE hash aggregate — per column
    ``max(when(present, struct(order..., value)))``; ``when`` yields
    NULL for absent slots and ``max`` skips NULLs, and the (ts, seq)
    total order makes the trailing value field inert in the struct
    comparison. A non-patch column holding a map (no ordering; e.g.
    the parser's ``_extras``) is taken by ``max_by`` over the order
    alone. Column-wise max over a total order is associative and
    commutative, so map-side partial combine applies and the salted
    two-stage split stays exact (same argument as ``lww_salted``)."""
    _check_patch_cols(df, patch_cols, unchanged_marker)
    by_name = {f.name: f.dataType for f in df.schema.fields}
    payload = [c for c in df.columns if c not in keys]
    order_fields = [_col(o).alias(f"_o{i}") for i, o in enumerate(order_cols)]
    aggs = []
    for c in payload:
        if c in patch_cols:
            present = patch_present(_col(c), unchanged_marker, absent_if)
            slot = F.when(present, F.struct(*order_fields, _col(c).alias("_v")))
        elif _holds_map(by_name[c]):
            # a map has no ordering: take it by the order alone
            aggs.append(F.max_by(_col(c), F.struct(*order_fields)).alias(c))
            continue
        else:
            slot = F.struct(*order_fields, _col(c).alias("_v"))
        aggs.append(F.max(slot).getField("_v").alias(c))
    return df.groupBy(*[_col(k) for k in keys]).agg(*aggs)


def _check_patch_cols(
    df: DataFrame,
    patch_cols: list[str],
    unchanged_marker: str | None = None,
) -> None:
    """Fail fast with a clear message instead of a deep analyzer
    error at reduce time: maps are not comparable in Spark — nor is an
    array or struct holding one at any depth — and the patch
    reduction's ``max(struct(order..., value))`` compares the value
    field on stamp ties. (The row-level path never compares values,
    so map PAYLOAD columns — e.g. ``_extras`` — stay fine.)

    A NUMERIC-looking marker on a non-string patch column is rejected
    outright: the presence predicate compares in string space
    (``patch_present``), where ``'-1'`` matches int ``-1`` but not
    double ``-1.0`` — silently different from what either a numeric or
    a string reading of the config intends. Markers are sentinels;
    pick one that cannot render equal to real data (Debezium's own is
    ``__debezium_unavailable_value``)."""
    missing = [c for c in patch_cols if c not in df.columns]
    if missing:
        raise ValueError(f"patch columns absent from the frame: {missing}")
    by_name = {f.name: f.dataType for f in df.schema.fields}
    bad = [c for c in patch_cols if _holds_map(by_name[c])]
    if bad:
        raise ValueError(
            f"map-typed columns cannot be patch columns: {bad} "
            "(per-column LWW needs an orderable value slot)"
        )
    if unchanged_marker is not None:
        non_string = [
            c for c in patch_cols if by_name[c].typeName() != "string"
        ]
        numeric_marker = False
        try:
            float(unchanged_marker)
            numeric_marker = True
        except ValueError:
            pass
        if non_string and numeric_marker:
            raise ValueError(
                f"unchanged_marker {unchanged_marker!r} is numeric-looking "
                f"and patch columns {non_string} are non-string: the "
                "string-space presence comparison would be ambiguous "
                "against real values — use a non-numeric sentinel marker"
            )


def _holds_map(dt: T.DataType) -> bool:
    if isinstance(dt, T.MapType):
        return True
    if isinstance(dt, T.ArrayType):
        return _holds_map(dt.elementType)
    if isinstance(dt, T.StructType):
        return any(_holds_map(f.dataType) for f in dt.fields)
    return False


def patch_present(
    col: Column,
    unchanged_marker: str | None = None,
    absent_if: Column | None = None,
) -> Column:
    """The "this row carries this column" predicate shared by
    ``lww_patch`` and ``patch_stamp`` (semantics documented on
    ``lww_patch``).

    The marker comparison runs in STRING space: ``col != lit(marker)``
    on a non-string column would coerce the marker to the column type
    (NULL for a non-numeric marker), making the predicate NULL for
    every non-null value — ``F.when`` then reads every write as absent
    and the column silently never updates. ``cast("string")`` is the
    identity on string columns and gives non-string columns the
    correct semantics: a value whose string form never equals the
    marker is always present."""
    if unchanged_marker is not None:
        present = col.isNull() | (col.cast("string") != F.lit(unchanged_marker))
    else:
        present = col.isNotNull()
    if absent_if is not None:
        present = present & ~absent_if
    return present


def patch_stamp(
    df: DataFrame,
    order_cols: list[str],
    patch_cols: list[str],
    unchanged_marker: str | None = None,
    absent_if: Column | None = None,
) -> DataFrame:
    """Stamp raw change rows for the storable patch reduction: add
    ``_po_<col>`` = struct(order cols) where the column is present
    (``patch_present``), NULL where it is not — and normalize absent
    values to NULL so the unchanged-marker never reaches storage.
    ``patch_stamp`` + ``lww_agg(patch_cols=...)`` ≡ ``lww_patch`` on raw
    events (pinned by test), but the stamped form survives being
    written out and re-reduced, which is what the patch-mode sink
    needs. Pure projection — no shuffle, stays in codegen."""
    _check_patch_cols(df, patch_cols, unchanged_marker)
    names = list(df.columns)
    sel = [_col(c) for c in names]
    for c in patch_cols:
        present = patch_present(_col(c), unchanged_marker, absent_if)
        sel[names.index(c)] = F.when(present, _col(c)).alias(c)
        sel.append(
            F.when(
                present, F.struct(*[_col(o).alias(o) for o in order_cols])
            ).alias(PATCH_ORD_PREFIX + c)
        )
    return df.select(*sel)


def stamp_batch(
    df: DataFrame,
    order_cols: list[str],
    patch_cols: list[str] | None,
    patch_types: dict[str, str],
    unchanged_marker: str | None = None,
) -> DataFrame:
    """A sink's incoming batch in stamped form — the one step both
    sinks run before ``lww_agg`` (identity without ``patch_cols``).

    Each patch column's type is recorded in ``patch_types`` the first
    time a batch carries it: aligning later sparse batches and older
    levels needs a recorded type, never a guess. In a raw batch, a
    patch column missing top-level but riding ``_extras`` (a producer
    not yet re-run with an evolved schema) is extracted first, as its
    recorded type or else ``string``. The carried columns are stamped
    (tombstones carry none), the rest aligned by ``align_stamps``.
    Aligning BEFORE stamping would be wrong under a marker: a NULL
    value reads as an explicit NULL WRITE (the Debezium set-to-NULL
    contract) and would clobber carried values.

    A frame that already carries a stamp (a patch-mode change feed, a
    replayed stored level) is only aligned: re-stamping would
    overwrite its per-column positions with the row's own order."""
    if not patch_cols:
        return df
    by_name = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    for c in patch_cols:
        if c in by_name:
            patch_types.setdefault(c, by_name[c])
    if not any(PATCH_ORD_PREFIX + c in by_name for c in patch_cols):
        if EXTRAS_COL in by_name:
            for c in patch_cols:
                if c not in by_name:
                    by_name[c] = patch_types.setdefault(c, "string")
                    df = df.withColumn(c, F.col(EXTRAS_COL)[c].cast(by_name[c]))
        df = patch_stamp(
            df,
            order_cols,
            [c for c in patch_cols if c in by_name],
            unchanged_marker,
            absent_if=F.col("op") == "delete",
        )
    return align_stamps(df, order_cols, patch_cols, patch_types)


def align_stamps(
    df: DataFrame,
    order_cols: list[str],
    patch_cols: list[str] | None,
    patch_types: dict[str, str],
) -> DataFrame:
    """Make a stamped frame carry every patch column and its
    ``_po_<col>`` stamp, adding the missing ones as a typed NULL value
    with a NULL stamp — the metadata-only half of patch-column
    evolution. A sparse batch that omits an entire patch column, or a
    stored level written before the column was added, then reduces as
    "column never present", which is exactly the patch semantics of an
    event that does not carry the column. Value types come from
    ``patch_types`` (recorded at first apply and at evolution), so
    alignment never guesses.

    A value without its stamp is ambiguous (at what position was it
    written?) and raises — stored levels are always written with
    both, and a pre-evolution change feed carries neither."""
    if not patch_cols:
        return df
    by_name = {f.name: f.dataType for f in df.schema.fields}
    stamp_ddl = next(
        (
            by_name[PATCH_ORD_PREFIX + c].simpleString()
            for c in patch_cols
            if PATCH_ORD_PREFIX + c in by_name
        ),
        None,
    )
    if stamp_ddl is None and all(o in by_name for o in order_cols):
        # no stamp column present at all — derive the stamp struct
        # type from the order columns (a fully pre-evolution level)
        stamp_ddl = T.StructType(
            [T.StructField(o, by_name[o]) for o in order_cols]
        ).simpleString()
    add = []
    for c in patch_cols:
        po = PATCH_ORD_PREFIX + c
        have_v, have_po = c in by_name, po in by_name
        if have_v and have_po:
            continue
        if have_v:
            raise ValueError(
                f"stamped frame carries patch column {c!r} without its "
                f"{po!r} stamp — evolve the table (evolve_patch_cols) "
                "before applying feeds that carry this column"
            )
        ddl = patch_types.get(c)
        if ddl is None:
            raise ValueError(
                f"patch column {c!r} missing from the frame and no type "
                "recorded in the manifest (patch_types) to align it"
            )
        if stamp_ddl is None:
            raise ValueError(
                "cannot derive the order-stamp type: frame has no "
                f"existing {PATCH_ORD_PREFIX}* column and no order "
                f"columns {order_cols}"
            )
        add.append(F.lit(None).cast(ddl).alias(c))
        add.append(F.lit(None).cast(stamp_ddl).alias(po))
    return df.select("*", *add) if add else df


def lww_patch_salted(
    df: DataFrame,
    keys: list[str],
    order_cols: list[str],
    patch_cols: list[str],
    unchanged_marker: str | None = None,
    absent_if: Column | None = None,
    salt_buckets: int = 32,
    salt_source: str = "seq",
) -> DataFrame:
    """Two-stage salted variant of ``lww_patch`` for pathologically
    hot keys on partial-update streams: ``patch_stamp``, the salted
    split of the stamped reduction (``lww_salted`` with
    ``patch_cols``), then the stamps dropped. Result matches
    ``lww_patch`` bit-for-bit (pinned by test)."""
    stamped = patch_stamp(df, order_cols, patch_cols, unchanged_marker, absent_if)
    out = lww_salted(
        stamped, keys, order_cols, salt_buckets, salt_source, patch_cols
    )
    return out.drop(*[PATCH_ORD_PREFIX + c for c in patch_cols])


POLICY_AGGS = ("lww", "first", "sum", "max", "min", "count")


def policy_agg(
    df: DataFrame,
    keys: list[str],
    order_cols: list[str],
    policies: dict[str, str],
) -> DataFrame:
    """Per-column merge policies — the apply algebra beyond pure LWW.

    Real CDC targets rarely want every column last-writer-wins: a
    conversation's ``tokens_used`` accumulates across updates
    (``sum``), ``created_at`` must keep the FIRST writer (``first``),
    an SLA column wants the extreme (``max``/``min``), audit wants
    the event count (``count``) — while role/text/tool stay ``lww``.

    ``policies`` maps output column → one of ``POLICY_AGGS``:

    - ``lww``   — value of the (order_cols)-max event (default
      semantics of :func:`lww_agg`);
    - ``first`` — value of the (order_cols)-min event (first-writer-
      wins, immutable-once-set columns);
    - ``sum``/``max``/``min`` — over ALL of the key's events
      (deletes included: the aggregate view is the audit trail, and
      the row's EXISTENCE is still decided by the LWW winner's op —
      identical tombstone semantics to the rest of the engine);
    - ``count`` — events per key (duplicate deliveries included).

    Scale shape: everything compiles into ONE ``groupBy(keys).agg``
    — max_by/min_by/sum/max/min/count are all associative and
    commutative, so Spark's hash aggregate applies map-side partial
    combine to every policy at once; the plan is the same single
    exchange as ``lww_agg`` regardless of how many policies are
    mixed. A hot key pre-reduces per input partition exactly like
    the plain LWW path (and ``lww_salted``'s two-stage split stays
    exact here too, for the same algebraic reason).
    """
    order = _order_struct(order_cols)
    aggs = [
        F.max_by(F.col("op"), order).alias("op")
    ] if "op" in df.columns and "op" not in policies else []
    for c, p in policies.items():
        if p == "lww":
            aggs.append(F.max_by(_col(c), order).alias(c))
        elif p == "first":
            aggs.append(F.min_by(_col(c), order).alias(c))
        elif p == "sum":
            aggs.append(F.sum(_col(c)).alias(c))
        elif p == "max":
            aggs.append(F.max(_col(c)).alias(c))
        elif p == "min":
            aggs.append(F.min(_col(c)).alias(c))
        elif p == "count":
            aggs.append(F.count(F.lit(1)).alias(c))
        else:
            raise ValueError(
                f"unknown merge policy {p!r} for column {c!r}; "
                f"one of {POLICY_AGGS}"
            )
    return df.groupBy(*[_col(k) for k in keys]).agg(*aggs)
