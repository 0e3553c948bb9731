"""DataFrame-level capture operators.

Two execution paths, chosen by ``CaptureSpec`` / caller:

``extract_parity``
    ``mapInArrow`` running the pure-Python engine —
    full reference parity (concatenated-document splitting, root
    re-pointing with multiple matches, depth-N flattening, duplicate
    keys, missing-vs-JSON-null, literals, number fallbacks, row-level
    error quarantine). Output cells are canonical JSON strings;
    SQL NULL = pointer matched nothing, the string ``"null"`` =
    captured JSON null (TestCapturingJsonPointerList.java:185-186 vs
    :293). Cardinality-changing (one input row → 0..N documents), so
    it is a mapInArrow stage, never a per-row Python UDF. Only the
    document column becomes Python objects; passthrough columns are
    gathered with Arrow ``take`` and keep their Arrow types exactly.

``capture_typed``
    The scale path: ONE ``from_json`` with a pruned schema derived
    from the shared-prefix pointer tree, then nested field extraction —
    Catalyst CSE keeps a single JSON parse per row and whole-stage
    codegen applies (the Spark equivalent of the reference's one-pass
    trie, JsonPointerTree.java:29-67). For top-level member names this
    is the exact analogue of the reference's direct-member fast path
    (CapturingDirectMemberNameList.java:46-104): non-requested members
    are skipped inside the JVM parser without materialization.
"""

from __future__ import annotations

from typing import Iterator

import pyarrow as pa
from pyspark.sql import Column, DataFrame, functions as F, types as T

from ..functions import json_values as jv
from ..plans.capture_spec import CaptureSpec
from ..plans.pointer import PointerTree, split_pointer

DOC_SEQ_COL = "_doc_seq"
ERROR_COL = "_error"


def extract_parity(
    df: DataFrame,
    doc_col: str,
    spec: CaptureSpec,
    root: str | None = None,
    flatten_depth: int = 0,
    errors: str = "quarantine",
    keep_doc: bool = False,
) -> DataFrame:
    """Reference-parity capture over a string column of JSON documents.

    Pipeline per input cell (order pinned by the reference builder,
    JsonValueParser.java:176-195): split concatenated documents →
    re-root at ``root`` (all matches) → flatten arrays to
    ``flatten_depth`` → capture ``spec``'s pointers in one pass.

    Emits one output row per *document*; input rows whose cell yields
    no documents disappear (root miss / non-array at flatten depth —
    TestJacksonFilter.java:35-53, TestFlattenJsonArrayFilter.java:88-91).

    ``errors``:
      - ``"quarantine"`` (default): malformed input emits one row with
        NULL cells and ``_error`` set — PERMISSIVE semantics; the
        reference's JsonParseException is a row-skippable DataException
        (JsonParseException.java:24-43).
      - ``"fail"``: raise (strict mode for tests).
      - ``"skip"``: drop malformed rows silently.
    """
    if errors not in ("quarantine", "fail", "skip"):
        raise ValueError(f"unknown errors policy: {errors}")
    root_tokens = split_pointer(root) if root not in (None, "") else []
    passthrough = [f for f in df.schema.fields if f.name != doc_col or keep_doc]
    out_fields = (
        list(passthrough)
        + [T.StructField(DOC_SEQ_COL, T.LongType())]
        + [T.StructField(c, T.StringType()) for c in spec.column_names]
        + [T.StructField(ERROR_COL, T.StringType())]
    )
    out_schema = T.StructType(out_fields)
    pass_names = [f.name for f in passthrough]
    tree = spec.tree
    options = spec.options
    with_literals = options.with_literals
    width = spec.width
    null_cells = [None] * width
    out_names = out_schema.names

    def scan(batch: pa.RecordBatch, decoder, utf8: bool) -> pa.RecordBatch:
        # per output row: source row index, _doc_seq, K cells, _error
        rows, seqs, cells, errs = [], [], [], []
        for i, text in enumerate(batch.column(doc_col).to_pylist()):
            if text is None:
                continue
            seq = 0
            try:
                for doc in jv.iter_documents(text, options, decoder):
                    rooted = jv.repoint(doc, root_tokens) if root_tokens else [doc]
                    for sub in rooted:
                        for final in jv.flatten(sub, flatten_depth):
                            row = jv.capture_cells_json(final, tree, with_literals)
                            if utf8:  # Arrow strings are UTF-8
                                try:
                                    "".join(filter(None, row)).encode("utf-8")
                                except UnicodeEncodeError as ex:
                                    raise jv.JsonParseError(
                                        "lone surrogate \\u%04x has no UTF-8 "
                                        "encoding" % ord(ex.object[ex.start])
                                    ) from None
                            cells.append(row)
                            rows.append(i)
                            seqs.append(seq)
                            errs.append(None)
                            seq += 1
            except jv.JsonParseError as ex:
                if errors == "fail":
                    raise
                if errors == "quarantine":
                    cells.append(null_cells)
                    rows.append(i)
                    seqs.append(-1)
                    errs.append(str(ex))
        take = pa.array(rows, pa.int64())
        columns = zip(*cells) if cells else [()] * width
        return pa.RecordBatch.from_arrays(
            [batch.column(name).take(take) for name in pass_names]
            + [pa.array(seqs, pa.int64())]
            + [pa.array(col, pa.string()) for col in columns]
            + [pa.array(errs, pa.string())],
            names=out_names,
        )

    def process(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        decoder = jv.make_decoder(options)
        for batch in batches:
            try:
                out = scan(batch, decoder, utf8=False)
            except UnicodeEncodeError:
                # a captured string holds a lone surrogate (an escaped
                # "\ud800"), which has no UTF-8 form: re-scan the batch,
                # treating such a document as malformed
                out = scan(batch, decoder, utf8=True)
            yield out

    return df.mapInArrow(process, out_schema)


def _merge_pruned_schema(node) -> T.DataType:
    """Pruned Spark type for a pointer-tree node: struct of requested
    members, array when all child segments are decimal indices,
    StringType at leaves (JSON-text passthrough for nested values)."""
    if node.is_leaf:
        return T.StringType()
    keys = list(node.children)
    if all(k.isdigit() for k in keys):
        merged = PointerTreeNodeMerge(list(node.children.values()))
        return T.ArrayType(_merge_pruned_schema(merged))
    if any(k.isdigit() for k in keys):
        raise ValueError(
            "mixed array-index and member-name segments at one level; "
            "use the parity engine"
        )
    return T.StructType(
        [T.StructField(k, _merge_pruned_schema(c)) for k, c in node.children.items()]
    )


class PointerTreeNodeMerge:
    """Union view over sibling array-index children (shared element schema)."""

    def __init__(self, nodes) -> None:
        self.nodes = nodes
        self.children: dict[str, object] = {}
        self.captures: list[int] = []
        for n in nodes:
            self.captures.extend(n.captures)
            for k, c in n.children.items():
                if k in self.children:
                    self.children[k] = PointerTreeNodeMerge(
                        [self.children[k], c]
                    )
                else:
                    self.children[k] = c

    @property
    def is_leaf(self) -> bool:
        # A merged node is a leaf only if every constituent is.
        return not self.children and not any(n.children for n in self.nodes)


def pruned_schema(tree: PointerTree) -> T.DataType:
    """Minimal ``from_json`` schema covering every captured path —
    shared pointer prefixes become shared struct nodes, the Catalyst
    analogue of the reference's trie (JsonPointerTree.java:29-67)."""
    return _merge_pruned_schema(tree.root)


def capture_typed(
    df: DataFrame,
    doc_col: str,
    spec: CaptureSpec,
    casts: dict[str, T.DataType | str] | None = None,
) -> DataFrame:
    """Scale-path capture: one pruned ``from_json`` → K columns.

    Missing and JSON-null both map to SQL NULL (typed semantics —
    use ``extract_parity`` when the distinction matters). Root capture
    (``spec.strategy == ROOT``) returns the document text itself.

    Strategy selection is automatic, mirroring the reference
    (CapturingPointers.java:145-165): specs the pruned-schema path
    can't express — parity-only parse options, or pointer sets mixing
    array-index and member-name segments at one level (``/a/1/b`` +
    ``/a/c``) — route to the Arrow parity engine transparently, with
    the same output contract (input columns + K capture columns,
    typed cell representation). The fallback assumes one document per
    cell, like every typed path.
    """
    casts = casts or {}
    if not spec.pointers or spec.pointers == ("/",):
        out = df.withColumn(spec.column_names[0], F.col(doc_col))
        return out

    if spec.requires_parity_engine():
        return _typed_via_parity(df, doc_col, spec, casts)

    schema = pruned_schema(spec.tree)
    # Two-step projection: alias the parsed struct once, extract in a
    # second select — inlining from_json per capture column defeats
    # Catalyst CSE and re-parses the document K times (measured 3×
    # slower on the CDC envelope; same rule as
    # sources/events.py::canonical_rows).
    tmp = "_cap"
    parsed_df = df.select("*", F.from_json(F.col(doc_col), schema).alias(tmp))
    paths = spec.pruned_field_paths()
    cols: list[Column] = [F.col(c) for c in df.columns]
    for name, path in zip(spec.column_names, paths):
        expr = F.col(tmp)
        for tok in path:
            if tok.isdigit():
                expr = expr.getItem(int(tok))
            else:
                expr = expr.getField(tok)
        if name in casts:
            expr = expr.cast(casts[name])
        cols.append(expr.alias(name))
    return parsed_df.select(*cols)


def _typed_via_parity(
    df: DataFrame,
    doc_col: str,
    spec: CaptureSpec,
    casts: dict[str, T.DataType | str],
) -> DataFrame:
    """Parity-engine fallback with the typed output contract.

    The parity engine emits canonical-JSON cells (scalar strings stay
    quoted); typed consumers expect the ``from_json``-StringType
    representation (scalars unquoted/unescaped, containers as raw JSON
    text). Re-parsing each cell wrapped in ``[...]`` as
    ``array<string>`` performs exactly that conversion JVM-side.
    Special cases pinned explicitly: JSON null → SQL NULL (typed
    semantics); non-numeric literals (``NaN``/``Infinity``) pass
    through verbatim — the JVM re-parse re-quotes them; any cell the
    re-parse cannot handle (supplemental-literal shapes) keeps its
    canonical form rather than degrading to NULL. Quarantine columns
    are dropped: typed paths have no error channel."""
    parsed = extract_parity(df, doc_col, spec, keep_doc=True)
    cols: list[Column] = [F.col(c) for c in df.columns]
    for name in spec.column_names:
        cell = F.col(name)
        unwrapped = F.from_json(
            F.concat(F.lit("["), cell, F.lit("]")), "array<string>"
        ).getItem(0)
        typed_cell = (
            F.when(cell.isNull() | (cell == "null"), F.lit(None).cast("string"))
            .when(cell.isin("NaN", "Infinity", "-Infinity"), cell)
            .otherwise(F.coalesce(unwrapped, cell))
        )
        if name in casts:
            typed_cell = typed_cell.cast(casts[name])
        cols.append(typed_cell.alias(name))
    return parsed.select(*cols)


def capture_json_tuple(
    df: DataFrame, doc_col: str, member_names: list[str], out_names: list[str] | None = None
) -> DataFrame:
    """DIRECT fast path via ``json_tuple`` — exact Spark analogue of
    the reference's member-name dispatch-and-skip
    (CapturingDirectMemberNameList.java:46-104). Typed semantics:
    missing and JSON null are both SQL NULL."""
    out_names = out_names or member_names
    jt = F.json_tuple(F.col(doc_col), *member_names).alias(*out_names)
    return df.select("*", jt)
