"""Output oracles that share no code with the engine.

CDC workloads: last-writer-wins over the generated change events,
parsed with Arrow's JSON reader and reduced with pandas — the latest
event by ``(ts, seq)`` per ``(conv_id, turn_idx)`` wins, and keys whose
winner is a delete are absent. The capture workload: the standard
``json`` module splits each cell into its concatenated documents and a
plain dict/list walk resolves each JSON pointer.

Every comparison is order-independent: both sides are reduced to a
sorted list of normalised rows and a SHA-256 over it.
"""

from __future__ import annotations

import hashlib
import io
import json
import math

import pandas as pd
import pyarrow as pa
import pyarrow.json as pajson
import pyarrow.parquet as pq

# Compared columns of a sink row. ``text`` embeds the winning event's
# seq, so it pins which event won.
CDC_COLUMNS = ["conv_id", "turn_idx", "text", "tool"]

_EVENT_SCHEMA = pa.schema(
    [
        ("op", pa.string()),
        ("ts", pa.string()),
        (
            "data",
            pa.struct(
                [
                    ("conv_id", pa.string()),
                    ("turn_idx", pa.int64()),
                    ("text", pa.string()),
                    ("tool", pa.string()),
                ]
            ),
        ),
    ]
)


def digest(rows: list[tuple]) -> str:
    h = hashlib.sha256()
    for r in sorted(rows, key=repr):
        h.update(repr(r).encode())
    return h.hexdigest()[:16]


class LwwOracle:
    """Expected table state after applying a prefix of segment files."""

    def __init__(self) -> None:
        self._events: list[pd.DataFrame] = []

    def add_segment(self, path: str) -> None:
        t = pq.read_table(path, columns=["seq", "event_json"])
        lines = "\n".join(t.column("event_json").to_pylist())
        parsed = pajson.read_json(
            io.BytesIO(lines.encode()),
            parse_options=pajson.ParseOptions(
                explicit_schema=_EVENT_SCHEMA, unexpected_field_behavior="ignore"
            ),
        )
        data = parsed.column("data").combine_chunks()
        self._events.append(
            pd.DataFrame(
                {
                    "seq": t.column("seq").to_numpy(),
                    "op": parsed.column("op").to_pandas(),
                    "ts": pd.to_datetime(parsed.column("ts").to_pandas()),
                    "conv_id": data.field("conv_id").to_pandas(),
                    "turn_idx": data.field("turn_idx").to_pandas(),
                    "text": data.field("text").to_pandas(),
                    "tool": data.field("tool").to_pandas(),
                }
            )
        )

    def expected(self, conv_id: str | None = None) -> list[tuple]:
        ev = pd.concat(self._events, ignore_index=True)
        if conv_id is not None:
            ev = ev[ev["conv_id"] == conv_id]
        win = ev.sort_values(["ts", "seq"], kind="stable").groupby(
            ["conv_id", "turn_idx"], sort=False
        ).tail(1)
        win = win[win["op"] != "delete"]
        return [_cdc_row(r) for r in win[CDC_COLUMNS].itertuples(index=False)]


def _cdc_row(r) -> tuple:
    conv_id, turn_idx, text, tool = r
    if tool is None or (isinstance(tool, float) and math.isnan(tool)):
        tool = None
    return (str(conv_id), int(turn_idx), str(text), tool)


def sink_rows(table: pa.Table) -> list[tuple]:
    """Normalised rows of a ``read()`` result collected as Arrow."""
    cols = [table.column(c).to_pylist() for c in CDC_COLUMNS]
    return [_cdc_row(r) for r in zip(*cols)]


def check_cdc(actual: pa.Table, expected: list[tuple]) -> bool:
    return digest(sink_rows(actual)) == digest(expected)


# ---- capture ---------------------------------------------------------

MISSING = object()


def split_documents(text: str) -> list:
    dec = json.JSONDecoder()
    docs, i, n = [], 0, len(text)
    while True:
        while i < n and text[i] in " \t\r\n":
            i += 1
        if i == n:
            return docs
        doc, i = dec.raw_decode(text, i)
        docs.append(doc)


def resolve(doc, pointer: str):
    node = doc
    for tok in pointer.split("/")[1:]:
        tok = tok.replace("~1", "/").replace("~0", "~")
        if isinstance(node, dict) and tok in node:
            node = node[tok]
        elif isinstance(node, list) and tok.isdigit() and int(tok) < len(node):
            node = node[int(tok)]
        else:
            return MISSING
    return node


def _norm(v):
    """Hashable, order-stable form of a decoded JSON value."""
    if v is MISSING:
        return ("<missing>",)
    return json.dumps(v, sort_keys=True)


def expected_parity(doc_ids, docs, pointers) -> list[tuple]:
    """One row per document: (doc_id, position in cell, *pointer values)."""
    out = []
    for doc_id, text in zip(doc_ids, docs):
        for k, d in enumerate(split_documents(text)):
            out.append((int(doc_id), k, *(_norm(resolve(d, p)) for p in pointers)))
    return out


def parity_rows(table: pa.Table, columns, seq_col: str, error_col: str) -> list[tuple]:
    """Rows of ``extract_parity`` output; cells are canonical JSON text
    (SQL NULL = pointer matched nothing). A row with an error is kept
    with a marker so it can never match."""
    ids = table.column("doc_id").to_pylist()
    seqs = table.column(seq_col).to_pylist()
    errs = table.column(error_col).to_pylist()
    cells = [table.column(c).to_pylist() for c in columns]
    out = []
    for i, (doc_id, seq, err) in enumerate(zip(ids, seqs, errs)):
        vals = tuple(_norm(MISSING if col[i] is None else json.loads(col[i])) for col in cells)
        out.append((int(doc_id), int(seq), *vals) if err is None else ("<error>", err))
    return out


def expected_typed(doc_ids, docs, pointers) -> list[tuple]:
    """``from_json`` semantics: the first document of a cell, missing and
    JSON null both NULL."""
    out = []
    for doc_id, text in zip(doc_ids, docs):
        d = split_documents(text)[0]
        vals = []
        for p in pointers:
            v = resolve(d, p)
            vals.append(None if v is MISSING or v is None else _norm(v))
        out.append((int(doc_id), *vals))
    return out


def typed_rows(table: pa.Table, expected_by_id: dict, columns) -> list[tuple]:
    """Rows of ``capture_typed`` output. String cells hold JSON strings
    unquoted and other values as JSON text, so each cell is decoded by
    the type the oracle expects at that position."""
    ids = table.column("doc_id").to_pylist()
    cells = [table.column(c).to_pylist() for c in columns]
    out = []
    for i, doc_id in enumerate(ids):
        exp = expected_by_id.get(int(doc_id))
        vals = []
        for j, col in enumerate(cells):
            c = col[i]
            if c is None:
                vals.append(None)
            elif exp is not None and exp[1 + j] is not None and exp[1 + j].startswith('"'):
                vals.append(_norm(c))
            else:
                try:
                    vals.append(_norm(json.loads(c)))
                except json.JSONDecodeError:
                    vals.append(_norm(c))
        out.append((int(doc_id), *vals))
    return out
