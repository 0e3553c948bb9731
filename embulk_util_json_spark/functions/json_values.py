"""Pure-Python JSON value engine with reference-parity semantics.

This module is the *inner loop* of the Arrow-vectorized capture UDFs
(strategy (c) in ``plans.capture_spec``). It is plain Python so it can
run inside ``mapInArrow`` batches without Spark imports, and it
reproduces the reference's parse/capture behavior that Spark's
built-in JSON expressions cannot express:

- duplicate keys preserved in the value tree, last-match-wins at
  capture slots (reference TreeBasedCapturer.java:206-211,
  InternalJsonValueReader.java:143-159);
- missing pointer → SQL NULL, captured JSON null → the string
  ``"null"`` — distinguishable (TestCapturingJsonPointerList.java:
  185-186 vs :293);
- supplemental number literals (JsonValueParser.java:104-118);
- unparsable-number fallbacks: integer overflow beyond int64 yields a
  configured default instead of an error
  (InternalJsonValueReader.java:274-294);
- int-with-exponent parses as double: ``12345e3`` → ``12345000.0``
  (TestJsonValueParser.java:58-72);
- NaN/Infinity literals and unquoted control chars accepted by default
  (JsonValueParser.java:221-226);
- concatenated documents ``{...}{...}`` split into a sequence
  (TestJsonValueParser.java:107-113);
- root re-pointing with multiple matches per document
  (JsonValueParser.java:74-90, TestJsonParser.java:169-178) and
  depth-N array flattening where a non-array at flatten depth yields
  nothing (FlattenJsonArrayFilter.java:24-51,
  TestFlattenJsonArrayFilter.java:88-91).

Values are represented as plain Python values except JSON objects,
which are ``JsonObjectPairs`` (an ordered list of (key, value) pairs —
duplicates retained), and numbers, which may be ``LiteralInt`` /
``LiteralFloat`` subclasses carrying the original literal text.
"""

from __future__ import annotations

import json
import math
from dataclasses import dataclass, replace
from json.encoder import encode_basestring
from typing import Any, Iterator

INT64_MIN = -(2**63)
INT64_MAX = 2**63 - 1

# Sentinel for "pointer matched nothing" — distinct from captured None
# (JSON null). Encodes to SQL NULL downstream.
MISSING = object()


class JsonParseError(ValueError):
    """Recoverable bad-data error (reference JsonParseException.java:24-43,
    a DataException: row-skippable, never fatal to the job)."""


class JsonObjectPairs(list):
    """A JSON object as an ordered list of (key, value) pairs.

    Insertion order preserved and duplicate keys retained, matching the
    reference's JsonObject.ofUnsafe parallel-array build
    (InternalJsonValueReader.java:143-159)."""

    __slots__ = ()


class LiteralInt(int):
    """int carrying the original JSON literal text."""

    def __new__(cls, literal: str):
        self = super().__new__(cls, literal)
        self.literal = literal
        return self


class LiteralFloat(float):
    """float carrying the original JSON literal text."""

    def __new__(cls, literal: str):
        self = super().__new__(cls, float(literal))
        self.literal = literal
        return self


@dataclass(frozen=True)
class ParseOptions:
    """Mirrors JsonValueParser.Builder knobs (JsonValueParser.java:57-134).
    ``fallback_enabled`` covers ints only: Jackson's getDoubleValue
    saturates to Infinity, so a double never fails and never falls back."""

    with_literals: bool = False
    fallback_enabled: bool = False
    fallback_long: int = 0
    allow_non_numeric_numbers: bool = True  # JsonValueParser.java:224
    allow_unquoted_control_chars: bool = True  # JsonValueParser.java:222


DEFAULT_OPTIONS = ParseOptions()


def _reject_constant(name: str) -> float:
    raise JsonParseError(f"Non-numeric number literal not allowed: {name}")


def make_decoder(options: ParseOptions) -> json.JSONDecoder:
    """The ``parse_int`` hook sees only int literals and enforces the
    reference's 64-bit value model (InternalJsonValueReader.java:115-120):
    out of range → ``fallback_long`` when enabled, else JsonParseError
    (getLongValue, InternalJsonValueReader.java:285-294)."""
    with_literals = options.with_literals

    def parse_int(literal: str) -> int:
        # JSON ints have no leading zeros, so past sign + 19 digits a literal
        # is out of range; int() of one past 4,300 digits raises ValueError.
        if len(literal) <= 20 and INT64_MIN <= (value := int(literal)) <= INT64_MAX:
            return LiteralInt(literal) if with_literals else value
        if options.fallback_enabled:
            return options.fallback_long
        raise JsonParseError(f"Integer out of int64 range: {literal}")

    return json.JSONDecoder(
        object_pairs_hook=JsonObjectPairs,
        parse_int=parse_int,
        parse_float=LiteralFloat if with_literals else None,
        parse_constant=None if options.allow_non_numeric_numbers else _reject_constant,
        strict=not options.allow_unquoted_control_chars,
    )


def iter_documents(
    text: str, options: ParseOptions = DEFAULT_OPTIONS, decoder: json.JSONDecoder | None = None
) -> Iterator[Any]:
    """Yield each complete JSON document from concatenated input.

    ``{"a":1}{"b":2}`` yields two documents (reference pull loop,
    JsonValueParser.java:241-249; TestJsonValueParser.java:107-113).
    Empty / whitespace-only input yields nothing (readJsonValue → null
    at EOF). Malformed input raises JsonParseError. ``decoder`` is
    ``make_decoder(options)``, passed in to build it once per batch.
    """
    decoder = decoder or make_decoder(options)
    idx = 0
    n = len(text)
    while True:
        while idx < n and text[idx] in " \t\r\n":
            idx += 1
        if idx >= n:
            return
        try:
            try:
                value, idx = decoder.raw_decode(text, idx)
            except JsonParseError:
                # The int64 check fires mid-decode, but a syntax error anywhere
                # in the document outranks it: decode again with the fallback
                # on, which never raises for a range (bad input only).
                make_decoder(replace(options, fallback_enabled=True)).raw_decode(text, idx)
                raise
        except json.JSONDecodeError as ex:
            raise JsonParseError(f"Invalid JSON at offset {ex.pos}: {ex.msg}") from ex
        yield value


def parse_single(text: str, options: ParseOptions = DEFAULT_OPTIONS) -> Any:
    """Parse exactly one document; empty input is an error
    (reference JsonParser.java:176-178)."""
    docs = list(iter_documents(text, options))
    if not docs:
        raise JsonParseError("Failed to parse empty JSON string")
    if len(docs) > 1:
        raise JsonParseError("Multiple JSON documents where one was expected")
    return docs[0]


def encode(value: Any, with_literals: bool = False) -> str:
    """Canonical JSON encoding: minified, insertion order preserved,
    duplicate keys retained. When ``with_literals``, numbers are
    emitted using their original literal text (the observable effect of
    enableSupplementalLiteralsWithNumbers on re-serialization)."""
    out: list[str] = []
    _encode_into(value, out, with_literals)
    return "".join(out)


def _encode_into(value: Any, out: list[str], with_literals: bool) -> None:
    if value is None:
        out.append("null")
    elif value is True:
        out.append("true")
    elif value is False:
        out.append("false")
    elif isinstance(value, (LiteralInt, LiteralFloat)) and with_literals:
        out.append(value.literal)
    elif isinstance(value, int):
        out.append(str(int(value)))
    elif isinstance(value, float):
        if math.isnan(value):
            out.append("NaN")
        elif math.isinf(value):
            out.append("Infinity" if value > 0 else "-Infinity")
        else:
            out.append(repr(value))
    elif isinstance(value, str):
        out.append(encode_basestring(value))
    elif isinstance(value, JsonObjectPairs):
        out.append("{")
        for i, (k, v) in enumerate(value):
            if i:
                out.append(",")
            out.append(encode_basestring(k))
            out.append(":")
            _encode_into(v, out, with_literals)
        out.append("}")
    elif isinstance(value, list):
        out.append("[")
        for i, v in enumerate(value):
            if i:
                out.append(",")
            _encode_into(v, out, with_literals)
        out.append("]")
    else:  # pragma: no cover
        raise JsonParseError(f"Cannot encode value of type {type(value)!r}")


def repoint(value: Any, tokens: list[str]) -> list[Any]:
    """All sub-values of ``value`` at the pointer path, document order.

    Duplicate keys yield multiple matches (Jackson
    FilteringParserDelegate with multiple-match=true,
    JsonValueParser.java:183); a non-matching document yields []
    and is skipped entirely (TestJacksonFilter.java:35-53). Array
    segments match by decimal index (TestJsonValueParser.java:122-127).
    """
    if not tokens:
        return [value]
    head, rest = tokens[0], tokens[1:]
    matches: list[Any] = []
    if isinstance(value, JsonObjectPairs):
        for k, v in value:
            if k == head:
                matches.extend(repoint(v, rest))
    elif isinstance(value, list) and not isinstance(value, JsonObjectPairs):
        if head.isdigit():
            idx = int(head)
            if idx < len(value):
                matches.extend(repoint(value[idx], rest))
    return matches


def flatten(value: Any, depth: int) -> list[Any]:
    """Flatten top-level arrays to ``depth``; non-array at a flatten
    level yields nothing (FlattenJsonArrayFilter.java:24-51: objects
    and scalars are dropped, TestFlattenJsonArrayFilter.java:88-91).
    depth == 0 is the identity."""
    if depth <= 0:
        return [value]
    if isinstance(value, list) and not isinstance(value, JsonObjectPairs):
        out: list[Any] = []
        for element in value:
            out.extend(flatten(element, depth - 1))
        return out
    return []


def capture(value: Any, tree) -> list[Any]:
    """Single-pass multi-pointer capture of one document.

    Returns a width-K list; cells are MISSING when the pointer matched
    nothing. Later matches overwrite earlier ones (last-writer-wins,
    TreeBasedCapturer.java:206-211). Overlapping pointers capture
    independently (TestCapturingJsonPointerList.java:442-463). The
    root node (pointer ``/``) captures the whole document
    (TestJsonValueParser.java:159-181).
    """
    cells: list[Any] = [MISSING] * tree.width
    _capture_visit(tree.root, value, cells)
    return cells


def _capture_visit(node, value: Any, cells: list[Any]) -> None:
    for i in node.captures:
        cells[i] = value
    if not node.children:
        return
    if isinstance(value, JsonObjectPairs):
        for k, v in value:
            child = node.children.get(k)
            if child is not None:
                _capture_visit(child, v, cells)
    elif isinstance(value, list):
        for idx, v in enumerate(value):
            child = node.children.get(str(idx))
            if child is not None:
                _capture_visit(child, v, cells)


def capture_cells_json(
    value: Any, tree, with_literals: bool = False
) -> list[str | None]:
    """Capture + JSON-encode: MISSING → None (SQL NULL), JSON null →
    the string ``"null"`` — the distinguishability invariant."""
    return [
        None if cell is MISSING else encode(cell, with_literals)
        for cell in capture(value, tree)
    ]
