"""CaptureSpec — compile capturing pointers into an execution strategy.

Driver-side planner mirroring the reference's strategy selection
(CapturingPointers.java:61-173):

- no pointers                  → ROOT   (capture the whole document;
                                          CapturingPointerToRoot.java:23-42)
- only direct member names     → DIRECT (top-level key dispatch, skip
                                          everything else;
                                          CapturingDirectMemberNameList.java:30-104)
- any real JSON Pointer        → TREE   (member names are escaped and
                                          *promoted* to pointers — ``~``→``~0``,
                                          ``/``→``~1`` — and a shared-prefix
                                          tree drives one single pass;
                                          CapturingPointers.java:82-95,151-164)

On Spark these strategies become:

- typed mode   → one ``from_json`` with a *pruned* schema derived from
  the pointer tree (shared prefixes = shared struct nodes), or
  ``json_tuple`` for the DIRECT shape. One combined schema for all K
  pointers so Catalyst's common-subexpression elimination keeps a
  single parse per row — the Spark equivalent of the reference's
  single-pass trie (JsonPointerTree.java:29-67).
- parity mode  → a ``mapInArrow`` stage running the
  pure-Python engine in ``functions.json_values`` (needed for the
  semantics built-ins can't express: missing-vs-JSON-null, duplicate
  keys, supplemental literals, number fallbacks, strict error
  taxonomy).

A spec is compiled once on the driver and shipped to executors in the
UDF closure — amortized across all rows, as the reference's javadoc
advises for its matching tree (JsonPointerTree.java:110-112).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from enum import Enum

from ..functions.json_values import DEFAULT_OPTIONS, ParseOptions
from .pointer import PointerTree, escape_member_name, split_pointer


class Strategy(Enum):
    ROOT = "root"
    DIRECT = "direct"
    TREE = "tree"


NAME_PREFIX = "name:"


@dataclass(frozen=True)
class CaptureSpec:
    """Compiled capture plan: K pointers → K output columns."""

    raw: tuple[str, ...]
    pointers: tuple[str, ...]  # after member-name promotion (TREE) or raw names (DIRECT)
    strategy: Strategy
    column_names: tuple[str, ...]
    options: ParseOptions = DEFAULT_OPTIONS
    _tree: PointerTree = field(default=None, repr=False, compare=False)

    @property
    def width(self) -> int:
        return len(self.column_names) if self.strategy is not Strategy.ROOT else 1

    @property
    def tree(self) -> PointerTree:
        return self._tree

    @staticmethod
    def compile(
        pointers: list[str] | None,
        column_names: list[str] | None = None,
        options: ParseOptions = DEFAULT_OPTIONS,
    ) -> "CaptureSpec":
        """Compile a capture spec.

        ``pointers`` entries are JSON Pointers (``/foo``, ``/``,
        ``/a/1/b``) or direct member names prefixed ``name:`` (the
        FIXTURES.md T1 convention). Empty/None → ROOT capture.
        """
        raw = tuple(pointers or [])
        if not raw:
            names = tuple(column_names or ["captured"])
            if len(names) != 1:
                raise ValueError("ROOT capture has exactly one output column")
            tree = PointerTree.build(["/"])
            return CaptureSpec(raw, ("/",), Strategy.ROOT, names, options, tree)

        is_name = [p.startswith(NAME_PREFIX) for p in raw]
        names_out = tuple(
            column_names
            if column_names is not None
            else [f"c{i}" for i in range(len(raw))]
        )
        if len(names_out) != len(raw):
            raise ValueError("column_names length must match pointers length")

        if all(is_name):
            members = tuple(p[len(NAME_PREFIX):] for p in raw)
            # DIRECT keeps a tree too, for the parity engine (top-level
            # member dispatch == depth-1 tree).
            tree = PointerTree.build([escape_member_name(m) for m in members])
            return CaptureSpec(raw, members, Strategy.DIRECT, names_out, options, tree)

        # Promotion: any real pointer present → every member name is
        # escaped into a pointer (CapturingPointers.java:82-95,151-164).
        promoted = tuple(
            escape_member_name(p[len(NAME_PREFIX):]) if n else p
            for p, n in zip(raw, is_name)
        )
        for p in promoted:
            split_pointer(p)  # validates; raises JsonPointerError on bad input
        tree = PointerTree.build(list(promoted))
        return CaptureSpec(raw, promoted, Strategy.TREE, names_out, options, tree)

    def requires_parity_engine(self) -> bool:
        """True when built-in Spark JSON expressions cannot express the
        configured semantics and the Arrow parity engine is required.

        Covers both option-driven semantics (literals, number
        fallbacks, NaN/Infinity) and *shape*-driven limits: a pointer
        set that mixes array-index and member-name segments at one
        tree level (e.g. ``/a/1/b`` + ``/a/c``) has no single pruned
        ``from_json`` schema — ``a`` would need to be an array and a
        struct at once. The reference's strategy selection is fully
        automatic (CapturingPointers.java:145-165); exposing this here
        lets ``capture_typed`` route such specs to the parity engine
        instead of raising (round-1 behavior)."""
        return (
            self.options.with_literals
            or self.options.fallback_enabled
            or not self.options.allow_non_numeric_numbers
            or self.has_mixed_index_name_levels()
        )

    def has_mixed_index_name_levels(self) -> bool:
        """True when any pointer-tree node has both decimal-index and
        member-name children — unexpressible as one pruned schema."""

        def walk(node) -> bool:
            keys = list(node.children)
            digits = sum(1 for k in keys if k.isdigit())
            if 0 < digits < len(keys):
                return True
            return any(walk(c) for c in node.children.values())

        return walk(self._tree.root)

    def pruned_field_paths(self) -> list[list[str]]:
        """Leaf paths (segment token lists) for pruned-schema derivation."""
        paths: list[list[str]] = [None] * len(self.pointers)

        def walk(node, prefix: list[str]) -> None:
            for i in node.captures:
                paths[i] = list(prefix)
            for tok, child in node.children.items():
                walk(child, prefix + [tok])

        walk(self._tree.root, [])
        return paths
