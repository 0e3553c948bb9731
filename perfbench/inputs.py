"""Seeded workload inputs, cached per run by (workload, seed, size).

CDC workloads use the engine's own change-event generator
(``sources.generator.ensure_events_segments``): seq-contiguous parquet
segments of JSON envelopes with a hot conversation (20 % of events),
2 % duplicate deliveries, 5 % deletes and schema evolution at 75 %.

The capture workload needs nested documents the engine has no
generator for, so ``write_capture_docs`` builds Debezium-like
envelopes here: a ``source`` struct, an ``after`` image holding a
``turns`` array of exactly two turns (``capture_typed`` indexes arrays
under ANSI mode, where an index past the end fails the query) and a
``meta`` object, with about 10 % of cells holding two concatenated
documents. Strings are
assembled column-wise with Arrow, so generation stays cheap next to
the timed work.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# The 7 pointers of the capture workload: top-level scalars, a nested
# member, members of two array elements (``tool`` is missing in ~25 %
# of documents and JSON null in ~25 %) and a whole object. Every
# document has two turns: ``capture_typed`` indexes arrays under ANSI
# mode, where an index past the end fails the query.
CAPTURE_POINTERS = [
    "/op",
    "/ts_ms",
    "/source/table",
    "/after/conv_id",
    "/after/turns/0/role",
    "/after/turns/1/tool",
    "/after/meta",
]
CAPTURE_COLUMNS = ["op", "ts_ms", "table", "conv_id", "role0", "tool1", "meta"]


def cdc_shape(n_events: int, segments: int) -> dict:
    """Generator arguments for ``n_events`` change events. Keys are
    ``(conv_id, turn_idx)`` over ``n_convs`` x 40 turns, as in the
    repository's replay benchmark."""
    return {
        "n_events": n_events,
        "segments": segments,
        "n_convs": max(200, n_events // 2000),
        "n_turns": 40,
        "evolve_after": 0.75,
    }


class InputCache:
    """Inputs under ``root/<workload>-s<seed>-n<size>[-g<segments>]``.
    The root is a scratch dir of the run, so every run generates its
    inputs (timed as ``gen_s``) and reuses them across its repetitions."""

    def __init__(self, root: str) -> None:
        self.root = root
        self.gen_s = 0.0

    def _dir(self, workload: str, seed: int, size: int) -> str:
        return os.path.join(self.root, f"{workload}-s{seed}-n{size}")

    def cdc_segments(self, workload: str, seed: int, n_events: int, segments: int) -> str:
        from embulk_util_json_spark.sources.generator import ensure_events_segments

        path = self._dir(workload, seed, n_events) + f"-g{segments}"
        t0 = time.perf_counter()
        ensure_events_segments(path, seed=seed, **cdc_shape(n_events, segments))
        self.gen_s += time.perf_counter() - t0
        return path

    def capture_docs(self, workload: str, seed: int, n_docs: int, files: int) -> str:
        path = os.path.join(self._dir(workload, seed, n_docs) + f"-g{files}", "docs")
        if not os.path.exists(path):
            t0 = time.perf_counter()
            write_capture_docs(path, n_docs, seed, files)
            self.gen_s += time.perf_counter() - t0
        return path


def _strs(values) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object), type=pa.string())


def _docs(rng: np.random.Generator, ids: np.ndarray) -> pa.Array:
    """One JSON document per id, as an Arrow string array."""
    n = len(ids)

    def const(s: str) -> pa.Array:
        return pa.array(np.broadcast_to(np.array(s, dtype=object), n), type=pa.string())

    op = np.array(['{"op":"c"', '{"op":"u"', '{"op":"d"'], dtype=object)[
        rng.integers(0, 3, n)
    ]
    ts_ms = (1_700_000_000_000 + ids * 37 + rng.integers(0, 1000, n)).astype(str)
    table = np.array(["turns", "convs"], dtype=object)[rng.integers(0, 2, n)]
    conv = np.char.mod("c%06d", rng.integers(0, 5000, n)).astype(object)
    id_s = ids.astype(str).astype(object)
    role0 = np.array(["user", "system"], dtype=object)[rng.integers(0, 2, n)]
    tool = np.array(["", ',"tool":null', ',"tool":"search"', ',"tool":"python"'], dtype=object)[
        rng.integers(0, 4, n)
    ]
    lang = np.array(['"en"', '"de"', '"fr"', '"ja"', "null"], dtype=object)[
        rng.integers(0, 5, n)
    ]
    score = np.char.mod("%.2f", rng.random(n)).astype(object)
    return pc.binary_join_element_wise(
        _strs(op), const(',"ts_ms":'), _strs(ts_ms),
        const(',"source":{"db":"chat","table":"'), _strs(table), const('","lsn":'), _strs(id_s),
        const('},"after":{"conv_id":"'), _strs(conv),
        const('","turns":[{"role":"'), _strs(role0), const('","text":"question '), _strs(id_s),
        const('"},{"role":"assistant","text":"answer '), _strs(id_s), const('"'), _strs(tool),
        const('}],"meta":{"lang":'), _strs(lang), const(',"score":'), _strs(score), const("}}}"),
        "",
    )


def write_capture_docs(path: str, n_docs: int, seed: int, files: int) -> None:
    """``n_docs`` cells ``(doc_id, doc)`` in a directory of ``files``
    equal parquet files; ~10 % hold a second, concatenated document, so
    the parity engine emits more rows than there are cells."""
    rng = np.random.default_rng(seed)
    ids = np.arange(n_docs, dtype=np.int64)
    first = _docs(rng, ids)
    extra = _docs(rng, ids + n_docs)
    doubled = pa.array(rng.random(n_docs) < 0.10)
    doc = pc.if_else(doubled, pc.binary_join_element_wise(first, extra, ""), first)
    table = pa.table({"doc_id": ids, "doc": doc})
    tmp = path + ".tmp"
    os.makedirs(tmp)
    # Spark scans a file of a few MB as one task whatever its row
    # groups: one file per core gives every core an equal share.
    per = -(-n_docs // files)
    for i in range(files):
        pq.write_table(table.slice(i * per, per), os.path.join(tmp, f"part-{i:03d}.parquet"))
    os.rename(tmp, path)
