"""Binlog segment directories for replay tests.

``write_segments(table, dir_path, segments)`` writes a generated
``(seq, event_json)`` table as ``segments`` seq-contiguous parquet files
(``seg-000.parquet`` …): rows sorted by ``seq``, split into equal seq
ranges. That is the layout ``streaming.runner.replay_segments`` batches
by file groups, so a schema cutover at half the seq span falls exactly
between the two files of a 2-segment directory.
"""

from __future__ import annotations

import math
import os

import pyarrow.compute as pc
import pyarrow.parquet as pq


def write_segments(table, dir_path: str, segments: int) -> str:
    table = table.sort_by("seq")
    seq = table.column("seq")
    lo, hi = pc.min(seq).as_py(), pc.max(seq).as_py()
    step = math.ceil((hi - lo + 1) / segments)
    os.makedirs(dir_path, exist_ok=True)
    for i in range(segments):
        start = lo + i * step
        part = table.filter(
            pc.and_(pc.greater_equal(seq, start), pc.less(seq, start + step))
        )
        pq.write_table(part, os.path.join(dir_path, f"seg-{i:03d}.parquet"))
    return dir_path
