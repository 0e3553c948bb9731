"""Portable savepoints: export a committed table version as a fully
self-contained table at a NEW root, importable as a fresh sink that
resumes the same change stream exactly-once.

This is the disaster-recovery / migration half of the exactly-once
story (reference parity: embulk-util-json leaves resumability to the
host pipeline — ``JsonParser.java`` parses a stream it can be handed
again; here the ENGINE owns the resume contract). A savepoint is a
deep ``clone_to`` (``ParquetSnapshotSink._copy``, the one table copy
that branches and clones also go through) that keeps the source's
version number and adds a layout sidecar: unlike ``create_branch``
(zero-copy, same root, shares data files and the fate of the source's
``vacuum``) it MATERIALIZES the referenced files under the new root,
so the export survives the source table being vacuumed, rewritten, or
deleted, and can be shipped to another cluster/filesystem.

What a savepoint carries, and why each piece is required for resume:

- the referenced data files (hard-linked when the destination is on
  the same filesystem — data files are immutable by construction, so
  links are safe; copied otherwise);
- the manifest content at the exported version, re-committed under
  the new root at the SAME version number (see ``export_savepoint``)
  — including ``batch_ids`` (so redelivery of a
  pre-savepoint micro-batch is skipped: replaying the stream from any
  earlier checkpoint stays exactly-once) and the patch-mode config
  (a patch chain merged row-level would be corrupt);
- the sink LAYOUT (keys, order columns, bucket column, mode,
  num_buckets) under ``"layout"`` — constructor state in the source,
  but a savepoint must be self-describing: ``import_savepoint`` needs
  no knowledge of how the source was configured. ``savepoint.json``
  is written only after the manifest commits, so it is the
  savepoint's commit point: an export that died earlier leaves a
  destination ``import_savepoint`` refuses.

Scale: export is metadata + an O(referenced files) link/copy loop on
the driver — no Spark job, no data decode. At 100 TB the same design
holds with the link loop replaced by a server-side object-store copy
(S3 CopyObject / GCS rewrite) per referenced file; nothing scans rows.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from .jsonlog import create_json, read_json
from .snapshot import ParquetSnapshotSink

SAVEPOINT_META = "savepoint.json"


def export_savepoint(
    sink: ParquetSnapshotSink, out_root: str, version: int | None = None
) -> dict:
    """Materialize ``sink``'s state at ``version`` (default: current)
    as a standalone table under ``out_root``. Only the files the
    chosen manifest references are exported — other versions, other
    branches, and orphans stay behind. Returns export metadata.

    The copy keeps the SOURCE's version number rather than starting at
    1 like a clone: version numbers are the coordinates of everything
    downstream of the table — a mirror's sync mark, a feed cursor, a
    ``read_changes`` window — so a restored savepoint at vN lets each
    of them resume exactly from N. Gappy version chains are already
    normal (vacuum leaves them), so the import starting at v<N> is
    well-formed."""
    version = version or sink.current_version()
    manifest = sink.manifest_at(version)
    if manifest is None:
        raise ValueError("cannot savepoint an empty table (no commits yet)")
    if os.path.isdir(out_root) and os.listdir(out_root):
        raise ValueError(f"savepoint destination {out_root!r} is not empty")
    layout = sink._layout(manifest)
    sink._copy(
        manifest,
        ParquetSnapshotSink(sink.spark, out_root, **layout),
        deep=True,
        version=version,
        savepoint_of={"root": sink.root, "branch": sink.branch, "version": version},
    )
    meta = {
        "source_root": sink.root,
        "source_branch": sink.branch,
        "source_version": version,
        "layout": layout,
        "n_files": sum(
            len(files) for _d, _s, files in os.walk(os.path.join(out_root, "data"))
        ),
    }
    create_json(os.path.join(out_root, SAVEPOINT_META), meta)
    return meta


def import_savepoint(spark: SparkSession, root: str) -> ParquetSnapshotSink:
    """Open an exported savepoint as a live sink. Self-describing:
    the layout recorded at export reconstructs the handle — apply the
    remainder of the change stream and the batch-id log carried over
    in the manifest keeps redelivered pre-savepoint batches no-ops."""
    meta = read_json(os.path.join(root, SAVEPOINT_META))
    if meta is None:
        raise ValueError(f"{root!r} is not a savepoint (no {SAVEPOINT_META})")
    return ParquetSnapshotSink(spark, root, **meta["layout"])
