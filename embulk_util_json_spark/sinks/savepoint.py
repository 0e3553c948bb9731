"""Portable savepoints: export a committed table version as a fully
self-contained table at a NEW root, importable as a fresh sink that
resumes the same change stream exactly-once.

This is the disaster-recovery / migration half of the exactly-once
story (reference parity: embulk-util-json leaves resumability to the
host pipeline — ``JsonParser.java`` parses a stream it can be handed
again; here the ENGINE owns the resume contract). A savepoint differs
from ``create_branch`` (zero-copy, same root, shares data files and
the fate of the source's ``vacuum``) in that it MATERIALIZES the
referenced files under the new root: the export survives the source
table being vacuumed, rewritten, or deleted, and can be shipped to
another cluster/filesystem.

What a savepoint carries, and why each piece is required for resume:

- the referenced data files (hard-linked when the destination is on
  the same filesystem — data files are immutable by construction, so
  links are safe; copied otherwise);
- the manifest content at the exported version, re-committed under
  the new root (same version number — the data paths embed it)
  — including ``batch_ids`` (so redelivery of a
  pre-savepoint micro-batch is skipped: replaying the stream from any
  earlier checkpoint stays exactly-once) and the patch-mode config
  (a patch chain merged row-level would be corrupt);
- the sink LAYOUT (keys, order columns, bucket column, mode,
  num_buckets) under ``"layout"`` — constructor state in the source,
  but a savepoint must be self-describing: ``import_savepoint`` needs
  no knowledge of how the source was configured.

Scale: export is metadata + an O(referenced files) link/copy loop on
the driver — no Spark job, no data decode. At 100 TB the same design
holds with the link loop replaced by a server-side object-store copy
(S3 CopyObject / GCS rewrite) per referenced file; nothing scans rows.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import SparkSession

from .jsonlog import create_json, read_json
from .snapshot import ParquetSnapshotSink

SAVEPOINT_META = "savepoint.json"


def _link_or_copy_tree(src: str, dst: str) -> int:
    """Replicate ``src`` dir under ``dst`` hard-linking every file
    (falls back to copy across filesystems). Returns files placed."""
    n = 0
    for root, _dirs, files in os.walk(src):
        rel = os.path.relpath(root, src)
        out = os.path.join(dst, rel) if rel != "." else dst
        os.makedirs(out, exist_ok=True)
        for f in files:
            s, d = os.path.join(root, f), os.path.join(out, f)
            try:
                os.link(s, d)
            except OSError:
                shutil.copy2(s, d)
            n += 1
    return n


def export_savepoint(
    sink: ParquetSnapshotSink, out_root: str, version: int | None = None
) -> dict:
    """Materialize ``sink``'s state at ``version`` (default: current)
    as a standalone table under ``out_root``. Only the files the
    chosen manifest references are exported — other versions, other
    branches, and orphans stay behind. Returns export metadata."""
    version = version or sink.current_version()
    manifest = sink.manifest_at(version)
    if manifest is None:
        raise ValueError("cannot savepoint an empty table (no commits yet)")
    if os.path.isdir(out_root) and os.listdir(out_root):
        raise ValueError(f"savepoint destination {out_root!r} is not empty")
    os.makedirs(out_root, exist_ok=True)

    n_files = 0
    for rel in sink._all_paths(manifest):
        src = os.path.join(sink.root, rel)
        n_files += _link_or_copy_tree(src, os.path.join(out_root, rel))

    meta = {
        "source_root": sink.root,
        "source_branch": sink.branch,
        "source_version": version,
        "layout": {
            "keys": list(sink.keys),
            "order_cols": list(sink.order_cols),
            "bucket_by": sink.bucket_by,
            "mode": sink.mode,
            "compact_every": sink.compact_every,
            "num_buckets": int(manifest.get("num_buckets", sink.num_buckets)),
        },
        "n_files": n_files,
    }
    create_json(os.path.join(out_root, SAVEPOINT_META), meta)

    out = ParquetSnapshotSink(
        sink.spark,
        out_root,
        num_buckets=meta["layout"]["num_buckets"],
        keys=sink.keys,
        order_cols=sink.order_cols,
        bucket_by=sink.bucket_by,
        mode=sink.mode,
        compact_every=sink.compact_every,
    )
    # The manifest keeps the SOURCE's version number: data paths embed
    # version numbers (``data/v00000002``), so renumbering to 1 would
    # make the importer's next apply (version 2) overwrite a copied
    # dir. Gappy version chains are already normal (vacuum leaves
    # them), so the import starting at v<N> is well-formed.
    out._commit(
        out._next_manifest(
            manifest,
            None,
            version=version,
            savepoint_of={
                "root": sink.root, "branch": sink.branch, "version": version,
            },
        )
    )
    out._adopt(out.current_manifest())
    return meta


def import_savepoint(spark: SparkSession, root: str) -> ParquetSnapshotSink:
    """Open an exported savepoint as a live sink. Self-describing:
    the layout recorded at export reconstructs the handle — apply the
    remainder of the change stream and the batch-id log carried over
    in the manifest keeps redelivered pre-savepoint batches no-ops."""
    meta = read_json(os.path.join(root, SAVEPOINT_META))
    if meta is None:
        raise ValueError(f"{root!r} is not a savepoint (no {SAVEPOINT_META})")
    layout = meta["layout"]
    return ParquetSnapshotSink(
        spark,
        root,
        num_buckets=layout["num_buckets"],
        keys=layout["keys"],
        order_cols=layout["order_cols"],
        bucket_by=layout["bucket_by"],
        mode=layout["mode"],
        compact_every=layout["compact_every"],
    )
