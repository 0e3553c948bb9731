"""Exactly-once wire-segment publisher — the terminal CDC-OUT piece.

``FeedCursor`` gives a consumer its durable position; the wire
exporters (``to_native_json`` → ``to_debezium_json`` / maxwell /
canal) give it standard envelopes. This module composes them into the
thing an external system actually ingests: a DIRECTORY OF SEGMENTS,
one per drained window, named by the version window —

    <out_dir>/segment-<from>-<to>/part-*.txt   (JSONL envelopes)
    <out_dir>/_published.json                  (segment manifest)

Exactly-once without a coordinator, by ordering writes so every crash
point re-converges:

1. the window's envelopes are written to a ``_tmp-…`` dir (Spark text
   write — distributed, NO driver collect; a stale tmp from a crash is
   removed first);
2. the tmp dir is atomically renamed to its final ``segment-…`` name;
3. the manifest is rewritten with ``jsonlog.replace_json`` (tmp,
   fsync, ``os.replace`` — readers see the old list or the new one);
4. the cursor commits.

A crash before (2) leaves garbage that step (1) clears; between (2)
and (4) the next publish re-polls the SAME window (cursor unmoved),
recomputes the SAME content — ``read_changes(from, to)`` against a
PINNED ``to`` version is deterministic because manifests and data
files are immutable — and overwrite-publishes the same segment name.
Consumers treat a segment as an unordered set; the envelope ``seq``
carries event order (the Kafka-partition contract).

Scale: each publish is O(window changes) — the feed read is
incremental over the manifest log, the text write is distributed, and
nothing passes through the driver but the segment name.
"""

from __future__ import annotations

import os
import shutil

from .feed import FeedCursor
from .jsonlog import read_json, replace_json
from .snapshot import ParquetSnapshotSink


def _wire_writer(wire: str):
    if wire == "debezium":
        from ..sources.debezium import to_debezium_json

        return to_debezium_json
    if wire == "maxwell":
        from ..sources.debezium import to_maxwell_json

        return to_maxwell_json
    if wire == "canal":
        from ..sources.canal import to_canal_json

        return to_canal_json
    if wire == "native":
        return lambda df: df
    raise ValueError(f"unknown wire format {wire!r}")


def publish_changes(
    sink: ParquetSnapshotSink,
    cursor_name: str,
    out_dir: str,
    wire: str = "debezium",
) -> dict | None:
    """Drain the named cursor's next window into one wire segment.
    Returns ``None`` when caught up, else
    ``{"segment", "from_version", "to_version"}``. Call in a loop (or
    per micro-batch) to keep the published feed current."""
    from pyspark.sql import functions as F

    from ..sources.events import EXTRAS_COL, to_native_json

    cur = FeedCursor(sink, cursor_name)
    got = cur.poll()
    if got is None:
        return None
    changes, window = got
    lo, hi = window["from_version"], window["to_version"]
    name = f"segment-{lo:08d}-{hi:08d}"
    os.makedirs(out_dir, exist_ok=True)
    tmp = os.path.join(out_dir, f"_tmp-{lo:08d}-{hi:08d}")
    final = os.path.join(out_dir, name)
    for stale in (tmp, final):
        if os.path.exists(stale):
            shutil.rmtree(stale)  # crash leftovers / overwrite-republish
    # the feed returns evolved fields as columns; folded back into
    # _extras they reach the envelope's data, so a consumer's parse
    # evolves the same way the source did
    evolved = [
        c for c in sink.current_manifest().get("extra_fields", [])
        if c in changes.columns
    ]
    if evolved:
        changes = changes.withColumn(EXTRAS_COL, F.create_map(
            *[x for c in evolved for x in (F.lit(c), F.col(c))]
        ))
    wire_df = _wire_writer(wire)(to_native_json(changes))
    wire_df.select("event_json").write.mode("overwrite").text(tmp)
    os.replace(tmp, final)

    manifest_path = os.path.join(out_dir, "_published.json")
    manifest = read_json(manifest_path, {"segments": [], "wire": wire})
    if name not in [s["name"] for s in manifest["segments"]]:
        manifest["segments"].append(
            {"name": name, "from_version": lo, "to_version": hi}
        )
        manifest["segments"].sort(key=lambda s: s["to_version"])
    replace_json(manifest_path, manifest)
    cur.commit(window)
    return {"segment": name, "from_version": lo, "to_version": hi}


def published_segments(out_dir: str) -> list[dict]:
    """The publish manifest's segment list (empty when nothing
    published yet)."""
    return read_json(os.path.join(out_dir, "_published.json"), {"segments": []})[
        "segments"
    ]


def compact_published(spark, out_dir: str, keep_last: int = 1) -> dict | None:
    """Log-compact the published topic (the Kafka-compaction
    analogue): fold every segment EXCEPT the newest ``keep_last`` into
    ONE net segment — LWW per key over ``(ts, segment to_version)``,
    delete winners re-emitted as tombstone envelopes so a from-zero
    consumer still drops those keys. Old segment dirs are removed
    AFTER the manifest replace; a crash at any point re-converges
    (the compacted segment's name and content are pure functions of
    its input windows, and dirs absent from the manifest are swept on
    the next run).

    Consumer contract: folding [compacted ∪ tail] equals folding the
    original segments (LWW is associative), so from-zero consumers and
    consumers positioned at/after the compacted range's end are
    unaffected. A consumer positioned INSIDE the compacted range loses
    per-window granularity — exactly Kafka's compaction trade — so
    size ``keep_last`` to cover active consumer lag (``feed.cursors``
    is the dashboard)."""
    from ..operators.lww import lww_agg
    from ..sources.events import to_native_json

    manifest_path = os.path.join(out_dir, "_published.json")
    manifest = read_json(manifest_path)
    if manifest is None:
        return None
    segs = manifest["segments"]
    if len(segs) - keep_last < 2:
        return None  # nothing worth folding
    head, tail = segs[: len(segs) - keep_last], segs[len(segs) - keep_last:]
    lo = head[0]["from_version"]
    hi = head[-1]["to_version"]
    wire = manifest.get("wire", "debezium")
    net = lww_agg(
        _read_segments(spark, out_dir, head, wire),
        ["conv_id", "turn_idx"], ["ts", "seq"],
    )
    name = f"segment-{lo:08d}-{hi:08d}"
    tmp = os.path.join(out_dir, f"_tmp-{lo:08d}-{hi:08d}")
    final = os.path.join(out_dir, name)
    for stale in (tmp, final):
        if os.path.exists(stale):
            shutil.rmtree(stale)
    _wire_writer(wire)(to_native_json(net)).select("event_json").write.mode(
        "overwrite"
    ).text(tmp)
    os.replace(tmp, final)
    manifest["segments"] = [
        {"name": name, "from_version": lo, "to_version": hi, "compacted": True}
    ] + tail
    replace_json(manifest_path, manifest)
    live = {s["name"] for s in manifest["segments"]}
    removed = 0
    for d in os.listdir(out_dir):
        if d.startswith("segment-") and d not in live:
            shutil.rmtree(os.path.join(out_dir, d))
            removed += 1
    return {"segment": name, "folded": len(head), "removed_dirs": removed}


def read_published(spark, out_dir: str, from_version: int = 0):
    """The consumer side: parsed canonical change rows from every
    published segment past ``from_version``, with ``seq`` = the
    segment's ``to_version``. Deterministic fold contract: each
    segment is net-per-key (read_changes semantics), so same-key rows
    only recur ACROSS segments and LWW over ``(ts, seq)`` resolves
    ties to the later window — folding the result with ``lww_agg``
    (or applying it to another sink with the segment name as batch id)
    reproduces the source state exactly. Pass a consumer's own
    committed ``from_version`` to resume mid-topic — the published
    directory IS a resumable feed."""
    wire = read_json(os.path.join(out_dir, "_published.json"), {}).get(
        "wire", "debezium"
    )
    segs = [
        s for s in published_segments(out_dir)
        if s["to_version"] > from_version
    ]
    if not segs:
        return None
    return _read_segments(spark, out_dir, segs, wire)


def _read_segments(spark, out_dir: str, segs: list[dict], wire: str):
    """Canonical change rows of ``segs`` through the ``wire`` parser,
    with ``seq`` = each segment's ``to_version``."""
    from pyspark.sql import functions as F

    from ..ingest import build_parse_fn

    raw = None
    for s in segs:
        part = spark.read.text(os.path.join(out_dir, s["name"])).select(
            F.lit(int(s["to_version"])).cast("long").alias("seq"),
            F.col("value").alias("event_json"),
        )
        raw = part if raw is None else raw.unionByName(part)
    return build_parse_fn(wire)(raw)
