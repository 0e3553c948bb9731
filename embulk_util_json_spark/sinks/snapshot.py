"""ParquetSnapshotSink — an exactly-once, bucketed lake upsert sink.

The sandbox has no Iceberg runtime jar, so this sink implements the
same contract with plain parquet + an atomic JSON manifest log (the
design Iceberg itself uses: immutable data files + a committed
metadata pointer). ``sinks.iceberg.IcebergSink`` is the drop-in
MERGE INTO implementation selected when the jar is present.

Scale design (the part that must survive 1000 executors / 100 TB):

- State is hash-bucketed by ``conv_id`` into ``num_buckets`` buckets
  (``pmod(xxhash64(conv_id), B)``; xxhash64 is bit-stable across Spark
  versions and runs, and the bucket of a row is *recomputable from the
  key* — buckets never need to be stored or inferred). An apply only
  reads and rewrites buckets containing changed keys — merge-on-write
  over the affected partition subset, like Iceberg's
  storage-partitioned MERGE. A micro-batch touching 1% of
  conversations rewrites ~1% of the table.
- The per-batch merge is ``lww_agg`` (hash aggregation with map-side
  partial combine) over union(old buckets, changes) — one shuffle,
  keyed by (conv_id, turn_idx), skew pre-reduced map-side.
- Deletes are retained as tombstone rows (op='delete'); ``read()``
  filters them. This makes apply a pure LWW monoid — idempotent and
  order-insensitive across replays — instead of a non-monotone
  delete-then-maybe-resurrect. ``compact()`` drops tombstones once
  no replay can deliver older events.
- Exactly-once: every applied batch_id is recorded in the manifest;
  re-applying a committed batch is a no-op (streaming foreachBatch +
  checkpoint replay lands here, SURVEY.md §7.3 #2). Commits are
  atomic manifest links (``sinks.jsonlog``); a crash mid-apply leaves
  orphan data files but never a torn table.
- Schema evolution: additive via unionByName(allowMissingColumns) +
  mergeSchema on read; old rows read NULL for new columns
  (FIXTURES.md T7).
- Lineage/metrics: per-apply JSON in the manifest — change rows
  (via Observation, measured during the merge job itself, no extra
  pass over the input), affected buckets, rows per bucket (parquet
  footer counts), wall seconds.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F, types as T

from ..operators.lww import (
    PATCH_ORD_PREFIX,
    _col,
    align_stamps,
    lww_agg,
    patch_stamp,
    stamp_batch,
)
from ..sources.events import EXTRAS_COL, KEY_COLS, ORDER_COLS
from .jsonlog import (
    ConcurrentCommitError,
    NumberedLog,
    create_json,
    read_json_dir,
)

BUCKET_COL = "_bucket"
BAND_COL = "_band"  # time-band subdir written by banded compaction
META_COLS = ["op", "seq"]  # ts doubles as payload and order column
LINEAGE_COL = "_ingest_batch"  # row lineage: writer batch id (track_lineage)
BLOOM_SEED = 0x9747B28C  # 2nd xxhash64 stream for double-hash blooms
# per-version provenance: how ONE version came to be, never inherited
# by the version derived from it (``_next_manifest``)
_MARKERS = ("branched_from", "rolled_back", "cloned_from", "savepoint_of")
# the kinds of record a version appends to ``applies``, each named by
# its flag key; a batch record (``batch_id``, no flag) is an "apply"
_KINDS = (
    "compact", "compact_minor", "rebucket", "restore", "rewrite", "purge",
    "evolve_patch_cols", "analyze_blooms", "merge_into", "rollback",
    "rename_column", "add_column", "drop_column", "add_constraint",
    "drop_constraint",
)
_MAX_APPLIES = 1000  # records kept in a manifest's ``applies`` log
# per-path maps, keyed by chain path; ``_commit`` merges and prunes them
_PATH_MAPS = ("file_stats", "key_stats", "col_stats", "blooms")
# seconds a never-committed data dir must sit untouched before
# ``vacuum`` (and, by default, ``remove_orphans``) reclaims it: a
# younger one may be a live writer's staged level
ORPHAN_GRACE_SECONDS = 300.0


def _record_kind(record: dict) -> str:
    """The kind an ``applies`` record names: its one ``_KINDS`` flag,
    or ``"apply"`` for a batch record."""
    kinds = [k for k in _KINDS if record.get(k)]
    if len(kinds) > 1 or (not kinds and "batch_id" not in record):
        raise ValueError(f"applies record names no single kind: {record}")
    return kinds[0] if kinds else "apply"


_INT_RANK = {"tinyint": 0, "smallint": 1, "int": 2, "bigint": 3}


def _widened_type(a, b):
    """The wider of two primitive Spark types when ``(a, b)`` is a
    LOSSLESS widening pair the parquet vectorized reader can apply at
    scan time (Spark 4's type-widening promotions: narrow files are
    read directly under the wide schema, no rewrite) — the sink's
    TYPE-WIDENING schema evolution. ``None`` for anything else:
    long↔double is NOT lossless (a bigint above 2^53 has no exact
    double), and non-numeric conflicts are foreign data, so both stay
    conflicts and fall back to the fail-open distributed merge.

    Reference anchor: the reference's number semantics already promote
    within a document (int literals that overflow long fall back per
    FALLBACK knobs, JsonParserDelegate.java option surface); this
    lifts the same promotion across STORED history — an upstream
    ALTER COLUMN int→bigint keeps old files readable in place."""
    if a == b:
        return a
    an, bn = a.simpleString(), b.simpleString()
    ints, fracs = _INT_RANK, ("float", "double")
    if an in ints and bn in ints:
        return a if ints[an] >= ints[bn] else b
    if {an, bn} == {"float", "double"}:
        return T.DoubleType()
    # int32-or-narrower × fractional → double (exact: double's 53-bit
    # mantissa holds every int32 and every float)
    small = {k for k, r in ints.items() if r <= 2}
    if (an in small and bn in fracs) or (bn in small and an in fracs):
        return T.DoubleType()
    return None

EMPTY_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("role", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("tool", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ]
)


def _obs_metrics(obs) -> dict | None:
    """The Observation's metrics row as a dict, or ``None`` when the
    row never resolved usably. A plan whose source scan has zero
    partitions (e.g. a change-feed window holding only config commits,
    so zero data files) runs its write job with ZERO tasks — the
    CollectMetrics node never executes and the JVM future resolves to
    an empty, schema-less row that ``Observation.get`` cannot convert
    (``toPyRow`` assertion). Probe non-blockingly and never raise;
    callers fall back to empty-batch semantics (the only way a
    completed sink action leaves the row unresolved)."""
    try:
        # Option[Row]: None ⟹ the metric never resolved — obs.get
        # would BLOCK forever, so probe first. A resolved-but-
        # schema-less row makes obs.get raise (py4j toPyRow assert);
        # the except treats it as unresolved too.
        if obs._jo.getRowOrEmpty().isEmpty():
            return None
        return dict(obs.get)
    except Exception:
        return None


class ParquetSnapshotSink:
    def __init__(
        self,
        spark: SparkSession,
        root: str,
        num_buckets: int = 32,
        keys: list[str] | None = None,
        order_cols: list[str] | None = None,
        bucket_by: str | None = None,
        mode: str = "mow",
        compact_every: int = 16,
        patch_cols: list[str] | None = None,
        unchanged_marker: str | None = None,
        branch: str = "main",
        stats_cols: list[str] | None = None,
        track_lineage: bool = False,
    ) -> None:
        """``patch_cols`` switches the sink to PATCH MODE: change
        events are partial updates that do not restate every column
        (Debezium's unavailable-value placeholder for Postgres TOAST
        columns; sparse wide-row patches). The merge is then COLUMN-
        level LWW (``operators.lww.lww_patch`` semantics — presence =
        not ``unchanged_marker`` if given, else non-NULL; tombstone
        rows carry no column payload; carry-forward looks through
        tombstones; the row-level winner's ``op`` decides survival).

        What makes this storable and incremental: rows are stamped at
        apply with per-column order structs (``_po_<col>``, see
        ``stamp_batch``), and every reduction — batch pre-reduce, MOW
        merge, MOR chain-merge at read, compaction — is the same
        closed operator, ``lww_agg`` with the patch columns. A reduced
        row re-enters a later merge at exactly the positions its column
        values were written, so out-of-order batches and replay stay exact: N
        incremental applies ≡ one reduction over the raw history
        (pinned bit-exact against ``lww_patch`` full-history replay in
        tests). Patch config is recorded in the manifest on first
        commit and re-adopted by later writers/readers — a reader
        merging a patch-mode chain with row-level LWW would be wrong.

        ``mode``:

        - ``"mow"`` (merge-on-write, Iceberg copy-on-write MERGE):
          each apply rewrites the affected buckets fully merged. Reads
          are cheapest; writes amplify by table/batch size ratio.
        - ``"mor"`` (merge-on-read, Iceberg v2 / Hudi MOR / Paimon
          LSM): each apply appends one LWW-pre-reduced delta per
          bucket — write cost proportional to the BATCH, not the
          table. ``read()`` merges the delta chain (LWW is
          associative, so chain-merge ≡ sequential apply);
          ``compact()`` collapses the chain; ``apply`` auto-compacts a
          bucket chain deeper than ``compact_every``. This is the
          high-throughput CDC path — at 10^10 events/day a MOW
          rewrite per micro-batch is quadratic, MOR is linear.
        """
        assert mode in ("mow", "mor")
        self.spark = spark
        self.root = root
        self.keys = keys or KEY_COLS
        self.order_cols = order_cols or ORDER_COLS
        self.bucket_by = bucket_by or self.keys[0]
        self.mode = mode
        self.compact_every = compact_every
        # Branches (Iceberg branch semantics, in-table): each branch
        # owns its manifest chain under ``_manifests@<name>`` (main
        # keeps the historical ``_manifests`` dir) and writes its new
        # data under ``data/<name>~vN``; data files committed before
        # the fork are SHARED zero-copy — immutable, never mutated,
        # only superseded per-branch. ``vacuum`` protects every
        # branch's references (see _foreign_branch_refs).
        if branch != "main" and not re.fullmatch(r"[A-Za-z0-9._-]+", branch):
            raise ValueError(f"invalid branch name {branch!r}")
        self.branch = branch
        self._log = NumberedLog(
            os.path.join(
                root, "_manifests" if branch == "main" else f"_manifests@{branch}"
            ),
            "v",
            "version {n} was committed by another writer; re-read the "
            "manifest and retry",
        )
        # rel data path -> Spark StructType (immutable paths, see
        # _path_schema)
        self._path_schema_cache: dict[str, object] = {}
        current = self.current_manifest()
        self.num_buckets = current["num_buckets"] if current else num_buckets
        # Patch config is table state, not caller state: once the
        # first manifest commits it, later writers/readers adopt it
        # (merging a patch chain row-level would corrupt the table).
        # Declared payload stats columns: per-path [min,max] footer
        # bounds are folded into the manifest at every commit (the
        # Iceberg lower/upper_bounds shape) and serve read(where=...)
        # chain skipping. A layout knob like patch config — recorded
        # on first commit, re-adopted by later handles.
        self.stats_cols: list[str] = list(stats_cols or [])
        # Row lineage (the Delta row-tracking shape, explicit): stamp
        # every change row with its writer batch id at apply; the LWW
        # winner then carries exact "which batch last wrote this row"
        # provenance as an ordinary payload column — it survives
        # compaction, time travel, branches, and change feeds for
        # free (compaction rewrites rows, it does not re-WIN them).
        # Batch id, not version, deliberately: the id is known before
        # the OCC commit race resolves, so retries stamp identically;
        # lineage() maps batch -> version/metrics. Table state like
        # patch config: recorded on first commit, re-adopted.
        self.track_lineage = bool(track_lineage)
        # ALTER TABLE config (metadata-only; _adopt refreshes): columns
        # logically dropped (physical names — hidden on read, shed on
        # rewrite) and existence defaults {physical: {"t","v"}} — files
        # written before an ADD COLUMN ... DEFAULT lack the column and
        # read as the default; files written after keep stored values.
        self.dropped_cols: set[str] = set()
        self.column_defaults: dict[str, dict] = {}
        if current is not None:
            self.dropped_cols = set(current.get("dropped_columns", []))
            self.column_defaults = dict(current.get("column_defaults", {}))
        if current is not None and "patch_cols" in current:
            self._adopt(current)
        else:
            self.patch_cols = list(patch_cols) if patch_cols else None
            self.unchanged_marker = unchanged_marker
            self.patch_types: dict[str, str] = {}
        if self.track_lineage and self.patch_cols:
            raise ValueError(
                "track_lineage is row-level provenance; patch mode "
                "resolves columns independently (per-column lineage "
                "is the _po_<col> stamps, already stored)"
            )

    def _adopt(self, manifest: dict) -> None:
        """Refresh patch config from a freshly-read manifest. Patch
        config is table state that can CHANGE between applies
        (``evolve_patch_cols``), so every entry point that reads the
        current manifest re-adopts it — a sink handle constructed
        before an evolution must not keep merging under the old
        column set. ``num_buckets`` is the same class of table state
        (``rebucket`` changes it): a handle constructed before another
        handle's rebucket must not keep hashing with — or re-commit —
        the stale bucket count, or key-pruned reads open the wrong
        chain and silently miss rows."""
        if "num_buckets" in manifest:
            self.num_buckets = int(manifest["num_buckets"])
        if manifest.get("stats_cols"):
            self.stats_cols = list(manifest["stats_cols"])
        self.dropped_cols = set(manifest.get("dropped_columns", []))
        self.column_defaults = dict(manifest.get("column_defaults", {}))
        if manifest.get("track_lineage"):
            self.track_lineage = True
        if "patch_cols" not in manifest:
            return
        self.patch_cols = list(manifest["patch_cols"]) or None
        self.unchanged_marker = manifest.get("unchanged_marker")
        self.patch_types = dict(manifest.get("patch_types", {}))

    # ---- column mapping (rename without rewrite) -----------------------

    @staticmethod
    def _column_mapping(manifest: dict | None) -> dict:
        """{logical name: physical name} for every renamed column.
        Physical names are FROZEN at a column's first write (the
        Delta column-mapping / Iceberg field-id idea in name form):
        data files always store physical names, so a rename is a
        metadata-only commit, files written before and after it agree
        byte-for-byte, and change feeds spanning the rename stay
        consistent. Only columns whose logical ≠ physical appear."""
        return (manifest or {}).get("column_mapping") or {}

    @staticmethod
    def _to_physical_frame(df: DataFrame, mapping: dict) -> DataFrame:
        """Logical → physical names at the WRITE boundary (apply)."""
        for log, phys in mapping.items():
            if log in df.columns:
                df = df.withColumnRenamed(log, phys)
            stamp = PATCH_ORD_PREFIX + log
            if stamp in df.columns:
                df = df.withColumnRenamed(stamp, PATCH_ORD_PREFIX + phys)
        return df

    @staticmethod
    def _to_logical_frame(df: DataFrame, mapping: dict) -> DataFrame:
        """Physical → logical names at the READ boundary (read /
        read_changes). Patch order stamps ride along so a patch-shaped
        feed keeps its (value, stamp) pairs named consistently."""
        for log, phys in mapping.items():
            if phys in df.columns:
                df = df.withColumnRenamed(phys, log)
            stamp = PATCH_ORD_PREFIX + phys
            if stamp in df.columns:
                df = df.withColumnRenamed(stamp, PATCH_ORD_PREFIX + log)
        return df

    def _empty_state_frame(self) -> DataFrame:
        """Typed empty frame for reads of a table with NO data files
        (prune misses on a non-empty table use a stored footer
        instead — exact). The default transcript configuration keeps
        the historical ``EMPTY_SCHEMA`` sentinel; a re-keyed sink
        derives the frame from its CONFIGURED keys/order columns
        (name-heuristic types) rather than crashing downstream selects
        with a hardcoded transcript schema."""
        if self.keys == KEY_COLS and self.order_cols == ORDER_COLS:
            return self.spark.createDataFrame([], EMPTY_SCHEMA)

        def _typ(name: str, is_order: bool) -> T.DataType:
            if is_order:
                return (
                    T.TimestampType()
                    if name == "ts" or name.endswith(("_ts", "_time"))
                    else T.LongType()
                )
            return T.IntegerType() if "idx" in name else T.StringType()

        fields = [T.StructField(k, _typ(k, False)) for k in self.keys]
        fields += [
            T.StructField(o, _typ(o, True))
            for o in self.order_cols
            if o not in self.keys and o not in META_COLS
        ]
        return self.spark.createDataFrame([], T.StructType(fields))

    def _typed_empty_from_footer(self, manifest: dict) -> DataFrame:
        """Zero-row frame carrying the table's REAL stored schema (one
        stored footer, no data read) — the empty-result building block
        for prune misses and metadata-only change windows on a
        non-empty table. Callers run it through the same
        projection/patch-align post-processing as a non-empty read, so
        the output schema is exactly what a hit would have produced.
        Merged across ALL chain footers (cached, driver-side, no file
        listing) so a type-widened table's prune miss carries the WIDE
        type exactly like a hit; only the foreign-conflict fallback
        opens a single footer."""
        paths = self._all_paths(manifest)
        merged = self._merged_footer_schema(paths)
        if merged is None:
            # fallback covers drop/default shaping itself
            return self._read_bucket_paths(
                paths[:1], conf_manifest=manifest
            ).limit(0)
        df = self.spark.createDataFrame([], merged)
        # same ALTER TABLE shaping as a non-empty read: defaulted
        # columns present (typed), dropped columns hidden
        for c, d in manifest.get("column_defaults", {}).items():
            if c not in df.columns:
                df = df.withColumn(c, F.lit(d["v"]).cast(d["t"]))
        dropped = manifest.get("dropped_columns")
        return df.drop(*dropped) if dropped else df

    # ---- manifest log -------------------------------------------------

    def _data_rel(self, version: int) -> str:
        """Root-relative data directory for a new commit attempt.
        Branch writes are namespaced (``data/<branch>~vN-…``) so two
        branches committing the same version number never collide;
        pre-fork dirs stay shared by reference.

        The random suffix makes the directory unique PER ATTEMPT (the
        Iceberg unique-filename discipline): two optimistic writers
        racing the same next version must stage into disjoint
        directories — with a deterministic name, the commit loser's
        ``mode("overwrite")`` write would clobber the winner's
        already-committed files before the loser even reaches the
        manifest race. The loser's orphaned directory is never
        referenced and is reclaimed by ``remove_orphans`` or ``vacuum``
        once older than the grace window (``_reclaim`` walks actual
        directories against the referenced-path set, not names)."""
        tag = uuid.uuid4().hex[:8]
        if self.branch == "main":
            return f"data/v{version:08d}-{tag}"
        return f"data/{self.branch}~v{version:08d}-{tag}"

    # ---- the table copy (branch, clone, savepoint) ---------------------

    def _layout(self, manifest: dict) -> dict:
        """The constructor layout of a copy of ``manifest``: every
        handle a copy opens — branch, clone, savepoint export and
        import — is built from this one dict (a savepoint records it
        as its ``layout``). Patch config, stats columns and lineage are
        table state the copy's manifest carries and ``_adopt`` reads."""
        return {
            "keys": list(self.keys),
            "order_cols": list(self.order_cols),
            "bucket_by": self.bucket_by,
            "mode": self.mode,
            "compact_every": self.compact_every,
            "num_buckets": int(manifest.get("num_buckets", self.num_buckets)),
        }

    def _copy(
        self,
        src: dict,
        dest: "ParquetSnapshotSink",
        *,
        deep: bool = False,
        version: int = 1,
        **marker,
    ) -> "ParquetSnapshotSink":
        """THE copy of one committed manifest ``src`` to the empty
        handle ``dest`` (built from ``_layout(src)``), for every
        branch, clone and savepoint. Each data path maps to: itself in
        the same root (a branch shares its files); its absolute source
        path for a shallow copy (zero bytes move); a root-relative name
        for a deep copy, where an absolute path (a shallow clone's
        foreign reference) re-roots at its own ``data/`` tail — data
        dirs are uuid-suffixed, so names never collide. A deep copy
        places every file of a referenced dir under ``dest``'s root,
        hard-linked (data files are immutable, so a link is safe) or
        copied across filesystems; a file a crashed earlier copy left
        is replaced, so a copy that died before its commit re-runs.
        The chain map and the four per-path maps are re-keyed to the
        new names, and ``_next_manifest(src, None, version=...,
        **marker)`` commits last: a crash before it leaves ``dest``
        with no version."""

        def target(p: str) -> str:
            if dest.root == self.root:
                return p
            if not deep:
                return p if os.path.isabs(p) else os.path.join(self.root, p)
            return "data/" + p.rsplit("/data/", 1)[-1] if os.path.isabs(p) else p

        path_map = {p: target(p) for p in self._all_paths(src)}
        if deep:
            for p, rel in path_map.items():
                top = os.path.join(self.root, p)  # an absolute p wins
                for d, _dirs, files in os.walk(top):
                    out = os.path.normpath(
                        os.path.join(dest.root, rel, os.path.relpath(d, top))
                    )
                    os.makedirs(out, exist_ok=True)
                    for f in files:
                        s, t = os.path.join(d, f), os.path.join(out, f)
                        if os.path.lexists(t):
                            os.unlink(t)
                        try:
                            os.link(s, t)
                        except OSError:
                            shutil.copy2(s, t)
        dest._commit(
            self._next_manifest(
                src,
                None,
                version=version,
                buckets={
                    b: [path_map[p] for p in self._paths_of(src, b)]
                    for b in src["buckets"]
                },
                **{
                    kind: {
                        path_map[p]: v
                        for p, v in src.get(kind, {}).items()
                        if p in path_map
                    }
                    for kind in _PATH_MAPS
                },
                **marker,
            )
        )
        dest._adopt(dest.current_manifest())
        return dest

    # ---- branches (zero-copy snapshot branching) -----------------------

    def create_branch(self, name: str, at_version: int | None = None) -> "ParquetSnapshotSink":
        """Fork a branch at the current (or a given committed) version
        — metadata-only, zero data copied (Iceberg branch / Delta
        shallow-clone semantics, but IN-table: ``vacuum`` sees every
        branch, so shared files can never be reclaimed out from under
        a fork). The branch starts at its own version 1 whose content
        is the source manifest; ``batch_ids`` carry over, so replaying
        the pre-fork stream into the branch stays a no-op. Writes to
        either side after the fork are invisible to the other."""
        src = (
            self.manifest_at(at_version)
            if at_version
            else self.current_manifest()
        )
        if src is None:
            raise ValueError("cannot branch an empty table (no commits yet)")
        child = ParquetSnapshotSink(
            self.spark, self.root, branch=name, **self._layout(src)
        )
        if child.current_version() > 0:
            raise ValueError(f"branch {name!r} already exists")
        return self._copy(
            src,
            child,
            branched_from={"branch": self.branch, "version": src["version"]},
        )

    def branches(self) -> list[str]:
        """Branch names with at least one committed manifest
        (``main`` included when it has commits)."""
        out = []
        for d in sorted(os.listdir(self.root)):
            if d == "_manifests":
                name = "main"
            elif d.startswith("_manifests@"):
                name = d[len("_manifests@"):]
            else:
                continue
            if NumberedLog(os.path.join(self.root, d), "v").latest():
                out.append(name)
        return out

    # ---- tags (named immutable snapshot refs) --------------------------

    def create_tag(self, name: str, at_version: int | None = None) -> dict:
        """Pin a committed version under a NAME (the Iceberg tag
        shape): a tag is an immutable table-level ref — unlike a
        branch it can never advance, and unlike a bare version number
        it survives ``vacuum``/``vacuum(older_than_ts=...)``, which
        treat tagged versions (and their data) as retained. The
        release-audit workflow: tag the snapshot a model was trained
        on, vacuum freely, ``read(at_tag=...)`` reproduces the exact
        training table years of commits later.

        Metadata-only (one tiny JSON; no Spark job). Immutability is
        the ``os.link`` discipline: creating an existing name fails
        atomically rather than repointing it — repoint = delete +
        create, deliberately loud."""
        if not name or "/" in name or name.startswith("."):
            raise ValueError(f"invalid tag name {name!r}")
        v = at_version or self.current_version()
        if v < 1 or self.manifest_at(v) is None:
            raise ValueError(f"cannot tag: version {v} is not committed")
        tdir = os.path.join(self.root, "_tags")
        os.makedirs(tdir, exist_ok=True)
        rec = {
            "name": name,
            "branch": self.branch,
            "version": v,
            "created_at": time.time(),
        }
        try:
            create_json(os.path.join(tdir, f"{name}.json"), rec)
        except FileExistsError:
            raise ValueError(f"tag {name!r} already exists") from None
        return rec

    def tags(self) -> dict[str, dict]:
        """All tags on the table (every branch), name → record."""
        return read_json_dir(os.path.join(self.root, "_tags"))

    def delete_tag(self, name: str) -> None:
        """Drop a tag. The version it pinned stays readable until a
        LATER vacuum unreferences it — deleting a tag never deletes
        data by itself."""
        path = os.path.join(self.root, "_tags", f"{name}.json")
        if not os.path.exists(path):
            raise ValueError(f"no such tag {name!r}")
        os.unlink(path)

    def _resolve_tag(self, name: str) -> int:
        rec = self.tags().get(name)
        if rec is None:
            raise ValueError(f"no such tag {name!r}")
        if rec["branch"] != self.branch:
            raise ValueError(
                f"tag {name!r} pins branch {rec['branch']!r}; read it "
                f"from a handle of that branch (this is {self.branch!r})"
            )
        return int(rec["version"])

    def drop_branch(self, name: str) -> None:
        """Delete a branch's manifest chain. Its exclusively-owned
        data directories become unreferenced: ``remove_orphans``, or a
        ``vacuum`` once they are older than the grace window, reclaims
        them; shared pre-fork files stay (still referenced by the
        surviving branches)."""
        if name == "main":
            raise ValueError("cannot drop the main branch")
        if name == self.branch:
            raise ValueError("cannot drop the branch this handle is on")
        d = os.path.join(self.root, f"_manifests@{name}")
        if not os.path.isdir(d):
            raise ValueError(f"no such branch {name!r}")
        shutil.rmtree(d)

    def publish_from(self, branch_sink: "ParquetSnapshotSink", audit=None) -> dict:
        """Write-audit-publish (the Iceberg WAP workflow branching
        exists for): fold a branch's post-fork NET changes into this
        table. The branch's version 1 IS the fork manifest, so
        ``read_changes(1, current)`` is exactly the post-fork delta —
        O(branch writes), never O(table). ``audit`` (optional) gets
        the change feed BEFORE anything is applied — raise to veto
        (e.g. a ``pipeline.dq`` gate); nothing commits on veto.

        Idempotent and incremental: the batch id encodes the branch
        name + published-through version, so redelivery skips, and a
        LATER publish (after more branch writes) re-folds from the
        fork — already-published winners re-merge to themselves under
        LWW (same stamps), only the new changes take effect."""
        src = branch_sink.manifest_at(1) if branch_sink.current_version() else None
        fork = (src or {}).get("branched_from")
        if not fork or fork.get("branch") != self.branch:
            raise ValueError(
                f"branch {branch_sink.branch!r} was not forked from "
                f"{self.branch!r} (publish target must be the fork parent)"
            )
        to_v = branch_sink.current_version()
        feed = branch_sink.read_changes(1, to_v)
        if audit is not None:
            audit(feed)
        return self.apply(feed, f"publish@{branch_sink.branch}:{to_v}")

    def cherrypick_from(
        self,
        source: "ParquetSnapshotSink",
        version: int,
        batch_id: str | None = None,
    ) -> dict:
        """Apply ONE of ``source``'s commits to this table — the
        Iceberg ``cherrypick_snapshot`` analogue, composed from the
        engine's own primitives: the commit's net change feed
        (``read_changes(version-1, version)`` — O(that commit), never
        O(table)) replayed through ``apply`` as a single batch.

        Conflict semantics are LWW, the table's merge rule: a
        cherry-picked row lands only if it beats this table's current
        winner for its key (the picked rows keep their ORIGINAL
        event-time/seq stamps — cherry-pick transplants the change,
        it does not re-author it). Idempotent: the batch id encodes
        (source branch, version), so a second pick of the same commit
        skips. Patch-mode tables refuse — a patch commit's feed is
        stamped column levels, not replayable change rows."""
        if self._patch_conf(self.current_manifest())[0] or source._patch_conf(
            source.current_manifest()
        )[0]:
            raise ValueError(
                "cherrypick_from supports row-level tables only (a "
                "patch-mode change feed emits stamped column levels)"
            )
        if version < 1 or version > source.current_version():
            raise ValueError(
                f"source has no committed version {version} "
                f"(current: {source.current_version()})"
            )
        feed = source.read_changes(version - 1, version)
        return self.apply(
            feed, batch_id or f"cherrypick@{source.branch}:{version}"
        )

    # ---- cross-root clone (zero-copy shallow / self-contained deep) ----

    def clone_to(
        self,
        dest_root: str,
        deep: bool = False,
        at_version: int | None = None,
        pin_tag: bool = True,
    ) -> "ParquetSnapshotSink":
        """Clone this table to a NEW root (the Delta ``CLONE`` shape;
        ``create_branch`` is the in-table sibling). The clone is a
        fully independent table from version 1: its own manifest log,
        branches, tags, cursors, and vacuum domain; writes to either
        side are invisible to the other; ``batch_ids`` carry over, so
        replaying the pre-clone stream into the clone stays a no-op.

        ``deep=False`` (default — shallow): METADATA-ONLY. The clone's
        manifest references the source's committed data files by
        absolute path; zero bytes copy. Two protections keep that
        sound: (1) data files are immutable — the source only ever
        supersedes them, never rewrites in place; (2) ``pin_tag``
        (default on) tags the cloned version on the SOURCE
        (``clone-…``) before the clone commits, and vacuum pins tagged
        versions, so source maintenance cannot reclaim files the clone
        still reads.
        Dropping that tag transfers the risk Delta documents for
        shallow clones: a source VACUUM may strand the clone. The
        clone's own vacuum/compact never touch foreign files (its
        reclaim walk is root-local), and every clone-side compaction
        rewrites chains into clone-local files — the clone localizes
        itself incrementally as it is maintained.

        ``deep=True``: place every file of every referenced data
        directory under the clone's root (same rel layout), hard-linked
        when both roots share a filesystem — data files are immutable,
        so a link is safe — and copied otherwise; driver-side, no Spark
        job, no decode. Self-contained from birth (deleting the source
        root only drops a link count); no source tag needed. A deep
        clone that crashed before its commit is re-run in place.

        Layout, patch config, ALTER state (renames, defaults, drops,
        constraints), zone maps, and blooms all carry over — stats and
        bloom keys are rewritten to the clone's path names."""
        src = self.manifest_at(
            at_version if at_version is not None else self.current_version()
        )
        if src is None or not src.get("buckets"):
            raise ValueError("cannot clone an empty table (no data commits)")
        dest = ParquetSnapshotSink(self.spark, dest_root, **self._layout(src))
        if dest.current_version() > 0:
            raise ValueError(f"clone destination {dest_root!r} is not empty")
        # pin first: a crash before the commit leaves an empty dest
        if pin_tag and not deep:
            tag = f"clone-{os.path.basename(os.path.normpath(dest_root))}-v{src['version']}"
            if tag not in self.tags():
                self.create_tag(tag, at_version=src["version"])
        self._copy(
            src,
            dest,
            deep=deep,
            cloned_from={
                "root": self.root,
                "branch": self.branch,
                "version": src["version"],
                "deep": deep,
            },
        )
        return dest

    def rollback(self, to_version: int) -> dict:
        """Restore the table to a previously committed version by
        committing a NEW manifest whose content is the target's (the
        Iceberg rollback-to-snapshot operation): history stays linear,
        no data file is touched, time travel still reconstructs the
        bad versions, and the rolled-back versions' exclusively-owned
        files become reclaimable by the next ``vacuum``.

        ``batch_ids`` revert to the target's set — deliberately: the
        rolled-back batches' effects are GONE, so a replayer resuming
        the stream from ``to_version``'s point must have its (possibly
        corrected) redelivery of those batches apply, not skip. This
        is the bad-batch workflow: apply, detect, ``rollback``,
        re-deliver fixed.

        Change-feed interaction: the rollback commit references no new
        files, so a feed window STARTING at or before ``to_version``
        stays exact (the rolled-back detour nets out to nothing). A
        consumer whose cursor lies INSIDE the rolled-back range holds
        retracted rows that no incremental feed can fix —
        ``read_changes`` refuses such windows (re-sync from 0 or from
        ``to_version``)."""
        cur = self.current_version()
        if not 0 < to_version <= cur:
            raise ValueError(f"no committed version {to_version}")
        # derived from the TARGET: its ALTER state, batch ids and log,
        # plus this version's rollback record — a rollback across a
        # rename restores the old names, across a drop restores the
        # column, across an add removes it again
        rolled_back = {"from": cur, "to": to_version}
        new = self._next_manifest(
            self.manifest_at(to_version),
            {"rollback": True, **rolled_back},
            version=cur + 1,
            rolled_back=rolled_back,
        )
        self._commit(new)
        self._adopt(new)
        return {"version": cur + 1, "restored_version": to_version}

    def rename_column(self, old: str, new: str) -> dict:
        """ALTER TABLE RENAME COLUMN as a METADATA-ONLY commit — no
        data file is touched (Delta column-mapping / Iceberg rename
        semantics). The column's PHYSICAL name stays frozen at what
        the first write stored; the manifest's ``column_mapping``
        records {logical: physical}, writes translate logical →
        physical at ``apply`` entry, reads translate back at exit.
        So files written before and after the rename are identical in
        layout, change feeds spanning the rename are consistent, and
        time travel (``read(at_version=...)``) shows each version
        under ITS OWN names. Payload columns only: keys, order
        columns, ``op`` and the bucket key are layout, not labels —
        renaming them would change the merge itself.

        Reference anchor: the reference renames at the capture layer
        (a JSON pointer's output column name is caller-chosen,
        CapturingPointers.java builder); this lifts renaming over
        STORED history without rewrite."""
        m = self.current_manifest()
        if not m or not m.get("buckets"):
            raise ValueError("rename_column requires a non-empty table")
        if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", new):
            raise ValueError(f"invalid column name {new!r}")
        mapping, _dropped, physical, logical, protected = self._alter_ctx(m)
        if old in protected or new in protected:
            raise ValueError(
                f"cannot rename {old!r} -> {new!r}: keys, order columns "
                "and op are merge layout, not labels"
            )
        if old not in logical:
            raise ValueError(f"no such column {old!r}")
        for cn, c in self._constraints(m).items():
            # constraint expressions speak logical names frozen at ADD
            # time — renaming one out from under them would silently
            # disable the check (apply skips unresolvable constraints)
            if old in c.get("cols", []):
                raise ValueError(
                    f"column {old!r} is referenced by constraint {cn!r}; "
                    "drop the constraint first"
                )
        if new in logical or new in physical:
            # a physical collision would make the read-side rename
            # ambiguous (two sources for one output name) — reject
            raise ValueError(f"column {new!r} already exists")
        phys = mapping.get(old, old)
        new_mapping = {l: p for l, p in mapping.items() if l != old}
        if new != phys:
            new_mapping[new] = phys
        version = m["version"] + 1
        self._commit(
            self._next_manifest(
                m,
                {"rename_column": True, "from": old, "to": new},
                column_mapping=new_mapping,
            )
        )
        return {"version": version, "from": old, "to": new, "physical": phys}

    def _alter_ctx(self, m: dict) -> tuple[dict, set, set, set, set]:
        """Shared ALTER TABLE view of a manifest: (mapping, dropped
        physical names, all physical names ever stored, live logical
        names, protected layout names)."""
        mapping = self._column_mapping(m)
        dropped = set(m.get("dropped_columns", []))
        physical = set(m.get("schema_fields", [])) | set(
            m.get("extra_fields", [])
        )
        phys2log = {p: l for l, p in mapping.items()}
        logical = {
            phys2log.get(f, f) for f in physical if f not in dropped
        }
        protected = (
            set(self.keys)
            | set(self.order_cols)
            | set(META_COLS)
            | {self.bucket_by, BUCKET_COL}
        )
        return mapping, dropped, physical, logical, protected

    def add_column(self, name: str, type_ddl: str, default=None) -> dict:
        """ALTER TABLE ADD COLUMN [DEFAULT] as a METADATA-ONLY commit.
        With a default, it is an EXISTENCE default (Iceberg
        initial-default / SQL standard semantics): rows in files
        written before the ADD — which physically lack the column —
        read as ``default``; rows written after keep their stored
        value, including explicit NULL; a later INSERT that omits the
        column gets the default too (absence in the file IS the
        encoding, so no file is rewritten and the default is frozen
        at ADD time). ``default`` must be a JSON scalar; its value
        semantics are ``CAST(default AS type_ddl)``.

        Re-adding a previously dropped name allocates a FRESH physical
        name via the column mapping, so old files' retired values can
        never resurface. Reference anchor: capture-spec promotion adds
        output columns declaratively (CapturingPointers builder); this
        lifts ADD over stored history."""
        m = self.current_manifest()
        if not m or not m.get("buckets"):
            raise ValueError("add_column requires a non-empty table")
        if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", name):
            raise ValueError(f"invalid column name {name!r}")
        mapping, dropped, physical, logical, protected = self._alter_ctx(m)
        # patch columns are renameable labels, but add/drop changes
        # the patch merge itself — refuse those here
        if name in protected or name in (self.patch_cols or []):
            raise ValueError(f"{name!r} is merge layout, not a payload column")
        if name in logical:
            raise ValueError(f"column {name!r} already exists")
        version = m["version"] + 1
        phys = name
        if name in physical or name in dropped:
            # the bare name was stored at some point (dropped, or an
            # old physical behind a rename) — freeze a fresh physical
            phys = f"{name}__v{version}"
        # validate the type (and the default's castability) eagerly
        typed = F.lit(default).cast(type_ddl)
        self.spark.range(1).select(typed.alias(name)).schema
        new_mapping = dict(mapping)
        if phys != name:
            new_mapping[name] = phys
        defaults = dict(m.get("column_defaults", {}))
        if default is not None:
            defaults[phys] = {"t": type_ddl, "v": default}
        self._commit(
            self._next_manifest(
                m,
                {
                    "add_column": True,
                    "column": name,
                    "type": type_ddl,
                    "default": default,
                },
                column_mapping=new_mapping,
                column_defaults=defaults,
                schema_fields=sorted(set(m.get("schema_fields", [])) | {phys}),
            )
        )
        self._adopt(self.current_manifest())
        return {"version": version, "column": name, "physical": phys}

    def drop_column(self, name: str) -> dict:
        """ALTER TABLE DROP COLUMN as a METADATA-ONLY commit — no data
        file is rewritten (Delta column-mapping drop semantics). The
        physical column stays in existing files but is hidden from
        every read, feed and rewrite (compact/purge rewrites shed it
        physically over time), its stats/default/mapping entries are
        retired, and incoming batches still carrying it are refused
        (``apply`` raises — a re-add via ``add_column`` gets a fresh
        physical name, so retired bytes can never resurface). Time
        travel and rollback to a pre-drop version show the column
        again. Payload columns only."""
        m = self.current_manifest()
        if not m or not m.get("buckets"):
            raise ValueError("drop_column requires a non-empty table")
        mapping, dropped, physical, logical, protected = self._alter_ctx(m)
        if name in protected or name in (self.patch_cols or []):
            raise ValueError(f"{name!r} is merge layout, not a payload column")
        if name not in logical:
            raise ValueError(f"no such column {name!r}")
        for cn, c in self._constraints(m).items():
            if name in c.get("cols", []):
                raise ValueError(
                    f"column {name!r} is referenced by constraint {cn!r}; "
                    "drop the constraint first"
                )
        phys = mapping.get(name, name)
        version = m["version"] + 1
        defaults = {
            c: d for c, d in m.get("column_defaults", {}).items() if c != phys
        }
        self._commit(
            self._next_manifest(
                m,
                {"drop_column": True, "column": name, "physical": phys},
                column_mapping={l: p for l, p in mapping.items() if l != name},
                column_defaults=defaults,
                dropped_columns=sorted(dropped | {phys}),
                schema_fields=sorted(set(m.get("schema_fields", [])) - {phys}),
                extra_fields=sorted(set(m.get("extra_fields", [])) - {phys}),
                stats_cols=[c for c in m.get("stats_cols", []) if c != phys],
            )
        )
        self._adopt(self.current_manifest())
        return {"version": version, "column": name, "physical": phys}

    # ---- CHECK constraints (declarative table predicates) --------------

    @staticmethod
    def _constraints(manifest: dict | None) -> dict:
        """{name: {"expr": sql, "cols": [logical cols referenced]}}."""
        return (manifest or {}).get("constraints") or {}

    @staticmethod
    def _expr_cols(frame: DataFrame, expr: str) -> list[str]:
        """Logical columns an expression references, by removal probe:
        drop one column and re-analyze — resolution failing means the
        expression needs it. Analysis-only (no job), O(columns) catalyst
        runs at DDL time."""
        refs = []
        for c in frame.columns:
            try:
                frame.drop(c).select(F.expr(expr)).schema
            except Exception:
                refs.append(c)
        return sorted(refs)

    def add_constraint(self, name: str, expr: str) -> dict:
        """ALTER TABLE ADD CONSTRAINT ... CHECK (expr) — a METADATA-ONLY
        commit (Delta constraint semantics). Existing data must already
        satisfy the predicate: validated here with ONE scan of current
        state. From then on every ``apply`` enforces it pre-staging:
        a violating batch is refused whole — no file written, version
        unchanged, batch id not consumed — so the producer fixes and
        resubmits under the same id with exactly-once intact. SQL CHECK
        null semantics: only FALSE violates (NULL passes); delete
        tombstones are exempt (their payload is not written as state);
        a batch not carrying a referenced column skips the constraint
        (row mode: the merge fills NULL, which passes; patch mode:
        absence means "don't touch"). The expression speaks LOGICAL
        column names; renaming or dropping a referenced column is
        refused until the constraint is dropped.

        Reference anchor: the reference validates at the value layer
        (invalid JSON -> row-skippable JsonParseException,
        JsonParseException.java:24-43); this lifts validation to
        declarative table predicates."""
        m = self.current_manifest()
        if not m or not m.get("buckets"):
            raise ValueError("add_constraint requires a non-empty table")
        if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", name):
            raise ValueError(f"invalid constraint name {name!r}")
        cons = dict(self._constraints(m))
        if name in cons:
            raise ValueError(f"constraint {name!r} already exists")
        # include_meta: constraints may reference order columns (e.g.
        # "seq > 0") — the default read drops them. Tombstones stay
        # excluded (deletes are exempt from CHECK).
        state = self.read(include_meta=True)
        pred = F.expr(expr)
        # analysis validates the expression against the LOGICAL schema
        # (raises on parse errors / unknown columns) and pins its type
        dt = state.select(pred.alias("_chk")).schema[0].dataType
        if not isinstance(dt, T.BooleanType):
            raise ValueError(
                f"constraint expression must be BOOLEAN, got {dt.simpleString()}"
            )
        refs = self._expr_cols(state, expr)
        bad = state.filter(pred.eqNullSafe(F.lit(False))).count()
        if bad:
            raise ValueError(
                f"constraint {name!r} is violated by {bad} existing "
                "row(s); fix the data before adding it"
            )
        cons[name] = {"expr": expr, "cols": refs}
        version = m["version"] + 1
        self._commit(
            self._next_manifest(
                m,
                {"add_constraint": True, "name": name, "expr": expr},
                constraints=cons,
            )
        )
        return {"version": version, "name": name, "expr": expr, "cols": refs}

    def drop_constraint(self, name: str) -> dict:
        """ALTER TABLE DROP CONSTRAINT — metadata-only commit."""
        m = self.current_manifest()
        cons = dict(self._constraints(m))
        if name not in cons:
            raise ValueError(f"no such constraint {name!r}")
        del cons[name]
        version = m["version"] + 1
        self._commit(
            self._next_manifest(
                m, {"drop_constraint": True, "name": name}, constraints=cons
            )
        )
        return {"version": version, "name": name}

    def _enforce_constraints(
        self, changes: DataFrame, cons: dict, batch_id: str
    ) -> None:
        """Pre-staging CHECK enforcement: one aggregated job counts
        violations for EVERY applicable constraint (never a job per
        constraint). Runs on the LOGICAL frame before rename
        translation, default fill and staging."""
        present = set(changes.columns)
        checks = {
            n: c for n, c in cons.items() if set(c.get("cols", [])) <= present
        }
        if not checks:
            return
        scope = (
            changes.filter(_col("op") != F.lit("delete"))
            if "op" in present
            else changes
        )
        row = scope.agg(
            *[
                F.sum(
                    F.expr(c["expr"]).eqNullSafe(F.lit(False)).cast("long")
                ).alias(n)
                for n, c in checks.items()
            ]
        ).collect()[0]
        bad = {n: v for n, v in row.asDict().items() if v}
        if bad:
            raise ValueError(
                f"batch {batch_id!r} refused: CHECK constraint violation — "
                + "; ".join(
                    f"{n} ({checks[n]['expr']}): {v} row(s)"
                    for n, v in bad.items()
                )
                + " — nothing staged, resubmit a fixed batch under the same id"
            )

    def _foreign_branch_refs(self) -> set[str]:
        """Every data path referenced by ANY manifest of any OTHER
        branch — the protected set ``vacuum`` and ``remove_orphans``
        pass to ``_reclaim`` (metadata-only JSON reads; manifests are
        small and per-branch chains short after their own vacuums)."""
        refs: set[str] = set()
        own = os.path.basename(self._log.dir)
        for d in os.listdir(self.root):
            if d == own or not (
                d == "_manifests" or d.startswith("_manifests@")
            ):
                continue
            log = NumberedLog(os.path.join(self.root, d), "v")
            for v in log.numbers():
                m = log.read(v)
                for b in m["buckets"]:
                    refs.update(self._paths_of(m, b))
        return refs

    def current_version(self) -> int:
        return self._log.latest()

    def current_manifest(self) -> dict | None:
        return self.manifest_at(self.current_version())

    def manifest_at(self, version: int) -> dict | None:
        """Committed manifest for a specific version (time travel —
        manifests are immutable; any past version reconstructs its
        exact table state because data files are never mutated, only
        superseded, exactly like Iceberg snapshots). ``None`` for
        version 0; a version never committed, or expired by
        ``vacuum``, raises. Reads go through the log's per-handle
        cache (see ``NumberedLog.read``): the incremental-view refresh
        loop hits the same few versions dozens of times per
        micro-batch."""
        m = self._log.read(version)
        if m is None and version > 0:
            raise ValueError(f"no committed version {version}")
        return m

    def _commit(self, manifest: dict, path_stats: dict | None = None) -> None:
        """Commit one manifest version — built by ``_next_manifest``,
        which carries the predecessor's state forward. This is the ONE
        place that owns, for every commit site:

        - merging ``path_stats`` — the footer zone maps of the paths
          this commit adds, as ``_write_buckets`` returns them
          (``{path: {"ts", "key", "cols"}}``) — into ``file_stats`` /
          ``key_stats`` / ``col_stats``;
        - pruning all four per-path maps to the paths the new version
          references (paths are never reused, so a replaced chain's
          entries would otherwise be dead weight in every later
          manifest; a new path simply has no bloom until the next
          ``analyze_blooms`` — fail-open = exact);
        - the ``committed_at`` wall-clock stamp;
        - ``NumberedLog.publish`` — the atomic optimistic publish
          (``jsonlog.create_json``: tmp, fsync, ``os.link``). A link,
          unlike a rename, FAILS if the version already exists, so two
          writers racing for the same version cannot silently clobber
          each other: the loser gets ConcurrentCommitError and must
          re-read + retry (the Iceberg optimistic-concurrency protocol;
          the engine's runners are single-writer, so a conflict here
          always means a misconfigured second writer)."""
        referenced = {
            p
            for b in manifest.get("buckets", {})
            for p in self._paths_of(manifest, b)
        }
        new = path_stats or {}
        for kind, part in zip(_PATH_MAPS, ("ts", "key", "cols", None)):
            merged = {
                **manifest.get(kind, {}),
                **{p: s[part] for p, s in new.items() if part and s.get(part)},
            }
            manifest[kind] = {p: v for p, v in merged.items() if p in referenced}
        # Set HERE unconditionally so every commit site — including
        # rollback, which copies the target manifest's fields — stamps
        # the time this version was committed, not the one it restores.
        manifest["committed_at"] = time.time()
        self._log.publish(manifest["version"], manifest)

    def version_at_ts(self, ts) -> int:
        """Resolve a wall-clock instant to the table version visible at
        that instant — the ``FOR SYSTEM_TIME AS OF`` / Iceberg
        snapshot-at-timestamp lookup. ``ts``: epoch seconds (int/float),
        ISO string, or datetime. Resolution walks the manifest chain
        once (metadata-only, chains are short after vacuum) taking the
        RUNNING MAX of ``committed_at``: stamps come from the writer's
        wall clock, which can step backwards between commits, but the
        as-of answer must be monotone in version — a version is
        visible at T iff it and everything before it committed by T.
        Pre-stamp manifests (written before this feature) count as
        committed at epoch 0."""
        if isinstance(ts, (int, float)):
            epoch = float(ts)
        else:
            epoch = self._ts_micros(ts) / 1_000_000
        cur = self.current_version()
        if cur == 0:
            raise ValueError("empty table: no committed version")
        best, running = None, 0.0
        for v in range(1, cur + 1):
            try:
                m = self.manifest_at(v)
            except ValueError:
                continue  # vacuumed version — not resolvable, skip
            running = max(running, float(m.get("committed_at") or 0.0))
            if running <= epoch:
                best = v
        if best is None:
            raise ValueError(
                f"no version committed at or before {ts!r} "
                f"(first commit was at {running})"
            )
        return best

    def applied_batch_ids(self) -> list[str]:
        m = self.current_manifest()
        return m["batch_ids"] if m else []

    def schema_history(self) -> DataFrame:
        """When each evolved field first appeared: one row per extra
        field with the version and batch that introduced it — the
        audit trail of additive schema evolution. Metadata-only (walks
        the retained manifest files; vacuumed versions fall back to
        the earliest retained sighting)."""
        rows = []
        seen: set[str] = set()
        current = self.current_version()
        for v in range(1, current + 1):
            try:
                m = self.manifest_at(v)
            except ValueError:
                continue  # vacuumed (or savepoint-gap) version
            if not m:
                continue
            batch = m["batch_ids"][-1] if m["batch_ids"] else None
            for f in m.get("extra_fields", []):
                if f not in seen:
                    seen.add(f)
                    rows.append((f, v, batch))
        return self.spark.createDataFrame(
            rows, "field string, since_version int, introduced_by_batch string"
        )

    def lineage(self) -> DataFrame:
        """Per-partition lineage/metrics as a queryable DataFrame: one
        row per (apply, bucket) with batch identity, rows landed in
        that bucket, and the apply's throughput counters. Driver-side
        manifest JSON → createDataFrame (metadata-sized: ≤1000 applies
        × buckets — no table scan)."""
        m = self.current_manifest()
        rows = []
        for a in (m or {}).get("applies", []):
            per_bucket = a.get("rows_per_bucket") or {}
            for b, n in sorted(per_bucket.items(), key=lambda kv: int(kv[0])):
                rows.append(
                    (
                        a.get("version"),
                        a.get("batch_id"),
                        int(b),
                        int(n),
                        a.get("change_rows"),
                        a.get("malformed_rows"),
                        float(a.get("wall_sec") or 0.0),
                        float(a.get("events_per_sec") or 0.0),
                    )
                )
        return self.spark.createDataFrame(
            rows,
            "version int, batch_id string, bucket int, bucket_rows long, "
            "change_rows long, malformed_rows long, wall_sec double, "
            "events_per_sec double",
        )

    def history(self) -> DataFrame:
        """The Iceberg ``history``/``snapshots`` metadata-table
        analogue: one row per entry in the current manifest's applies
        log, in commit order — every version of the table's own log
        appends exactly one entry, so this lists data batches
        (``apply``: apply, publish, cherry-pick, retention) and every
        other commit under its own ``kind``: ``compact``,
        ``compact_minor``, ``rebucket``, ``restore`` (restore_buckets),
        ``rewrite``, ``purge``, ``evolve_patch_cols``,
        ``analyze_blooms``, ``merge_into``, ``rollback``,
        ``rename_column``, ``add_column``, ``drop_column``,
        ``add_constraint``, ``drop_constraint``. After a rollback the
        log is the restored version's log plus the rollback entry. The
        entry's non-standard fields fold into a JSON ``detail`` column
        (the log's records are heterogeneous by design; forcing one
        wide schema would lose fields silently). Driver-side manifest
        JSON → createDataFrame — metadata-sized, no table scan."""
        m = self.current_manifest()
        rows = []
        std = ("version", "batch_id", "change_rows", "wall_sec")
        for i, a in enumerate((m or {}).get("applies", [])):
            detail = {k: v for k, v in a.items() if k not in std}
            rows.append(
                (
                    i,
                    a.get("version"),
                    _record_kind(a),
                    a.get("batch_id"),
                    a.get("change_rows"),
                    float(a.get("wall_sec") or 0.0),
                    json.dumps(detail, sort_keys=True, default=str),
                )
            )
        return self.spark.createDataFrame(
            rows,
            "seq_no int, version int, kind string, batch_id string, "
            "change_rows long, wall_sec double, detail string",
        )

    def files(self) -> DataFrame:
        """The Iceberg ``files`` metadata-table analogue: one row per
        (bucket, chain position, data path) in the CURRENT manifest,
        joined with the footer zone maps — ts range (epoch µs) and key
        range where recorded (NULLs where the fail-open stats are
        absent). This is what the freshness/key pruning actually
        consults, exposed for operators to reason about skipping
        without reading manifests by hand. Metadata-only."""
        m = self.current_manifest()
        fs = (m or {}).get("file_stats", {})
        ks = (m or {}).get("key_stats", {})
        rows = []
        for b in sorted((m or {}).get("buckets", {}), key=int):
            for pos, p in enumerate(self._paths_of(m, b)):
                t = fs.get(p)
                k = ks.get(p)
                rows.append(
                    (
                        int(b), pos, p,
                        int(t[0]) if t else None,
                        int(t[1]) if t else None,
                        k[0] if k else None,
                        k[1] if k else None,
                    )
                )
        return self.spark.createDataFrame(
            rows,
            "bucket int, chain_pos int, path string, ts_min_us long, "
            "ts_max_us long, key_min string, key_max string",
        )

    def snapshots(self) -> DataFrame:
        """One row per RETAINED manifest version (time-travel
        surface): version, committed batch count, bucket/path counts,
        and the applied event-time frontier where the version's zone
        maps are complete (NULL otherwise — see ``sinks/align``).
        Metadata-only; vacuumed versions simply don't appear."""
        rows = []
        for v in range(1, self.current_version() + 1):
            try:
                m = self.manifest_at(v)
            except ValueError:
                continue
            if not m:
                continue
            paths = [p for ps in m["buckets"].values() for p in ps]
            fs = m.get("file_stats", {})
            frontier = (
                max(fs[p][1] for p in paths)
                if paths and all(p in fs for p in paths)
                else None
            )
            rows.append(
                (
                    v,
                    len(m.get("batch_ids", [])),
                    len(m["buckets"]),
                    len(paths),
                    frontier,
                    float(m["committed_at"]) if m.get("committed_at") else None,
                )
            )
        return self.spark.createDataFrame(
            rows,
            "version int, n_batches int, n_buckets int, n_paths int, "
            "frontier_us long, committed_at double",
        )

    def table_health(self, compact_threshold: int = 8) -> DataFrame:
        """Per-bucket maintenance health as a queryable DataFrame: one
        row per bucket with the current delta-chain length, live file
        count, cumulative rows landed (sum over the apply history —
        compaction rewrites files but not history), the bucket's share
        of all landed rows (the layout-skew indicator: a share far
        above ``1/num_buckets`` means hot keys hash together — see
        ``rebucket``), and whether the chain exceeds
        ``compact_threshold`` (feed ``only_buckets`` of ``compact``
        with the flagged rows to schedule maintenance incrementally).
        Driver-side manifest JSON only — no table scan, O(buckets)."""
        m = self.current_manifest() or self._empty_manifest()
        landed: dict[int, int] = {}
        for a in m.get("applies", []):
            for b, n in (a.get("rows_per_bucket") or {}).items():
                landed[int(b)] = landed.get(int(b), 0) + int(n)
        total = sum(landed.values())
        rows = []
        for b in range(int(m.get("num_buckets", self.num_buckets))):
            chain = len(self._paths_of(m, str(b)))
            n = landed.get(b, 0)
            rows.append(
                (
                    b,
                    chain,
                    n,
                    round(n / total, 6) if total else 0.0,
                    chain > compact_threshold,
                )
            )
        return self.spark.createDataFrame(
            rows,
            "bucket int, chain_files int, rows_landed long, "
            "landed_share double, compact_recommended boolean",
        )

    @staticmethod
    def _next_manifest(base: dict, record: dict | None, **fields) -> dict:
        """THE derivation of a manifest from its predecessor, for every
        commit: a copy of ``base`` (so everything a version does not
        change carries forward — ALTER state, patch config, per-path
        maps) minus the per-version provenance ``_MARKERS``, at
        ``base``'s version + 1, with ``fields`` set over it, and with
        ``record`` — this version's one entry of its own log, whose
        kind ``_record_kind`` names — appended to ``applies`` (capped
        at ``_MAX_APPLIES``). ``record=None`` starts a new log from a
        copy (fork, clone, savepoint): those pass their own ``version``
        and provenance marker and log nothing."""
        new = {k: v for k, v in base.items() if k not in _MARKERS}
        new["version"] = base["version"] + 1
        new.update(fields)
        if record is not None:
            _record_kind(record)
            new["applies"] = (
                base["applies"] + [{**record, "version": new["version"]}]
            )[-_MAX_APPLIES:]
        return new

    def _empty_manifest(self) -> dict:
        return {
            "version": 0,
            "num_buckets": self.num_buckets,
            "batch_ids": [],
            "buckets": {},
            "schema_fields": [],
            "extra_fields": [],
            "applies": [],
            "patch_cols": self.patch_cols or [],
            "unchanged_marker": self.unchanged_marker,
            "patch_types": self.patch_types,
        }

    def _path_schema(self, rel_path: str):
        """Spark schema of one committed data directory, from its
        parquet footer (driver-side pyarrow read, no Spark job). Data
        paths are immutable — written once under a fresh versioned
        directory, only ever deleted — so the per-handle cache never
        goes stale. All files under one path come from one write, so
        one footer describes the directory."""
        sch = self._path_schema_cache.get(rel_path)
        if sch is not None:
            return sch
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import from_arrow_schema

        d = os.path.join(self.root, rel_path)
        for base, _dirs, files in sorted(os.walk(d)):
            for fn in sorted(files):
                if fn.endswith(".parquet"):
                    sch = from_arrow_schema(
                        pq.read_schema(os.path.join(base, fn))
                    )
                    self._path_schema_cache[rel_path] = sch
                    return sch
        raise FileNotFoundError(f"no parquet files under {d}")

    _WHERE_OPS = ("=", "<", "<=", ">", ">=")

    def _where_conjuncts(self, where) -> list[tuple[str, str, str, object]]:
        """Canonicalize ``read(where=...)`` conjuncts to
        ``(col, op, tag, value)`` — value in the same canonical space
        ``_bucket_stats`` stores (epoch-µs / native number /
        code-point string)."""
        import datetime

        out = []
        for col, op, val in where:
            if op not in self._WHERE_OPS:
                raise ValueError(f"unsupported where op {op!r}")
            if isinstance(val, bool) or val is None:
                raise ValueError(f"unsupported where value {val!r}")
            if isinstance(val, (int, float)):
                out.append((col, op, "num", val))
            elif isinstance(val, datetime.datetime):
                out.append((col, op, "ts", self._ts_micros(val)))
            elif isinstance(val, str):
                out.append((col, op, "str", val))
            else:
                raise ValueError(f"unsupported where value type: {val!r}")
        return out

    @staticmethod
    def _bounds_refute(bounds: list, op: str, val) -> bool:
        """True iff NO value in [lo, hi] can satisfy ``x <op> val`` —
        then no non-NULL stored value satisfies the conjunct, and NULLs
        never satisfy a comparison, so the element carries no
        satisfying row at all."""
        lo, hi = bounds
        if op == "=":
            return val < lo or val > hi
        if op == "<":
            return lo >= val
        if op == "<=":
            return lo > val
        if op == ">":
            return hi <= val
        return hi < val  # ">="

    def _where_skips_chain(
        self,
        chain: list[str],
        conjs: list[tuple[str, str, str, object]],
        manifest: dict,
        patch: bool,
        bloom_pos: dict | None = None,
    ) -> bool:
        """Whole-CHAIN skip decision for read(where=...). Element-level
        skipping is NOT exact for payload predicates under LWW (a
        pruned element may hold the key's true winner, and an older
        surviving row could then falsely match) — but dropping an
        entire bucket chain is:

        - row-level: if EVERY element refutes at least one conjunct,
          then any key's winning row (it lives in some element) fails
          that element's refuted conjunct, so the residual filter
          would drop every key of this bucket anyway;
        - patch mode (stricter): carry-forward can source each COLUMN
          of the resolved row from a different element, so the skip
          needs ONE conjunct refuted by EVERY element — then that
          column's resolved value, wherever it came from, fails it.

        Unstatted paths/columns refute nothing (fail-open = exact).

        ``bloom_pos`` — probe bit positions for the ``=`` conjuncts,
        keyed ``(col, m, k, dt)`` (computed once per read in the same
        JVM hash space the blooms were built in). A bloom with ANY
        probe position unset proves the element stores NO row with
        that value (no false negatives: the bloom covered every
        non-NULL value, and NULL never satisfies ``=``) — a second,
        independent refutation source for equality predicates that
        min/max bounds cannot prune (high-cardinality scattered
        values whose ranges all overlap)."""
        if not chain:
            return False
        cs = manifest.get("col_stats", {})
        blooms = manifest.get("blooms", {}) if bloom_pos else {}
        _bitmap_memo: dict[tuple[str, str], bytes] = {}

        def _bloom_refutes(p: str, col: str, op: str) -> bool:
            if op != "=" or not blooms:
                return False
            rec = blooms.get(p, {}).get(col)
            if not rec:
                return False
            pos = bloom_pos.get((col, rec["m"], rec["k"], rec["dt"]))
            if pos is None:
                return False
            bm = _bitmap_memo.get((p, col))
            if bm is None:
                import base64

                bm = base64.b64decode(rec["b64"])
                _bitmap_memo[(p, col)] = bm
            return any(not (bm[q >> 3] >> (q & 7)) & 1 for q in pos)

        def refutes(p: str, c) -> bool:
            col, op, tag, val = c
            st = cs.get(p, {}).get(col)
            if st and st.get("t") == tag and self._bounds_refute(st["b"], op, val):
                return True
            return _bloom_refutes(p, col, op)

        if patch:
            return any(all(refutes(p, c) for p in chain) for c in conjs)
        return all(any(refutes(p, c) for c in conjs) for p in chain)

    def _read_bucket_paths(
        self, rel_paths: list[str], conf_manifest: dict | None = None
    ) -> DataFrame:
        """Read a set of committed data directories as one frame.

        Schema is merged DRIVER-side from cached footers and passed
        explicitly: ``mergeSchema=true`` on every chain read costs a
        distributed footer-scan job per call, and the incremental-view
        refresh loop issues several chain reads per micro-batch — at
        toy scale that inference job was the single largest share of
        the fixed per-refresh floor. Exactness: the sink's own writer
        keeps column types stable per name (evolution ADDS columns;
        patch levels align to recorded ``patch_types``), so a union of
        per-path fields in first-seen order IS the merged schema; any
        same-name type conflict — foreign files, hand-built fixtures —
        falls back to Spark's distributed merge (fail-open, exact).

        ALTER TABLE config (from ``conf_manifest`` when the caller
        reads under a specific version — time travel, feed windows —
        else the handle's adopted state): logically-dropped columns
        are hidden here (so every consumer — reduce, feeds, compact,
        purge rewrites — never sees them and rewrites shed them), and
        existence defaults are filled PER FILE GROUP — files whose
        footer lacks a defaulted column read the default (they predate
        the ADD, or an INSERT omitted the column), files that store it
        keep stored values, including explicit NULL. Zero overhead
        when neither feature is in use (the common case: one scan,
        unchanged plan)."""
        if conf_manifest is None:
            dropped, defaults = self.dropped_cols, self.column_defaults
        else:
            dropped = set(conf_manifest.get("dropped_columns", []))
            defaults = dict(conf_manifest.get("column_defaults", {}))

        def _scan(paths: list[str]) -> DataFrame:
            full = [os.path.join(self.root, p) for p in paths]
            merged = self._merged_footer_schema(paths)
            if merged is None:
                return (
                    self.spark.read.option("mergeSchema", "true").parquet(*full)
                )
            return (
                self.spark.read.schema(merged)
                .option("mergeSchema", "false")
                .parquet(*full)
            )

        if not defaults:
            df = _scan(rel_paths)
            return df.drop(*dropped) if dropped else df
        # Group paths by WHICH defaulted columns their footers lack
        # (usually 2 groups: pre-ADD and post-ADD files). Each group
        # scans under its own merged schema, fills its missing
        # defaults as typed literals, and the groups union by name —
        # parquet scans stay codegen'd and partition-parallel; AQE
        # coalesces the union. Unreadable footers (foreign files)
        # fail open into the no-fill group.
        groups: dict[frozenset, list[str]] = {}
        for p in rel_paths:
            try:
                have = {f.name for f in self._path_schema(p).fields}
                missing = frozenset(c for c in defaults if c not in have)
            except Exception:
                missing = frozenset()
            groups.setdefault(missing, []).append(p)
        parts = []
        for missing, paths in sorted(groups.items(), key=lambda kv: sorted(kv[0])):
            sub = _scan(paths)
            for c in sorted(missing):
                d = defaults[c]
                sub = sub.withColumn(c, F.lit(d["v"]).cast(d["t"]))
            parts.append(sub)
        df = parts[0]
        for sub in parts[1:]:
            df = df.unionByName(sub, allowMissingColumns=True)
        return df.drop(*dropped) if dropped else df

    def _merged_footer_schema(self, rel_paths: list[str]):
        """Driver-side merged schema of a set of committed data dirs
        (cached footers, no Spark job), or ``None`` when a same-name
        type conflict is not a supported widening pair (foreign files —
        callers fall back to Spark's distributed merge, fail-open).
        Same-name conflicts between NUMERIC widths resolve to the
        wider type (``_widened_type``): the sink's type-widening
        evolution. Exact because the promotion is lossless and the
        parquet reader applies it at scan time — an int32 file read
        under the widened bigint schema yields the same values."""
        try:
            by_name: dict[str, object] = {}
            order: list[str] = []
            for p in rel_paths:
                for f in self._path_schema(p).fields:
                    prev = by_name.get(f.name)
                    if prev is None:
                        by_name[f.name] = f.dataType
                        order.append(f.name)
                    elif prev != f.dataType:
                        wide = _widened_type(prev, f.dataType)
                        if wide is None:
                            raise ValueError(
                                f"type conflict on {f.name}: {prev} vs {f.dataType}"
                            )
                        by_name[f.name] = wide
            return T.StructType(
                [T.StructField(n, by_name[n], True) for n in order]
            )
        except Exception:
            return None

    def _patch_conf(self, manifest: dict | None) -> tuple[list[str] | None, dict]:
        """(patch_cols, patch_types) for a reduction — the MANIFEST's
        config when one is given (time travel must merge a pre-
        evolution snapshot under the column set committed THEN), else
        the instance's current config."""
        if manifest is not None and "patch_cols" in manifest:
            return (
                list(manifest["patch_cols"]) or None,
                dict(manifest.get("patch_types", {})),
            )
        return self.patch_cols, self.patch_types

    def _reduce(
        self, df: DataFrame, keys: list[str], manifest: dict | None = None
    ) -> DataFrame:
        """THE merge operator for this table: ``lww_agg`` over the
        stamped form, aligned to the patch columns (plain row-level
        LWW when there are none). Every reduction in the sink (apply,
        chain-merge at read, compact, rebucket, rewrite, purge) goes
        through here — correctness of MOR / replay rests on all of
        them being the same associative operator. ``manifest`` overrides the patch config for time
        travel (merge a snapshot under the config committed at that
        version, not today's)."""
        patch_cols, patch_types = self._patch_conf(manifest)
        df = align_stamps(df, self.order_cols, patch_cols, patch_types)
        return lww_agg(df, keys, self.order_cols, patch_cols or ())

    def _drop_patch_meta(
        self, df: DataFrame, manifest: dict | None = None
    ) -> DataFrame:
        patch_cols, _ = self._patch_conf(manifest)
        if not patch_cols:
            return df
        return df.drop(*[PATCH_ORD_PREFIX + c for c in patch_cols])

    @staticmethod
    def _extras_to_columns(
        df: DataFrame, manifest: dict, columns: list[str] | None = None
    ) -> DataFrame:
        """Materialize the manifest-declared evolved fields (only those
        in ``columns`` when given) out of the extras map, then drop the
        map — metadata-only schema evolution; old rows read NULL."""
        if EXTRAS_COL not in df.columns:
            return df
        for name in manifest.get("extra_fields", []):
            if name not in df.columns and (columns is None or name in columns):
                df = df.withColumn(name, _col(EXTRAS_COL)[name])
        return df.drop(EXTRAS_COL)

    @staticmethod
    def _paths_of(manifest: dict, bucket: str) -> list[str]:
        """Bucket → delta chain (oldest first). Legacy manifests stored
        a single path string; normalize to a list."""
        v = manifest["buckets"].get(bucket, [])
        return [v] if isinstance(v, str) else list(v)

    @staticmethod
    def _split_base(chain: list[str]) -> tuple[list[str], list[str]]:
        """(base, deltas) of a non-empty chain. Every write lands under
        one ``data/vN`` version dir, and a (major) compaction writes
        ALL its chain elements — time bands included — under a single
        version, so the base is the leading run sharing the first
        element's version prefix; the rest are per-batch deltas."""
        v0 = chain[0].split(f"/{BAND_COL}=")[0].split(f"/{BUCKET_COL}=")[0]
        i = 1
        while i < len(chain) and chain[i].startswith(f"{v0}/"):
            i += 1
        return chain[:i], chain[i:]

    def _chains(self, manifest: dict, drop=()) -> dict[str, list[str]]:
        """Bucket → chain of ``manifest``, in map order, without the
        buckets in ``drop``."""
        return {
            b: self._paths_of(manifest, b) for b in manifest["buckets"] if b not in drop
        }

    def _all_paths(self, manifest: dict) -> list[str]:
        return [p for chain in self._chains(manifest).values() for p in chain]

    # ---- apply (the MERGE) ---------------------------------------------

    def _bucket_expr(self, col=None, num_buckets: int | None = None):
        if col is None:
            col = _col(self.bucket_by)
        return F.pmod(F.xxhash64(col), F.lit(num_buckets or self.num_buckets))

    def bucket_of(self, value, num_buckets: int | None = None) -> int:
        """Bucket of a key value, computed with the SAME expression the
        writer uses (xxhash64 is bit-stable across versions/runs, so
        buckets are recomputable from the key — never stored). The
        1-row job constant-folds; no data is scanned. ``num_buckets``
        overrides the current layout (time travel across a rebucket
        needs the MANIFEST's bucket count, not today's)."""
        return int(
            self.spark.range(1)
            .select(self._bucket_expr(F.lit(value), num_buckets).alias("b"))
            .collect()[0].b
        )

    def pin_probe(
        self,
        probe: DataFrame,
        col: str | None = None,
        also: list[tuple["ParquetSnapshotSink", str]] | None = None,
    ):
        """Materialize a probe frame and collect its bucket set in ONE
        Spark job: returns ``(pinned, (bucket_ids, num_buckets))`` to
        feed ``read(probe_keys=pinned, probe_buckets=...)``. Without
        this, a probe-pruned read costs two actions — the caller's
        checkpoint of the probe plus read()'s own bucket collect — and
        the incremental-view refresh loop pays that floor three times
        per micro-batch. ``col`` is the probe column carrying
        ``bucket_by`` values (default ``bucket_by`` itself). The probe
        is persisted (it is metadata-small relative to the table: a
        batch's affected-key set), and the bucket ids are stamped with
        the bucket count they were hashed under so a concurrent
        rebucket falls back to an exact recollect inside read().

        ``also`` — extra ``(sink, probe_col)`` pairs whose bucket sets
        are collected IN THE SAME JOB (the pinned frame will probe
        several tables, e.g. a join view probing both sides): returns
        ``(pinned, first_probe_buckets, [probe_buckets_i, ...])``.
        The aggregation is a ``collect_set`` per sink — one row out,
        ≤ num_buckets entries each, however large the probe is."""
        nb = (self.current_manifest() or {}).get(
            "num_buckets", self.num_buckets
        )
        col = col or self.bucket_by
        pairs = [(self, col, nb)]
        for s, c in also or []:
            pairs.append(
                (
                    s,
                    c,
                    (s.current_manifest() or {}).get(
                        "num_buckets", s.num_buckets
                    ),
                )
            )
        pinned = probe.persist()
        row = pinned.agg(
            *[
                F.collect_set(s._bucket_expr(_col(c), n)).alias(f"b{i}")
                for i, (s, c, n) in enumerate(pairs)
            ]
        ).collect()[0]
        outs = [
            (sorted(int(b) for b in row[f"b{i}"]), n)
            for i, (_s, _c, n) in enumerate(pairs)
        ]
        if also is None:
            return pinned, outs[0]
        return pinned, outs[0], outs[1:]

    def apply_with_retry(
        self, changes: DataFrame, batch_id: str, max_retries: int = 3
    ) -> dict:
        """Optimistic-concurrency wrapper: on ``ConcurrentCommitError``
        (another writer took our manifest version) re-read the log and
        re-apply — the Iceberg commit-retry loop. Convergent because
        ``apply`` re-reads the manifest each attempt: if the competing
        writer committed THIS batch_id, the retry is a skip; otherwise
        the batch lands on the next free version. Data written by the
        losing attempt is orphaned, never referenced (``remove_orphans``
        or ``vacuum`` reclaims it once older than the grace window).
        """
        for _ in range(max_retries):
            try:
                return self.apply(changes, batch_id)
            except ConcurrentCommitError:
                continue
        return self.apply(changes, batch_id)

    def apply(self, changes: DataFrame, batch_id: str) -> dict:
        """MERGE one micro-batch of change rows. Returns apply metrics.

        ``changes`` columns: keys + payload + op + order columns.
        Idempotent on ``batch_id``: a committed batch is skipped.
        """
        t0 = time.time()
        manifest = self.current_manifest() or self._empty_manifest()
        self._adopt(manifest)
        if batch_id in manifest["batch_ids"]:
            return {"batch_id": batch_id, "skipped": True, "reason": "already-applied"}
        cons = self._constraints(manifest)
        if cons:
            # CHECK constraints: refuse a violating batch whole BEFORE
            # any staging — version unchanged, batch id not consumed.
            # Logical names: runs before rename translation.
            self._enforce_constraints(changes, cons, batch_id)
        mapping = self._column_mapping(manifest)
        if mapping:
            # callers speak logical names; storage speaks the frozen
            # physical ones (rename_column) — translate at the boundary
            changes = self._to_physical_frame(changes, mapping)
        if self.dropped_cols:
            # A batch still carrying a dropped column is an upstream
            # producer that missed the DDL — writing it would be
            # silently resurrected by a later re-add (same physical
            # name), so refuse loudly. Re-adds via add_column get a
            # FRESH physical name and pass through the mapping above.
            stale = [c for c in changes.columns if c in self.dropped_cols]
            if stale:
                raise ValueError(
                    f"columns {stale} were dropped from this table; "
                    "re-add with add_column() before writing them"
                )
        if self.track_lineage:
            # row lineage: stamp every row (tombstones included — the
            # feed shows who deleted) with the writer batch id. A
            # caller-supplied column of the same name is overwritten:
            # lineage is the SINK's claim, not the producer's.
            changes = changes.withColumn(LINEAGE_COL, F.lit(batch_id))
        if self.column_defaults and self.patch_cols is None:
            # SQL write-default: an INSERT that omits a defaulted
            # column gets the default (explicit NULL stays NULL —
            # absence of the COLUMN, not of a value, triggers this).
            # Matters for MOW, where the merge materializes the batch
            # alongside old state whose files DO carry the column, so
            # footer-absence existence reads can no longer encode it.
            # Patch mode skips this: there absence means "don't touch".
            for c, d in self.column_defaults.items():
                if c not in changes.columns:
                    changes = changes.withColumn(
                        c, F.lit(d["v"]).cast(d["t"])
                    )

        obs = Observation(f"apply-{batch_id}-{uuid.uuid4().hex[:8]}")
        key0 = _col(self.keys[0])
        metrics_exprs = [
            F.count(F.lit(1)).alias("change_rows"),
            # Quarantine count (reference: row-skippable JsonParseException,
            # JsonParseException.java:24-43): malformed envelopes parse to
            # null op/key. Counted here on attributes of the parse
            # projection — a pre-filter would be pushed below the parse
            # and re-parse every row per predicate.
            F.sum(
                F.when(_col("op").isNull() | key0.isNull(), 1).otherwise(0)
            ).alias("malformed_rows"),
        ]
        if EXTRAS_COL in changes.columns:
            # Schema discovery costs nothing extra: the set of unseen
            # field names is aggregated DURING the write job. The
            # collect_set is over distinct key-arrays (bounded by the
            # number of distinct event shapes, not rows).
            metrics_exprs.append(
                F.array_distinct(
                    F.flatten(F.collect_set(F.map_keys(_col(EXTRAS_COL))))
                ).alias("extra_keys")
            )
        staged = stamp_batch(
            changes.withColumn(BUCKET_COL, self._bucket_expr()),
            self.order_cols,
            self.patch_cols,
            self.patch_types,
            self.unchanged_marker,
        )
        if self.mode == "mor":
            return self._apply_mor(
                staged.observe(obs, *metrics_exprs), batch_id, manifest, obs, t0
            )
        return self._apply_mow(staged, metrics_exprs, batch_id, manifest, obs, t0)

    def _write_buckets(
        self, df: DataFrame, version: int, banded: bool = False
    ) -> tuple[dict[str, list[str]], dict[str, int], dict[str, dict]]:
        """THE bucket-partitioned write, called only by ``_write_level``:
        stages rows into a fresh ``_data_rel(version)`` dir and returns
        ``_bucket_footer_info`` of what was written.

        Rows are always hash-partitioned by ``_bucket`` with no count,
        so adaptive execution coalesces the write by its bytes; with
        AQE off it runs ``spark.sql.shuffle.partitions`` tasks. Over
        rows that ``_partitioned_reduce`` already partitioned by
        ``_bucket`` (through projections, filters or a union of such
        inputs) the planner drops this exchange, so a reduce-and-write
        shuffles once. A task may hold several buckets but a bucket
        never spans two, and sorting by the partition columns, then
        the keys, gives each bucket one key-sorted file per level with
        no sort of the writer's own.

        Timestamps are forced to TIMESTAMP_MICROS for the write
        (session conf scoped + restored): Spark's INT96 default
        carries NO parquet column statistics, and the footer zone maps
        would be empty. Readers are unaffected — Spark merges INT96
        and INT64 timestamp files within one table transparently.
        ``banded`` additionally partitions by the ``_band`` time-band
        column (banded compaction layout: ``_band=i/_bucket=b``)."""
        out_rel = self._data_rel(version)
        key = "spark.sql.parquet.outputTimestampType"
        prev = self.spark.conf.get(key)
        self.spark.conf.set(key, "TIMESTAMP_MICROS")
        part_cols = [BAND_COL, BUCKET_COL] if banded else [BUCKET_COL]
        try:
            (
                df.repartition(_col(BUCKET_COL))
                .sortWithinPartitions(*part_cols, *map(_col, self.keys))
                .write.mode("overwrite")
                .partitionBy(*part_cols)
                .parquet(os.path.join(self.root, out_rel))
            )
        finally:
            self.spark.conf.set(key, prev)
        return self._bucket_footer_info(out_rel)

    def _partitioned_reduce(
        self, df: DataFrame, manifest: dict | None = None
    ) -> DataFrame:
        """THE reduce of every writer that merges stored levels or a
        batch before writing them: hash-partition by ``_bucket`` once,
        then run ``_reduce`` (``manifest`` as there) over the keys and
        ``_bucket``. ``_bucket`` is a member of the grouping keys, so
        Catalyst reuses the exchange for the aggregation
        (hashpartitioning on a subset of the grouping keys satisfies
        its ClusteredDistribution), and the output stays partitioned
        by bucket, so ``_write_buckets``' own repartition is dropped:
        ONE shuffle of the data instead of reduce-by-key THEN
        repartition-by-bucket (plan-asserted in tests). ``df`` must
        carry ``_bucket``. The repartition names no count, so adaptive
        execution sizes the shuffle by its bytes: a trickle apply into
        8 buckets runs one reduce+write task, not 8."""
        return self._reduce(
            df.repartition(_col(BUCKET_COL)), self.keys + [BUCKET_COL], manifest
        )

    @staticmethod
    def _ts_micros(v) -> int:
        """Canonicalize a timestamp-ish value (ISO string, naive-UTC or
        tz-aware datetime, pyarrow footer stat) to epoch microseconds."""
        import datetime

        if isinstance(v, str):
            v = datetime.datetime.fromisoformat(v)
        if isinstance(v, datetime.datetime):
            if v.tzinfo is None:
                v = v.replace(tzinfo=datetime.timezone.utc)
            return int(v.timestamp() * 1_000_000)
        raise TypeError(f"not a timestamp: {v!r}")

    def _bucket_footer_info(
        self, out_rel: str
    ) -> tuple[dict[str, list[str]], dict[str, int], dict[str, dict]]:
        """One footer pass (local metadata reads, no Spark job)
        over a freshly written data dir, flat or banded. Returns

        - ``chains``: bucket → the new chain paths (one per band,
          band dirs in name order), buckets in ``int`` order;
        - ``counts``: bucket → rows written (the per-bucket lineage
          record);
        - ``path_stats``: chain path → zone map (``_bucket_stats``),
          for ``_commit(path_stats=...)``."""
        out_dir = os.path.join(self.root, out_rel)
        bands = (
            sorted(d for d in os.listdir(out_dir) if d.startswith(f"{BAND_COL}="))
            if os.path.isdir(out_dir)
            else []
        )
        chains: dict[str, list[str]] = {}
        counts: dict[str, int] = {}
        path_stats: dict[str, dict] = {}
        for sub in [f"/{bd}" for bd in bands] or [""]:
            d = out_dir + sub
            n_rows, stats = self._bucket_stats(d, self._written_buckets(d))
            for b, n in n_rows.items():
                rel = f"{out_rel}{sub}/{BUCKET_COL}={b}"
                chains.setdefault(b, []).append(rel)
                counts[b] = counts.get(b, 0) + n
                if b in stats:
                    path_stats[rel] = stats[b]
        chains = {b: chains[b] for b in sorted(chains, key=int)}
        return chains, counts, path_stats

    def _bucket_stats(
        self, out_dir: str, buckets: list[str]
    ) -> tuple[dict[str, int], dict[str, dict]]:
        """Per-bucket row counts and zone maps folded from parquet
        row-group footer statistics, read locally, no Spark job (the
        write already produced them; this is a metadata read):

        - ``"ts"``: [min, max] epoch-µs of the first order column;
        - ``"key"``: [min, max] of the bucket key column (files are
          sorted by the keys within buckets, so the footer ranges are
          tight). Strings compare soundly: parquet's BYTE_ARRAY
          comparator is unsigned byte-wise over UTF-8, which equals
          Python's code-point comparison — so driver-side range checks
          against these bounds agree with the data.

        A stat appears only when EVERY row group carries it: missing
        footer statistics yield no entry, and an unstatted path is
        never pruned (fail-open = exact).

        Declared ``stats_cols`` are folded the same way under
        ``"cols"`` — per column a typed bound ``{"t": "ts"|"num"|
        "str", "b": [lo, hi]}`` (timestamps canonicalized to epoch-µs,
        numbers kept native, strings code-point-ordered = parquet's
        unsigned-byte order over UTF-8) — the Iceberg lower/upper_
        bounds shape that backs ``read(where=...)``."""
        import datetime

        import pyarrow.parquet as pq

        ts_col = self.order_cols[0]
        key_col = self.bucket_by

        def _stat_val(v):
            """(tag, canonical value) for a footer stat of any
            supported type; raises on anything else (fail-open)."""
            if isinstance(v, bool):
                raise TypeError("boolean stats not supported")
            if isinstance(v, (int, float)):
                return "num", v
            if isinstance(v, (bytes, str)):
                return "str", self._key_str(v)
            if isinstance(v, (datetime.datetime, datetime.date)):
                return "ts", self._ts_micros(v)
            raise TypeError(f"unsupported stat type: {v!r}")

        watch = {"ts": ts_col, "key": key_col}
        watch.update({f"c:{c}": c for c in self.stats_cols})
        counts: dict[str, int] = {}
        out: dict[str, dict] = {}
        for b in buckets:
            d = os.path.join(out_dir, f"{BUCKET_COL}={b}")
            acc: dict[str, list] = {w: None for w in watch}
            tag: dict[str, str] = {}
            ok = {w: True for w in watch}
            n_rows = 0
            for fn in os.listdir(d):
                if not fn.endswith(".parquet"):
                    continue
                md = pq.read_metadata(os.path.join(d, fn))
                n_rows += md.num_rows
                for i in range(md.num_row_groups):
                    rg = md.row_group(i)
                    st = {w: None for w in watch}
                    for j in range(rg.num_columns):
                        c = rg.column(j)
                        for w, name in watch.items():
                            if c.path_in_schema == name:
                                st[w] = c.statistics
                    for w in watch:
                        if not ok[w]:
                            continue
                        s = st[w]
                        if s is None or not s.has_min_max:
                            ok[w] = False
                            continue
                        try:
                            if w == "ts":
                                mn, mx = self._ts_micros(s.min), self._ts_micros(s.max)
                            elif w == "key":
                                mn, mx = self._key_str(s.min), self._key_str(s.max)
                            else:
                                t1, mn = _stat_val(s.min)
                                t2, mx = _stat_val(s.max)
                                if t1 != t2 or tag.setdefault(w, t1) != t1:
                                    raise TypeError("mixed stat types")
                        except (TypeError, UnicodeDecodeError):
                            ok[w] = False
                            continue
                        if acc[w] is None:
                            acc[w] = [mn, mx]
                        else:
                            acc[w][0] = min(acc[w][0], mn)
                            acc[w][1] = max(acc[w][1], mx)
            counts[b] = n_rows
            entry = {
                w: acc[w]
                for w in ("ts", "key")
                if ok[w] and acc[w] is not None
            }
            cols = {
                watch[w]: {"t": tag[w], "b": acc[w]}
                for w in watch
                if w.startswith("c:") and ok[w] and acc[w] is not None
            }
            if cols:
                entry["cols"] = cols
            if entry:
                out[b] = entry
        return counts, out

    @staticmethod
    def _key_str(v) -> str:
        """Footer stat for a string column → str (pyarrow may hand
        back bytes)."""
        if isinstance(v, bytes):
            return v.decode("utf-8")
        if isinstance(v, str):
            return v
        raise TypeError(f"non-string key stat: {v!r}")

    def _written_buckets(self, out_dir: str) -> list[str]:
        """Bucket partition values present under a freshly-written
        directory — a filesystem listing, no Spark job. (On an object
        store this becomes one LIST call via the Hadoop FS API.)"""
        if not os.path.isdir(out_dir):
            return []
        prefix = f"{BUCKET_COL}="
        return sorted(
            (d[len(prefix):] for d in os.listdir(out_dir) if d.startswith(prefix)),
            key=int,
        )

    def _write_level(
        self,
        manifest: dict,
        rows: DataFrame | None,
        keep: dict[str, list[str]],
        record,
        t0: float,
        *,
        obs=None,
        banded: bool = False,
        **fields,
    ) -> dict:
        """THE write-and-commit of one level, for every bucket writer:
        ``rows`` (carrying ``_bucket``; ``None`` writes nothing) go
        through ``_write_buckets`` into the next version's data dir
        (with no second shuffle over ``_partitioned_reduce`` output),
        every written bucket's chain becomes ``keep[b]`` + its new
        paths, and the version commits as ``_next_manifest(manifest,
        record, buckets=..., **fields)`` with the level's zone maps.
        ``keep`` is the chain prefix the writer keeps, in map order:
        every chain (merge-on-read delta), the untouched buckets (a
        rewrite of some), each base (minor compaction) or nothing (a
        full rewrite); a bucket left with no chain drops out. This is
        the one seam between staged data and a committed version: a
        crash before ``_commit`` leaves only an unreferenced staging
        dir, which ``remove_orphans`` (or ``vacuum``, once older than
        the grace window) reclaims.

        ``record`` is the version's ``applies`` record, or a function
        ``(seen, counts, buckets) -> record`` for a writer whose record
        reads the write's outcome: ``seen`` is ``obs``'s metrics row
        (``{}`` when it never resolved), ``counts`` the rows written
        per bucket, ``buckets`` the new chain map. The step stamps
        ``wall_sec``, and ``events_per_sec`` for a record counting
        ``change_rows``; ``_extras`` keys the write observed join
        ``extra_fields``. Returns the committed manifest."""
        version = manifest["version"] + 1
        chains, counts, path_stats = (
            self._write_buckets(rows, version, banded)
            if rows is not None
            else ({}, {}, None)
        )
        buckets = {
            b: keep.get(b, []) + chains.get(b, [])
            for b in {**keep, **chains}
            if keep.get(b) or b in chains
        }
        seen = (_obs_metrics(obs) if obs is not None else None) or {}
        if callable(record):
            record = record(seen, counts, buckets)
        wall = time.time() - t0
        record["wall_sec"] = round(wall, 3)
        if "change_rows" in record:
            record["events_per_sec"] = round(record["change_rows"] / max(wall, 1e-9), 1)
        if seen.get("extra_keys"):
            # schema discovery: map keys the write saw in ``_extras``
            fields["extra_fields"] = sorted(
                {*manifest.get("extra_fields", []), *seen["extra_keys"]}
            )
        new = self._next_manifest(manifest, record, buckets=buckets, **fields)
        self._commit(new, path_stats=path_stats)
        return new

    def _batch_fields(
        self, manifest: dict, batch_id: str, rows: DataFrame | None
    ) -> dict:
        """The manifest fields a batch commit sets for
        ``_write_level``: ``batch_id`` joins the exactly-once log and,
        when the batch writes ``rows``, the stored schema grows by
        their columns and the table config this handle wrote under is
        recorded."""
        fields = {"batch_ids": manifest["batch_ids"] + [batch_id]}
        if rows is None:
            return fields
        return {
            **fields,
            "num_buckets": self.num_buckets,
            "schema_fields": sorted(
                (set(manifest["schema_fields"]) | set(rows.columns)) - {BUCKET_COL}
            ),
            "patch_cols": self.patch_cols or [],
            "unchanged_marker": self.unchanged_marker,
            "patch_types": self.patch_types,
            "stats_cols": self.stats_cols,
            "track_lineage": self.track_lineage,
        }

    def _apply_mow(
        self,
        staged: DataFrame,
        metrics_exprs: list,
        batch_id: str,
        manifest: dict,
        obs,
        t0: float,
    ) -> dict:
        """Copy-on-write MERGE: rewrite affected buckets fully merged."""
        # Pin the batch: it is consumed twice (the affected-bucket
        # collect below, then the merge+write job), and its lineage is
        # the upstream parse — without the pin every MOW apply parses
        # the micro-batch twice. Micro-batches are bounded by
        # definition; unpersisted before return.
        #
        # The observe node goes ON TOP of the pinned frame, not under
        # it: a CollectMetrics node buried inside an InMemoryRelation
        # resolves only via the cache-build, which is flaky when that
        # build itself runs nested inside another cache's build (the
        # demux path persists the parsed batch too) — Spark can hand
        # back a schema-less metrics row. Above the pin, the node sits
        # in the write job's executed-plan TREE, the shape every round
        # has proven exact.
        staged = staged.persist()
        try:
            return self._apply_mow_pinned(
                staged, staged.observe(obs, *metrics_exprs), batch_id,
                manifest, obs, t0,
            )
        finally:
            staged.unpersist()

    def _apply_mow_pinned(
        self,
        staged_pinned: DataFrame,
        staged: DataFrame,
        batch_id: str,
        manifest: dict,
        obs,
        t0: float,
    ) -> dict:
        # Affected buckets: tiny driver-side list (≤ num_buckets).
        # Collected off the UNOBSERVED pinned frame so the metrics'
        # first-action remains the write job below.
        affected = sorted(
            r[BUCKET_COL]
            for r in staged_pinned.select(BUCKET_COL).distinct().collect()
        )
        merged = None
        if affected:
            old_paths = [
                p for b in affected for p in self._paths_of(manifest, str(b))
            ]
            merged = staged
            if old_paths:
                # Bucket files don't store _bucket; recompute from the
                # key (deterministic hash) — no partition inference.
                old = self._read_bucket_paths(old_paths).withColumn(
                    BUCKET_COL, self._bucket_expr()
                )
                merged = staged.unionByName(old, allowMissingColumns=True)
            merged = self._partitioned_reduce(merged)

        def record(seen, counts, _):
            if merged is None:  # an empty batch still commits its batch_id
                return {"batch_id": batch_id, "change_rows": 0}
            # unresolved row ⟹ zero-task plan ⟹ empty batch; the pinned
            # frame's count (one cache-hit job) is the exact backstop.
            # Per-bucket lineage counts come from the footers (a
            # metadata read — saves one Spark job per batch).
            return {
                "batch_id": batch_id,
                "change_rows": (
                    int(seen["change_rows"]) if seen else int(staged_pinned.count())
                ),
                "malformed_rows": int(seen.get("malformed_rows") or 0),
                "affected_buckets": len(affected),
                "rows_per_bucket": counts,
            }

        # copy-on-write: an affected chain is emptied in place (the map
        # keeps its order) and holds only its new level
        keep = {**self._chains(manifest), **dict.fromkeys(map(str, affected), [])}
        new = self._write_level(
            manifest, merged, keep, record, t0, obs=obs,
            **self._batch_fields(manifest, batch_id, merged),
        )
        return new["applies"][-1]

    def _apply_mor(
        self, staged: DataFrame, batch_id: str, manifest: dict, obs, t0: float
    ) -> dict:
        """Merge-on-read apply: LWW-pre-reduce the batch per (key,
        bucket) — ONE shuffle of batch-sized data with map-side partial
        combine — and append it as a delta level; never read the
        table. Write cost is O(batch) regardless of table size."""
        delta = self._partitioned_reduce(staged)

        def record(seen, counts, buckets):
            # unresolved row ⟹ the write ran zero tasks ⟹ empty batch.
            # Defense in depth: if files WERE written, the delta footer
            # counts are a (post-reduce) lower bound beating a re-parse.
            return {
                "batch_id": batch_id,
                "change_rows": (
                    int(seen["change_rows"]) if seen else sum(counts.values())
                ),
                "malformed_rows": int(seen.get("malformed_rows") or 0),
                "affected_buckets": len(counts),
                "rows_per_bucket": counts,
                "chain_depth": max(map(len, buckets.values()), default=0),
            }

        new = self._write_level(
            manifest, delta, self._chains(manifest), record, t0, obs=obs,
            **self._batch_fields(manifest, batch_id, delta),
        )
        # Bound read amplification: collapse chains that grew too deep.
        # Tombstones are KEPT — replay may still deliver older events.
        deep = [b for b, v in new["buckets"].items() if len(v) > self.compact_every]
        if deep:
            try:
                self.compact(drop_tombstones=False, only_buckets=deep)
            except ConcurrentCommitError:
                # the batch itself committed above; a competing writer
                # won the maintenance commit slot — the chain is still
                # deep, so the NEXT apply re-triggers compaction. Never
                # surface a maintenance race as an apply failure.
                pass
        return new["applies"][-1]

    # ---- bucketed warehouse export (shuffle-free downstream joins) -----

    def export_bucketed(
        self,
        table_name: str,
        path: str,
        num_buckets: int | None = None,
        at_version: int | None = None,
        sort: bool = True,
    ) -> str:
        """Materialize the table's LWW state as a Spark BUCKETED
        catalog table (``bucketBy`` on the sink's bucket key) at an
        explicit external ``path``.

        Why this exists at 100 TB: the sink's own layout hashes with
        ``xxhash64`` inside this engine's manifest world — Spark's
        planner cannot see it. Exporting through ``bucketBy`` re-keys
        the state into Spark's native bucketing (Murmur3), whose
        partitioning IS visible to Catalyst: two tables exported with
        the SAME bucket count join on the bucket key with ZERO
        shuffle on either side (the classic bucketed sort-merge join
        — each task reads bucket *i* of both tables), and per-key
        aggregations over one export skip their exchange entirely.
        One export pays one shuffle; every downstream join/agg of the
        warehouse consumer then pays none — the right trade whenever
        state is consumed more than once (feature joins, eval scans,
        repeated training-data builds).

        ``sort`` additionally orders rows by the bucket key within
        each bucket file (``sortBy``), letting the single-file-per-
        bucket case skip the join's sort as well. Export is a full
        overwrite of ``table_name`` (re-export after new applies to
        refresh); the table is EXTERNAL (data at ``path``), so
        dropping it never deletes sink data — the export dir is an
        independent artifact."""
        n = int(num_buckets or self.num_buckets)
        df = self.read(at_version=at_version)
        writer = (
            df.write.mode("overwrite")
            .format("parquet")
            .option("path", path)
            .bucketBy(n, self.bucket_by)
        )
        if sort:
            writer = writer.sortBy(self.bucket_by)
        writer.saveAsTable(table_name)
        return table_name

    # ---- read ----------------------------------------------------------

    def read(
        self,
        include_tombstones: bool = False,
        include_meta: bool = False,
        at_version: int | None = None,
        key_eq: dict | None = None,
        probe_keys: DataFrame | None = None,
        columns: list[str] | None = None,
        min_ts: object | None = None,
        probe_buckets: tuple[list[int], int] | None = None,
        where: list[tuple[str, str, object]] | None = None,
        at_ts: object | None = None,
        at_tag: str | None = None,
    ) -> DataFrame:
        """Table state (deletes filtered, meta dropped) — current, or
        AS OF a committed ``at_version`` (time travel over immutable
        manifests/data files).

        ``min_ts`` (ISO string or datetime) — "state freshly written
        since T": keeps only keys whose LWW winner has
        ``order_cols[0] >= min_ts``. Beyond the residual filter, chain
        elements whose footer zone map (``file_stats``, epoch-µs
        min/max recorded at write) proves ``max < min_ts`` are pruned
        BEFORE the scan — at 100 TB a freshness read opens only the
        recent deltas, not the whole history. Pruning a lower bound is
        EXACT under row-level LWW: every pruned row either loses to an
        in-range row of its key, or its key's true winner is also
        below the bound and the residual filter drops the key
        anyway. (An upper bound would NOT be — a pruned newer winner
        must knock its key out, so ``max_ts`` is deliberately not
        offered.) Patch-mode tables skip pruning (carry-forward reads
        column values from old rows) and apply only the residual
        filter; unstatted paths are never pruned (fail-open = exact).

        MOR delta chains are merged here with the same LWW reduction
        the writer uses — LWW over (ts, seq) is associative, so
        merge-at-read of pre-reduced levels equals sequential apply.

        ``key_eq`` — equality predicates on key columns (point/prefix
        lookup). When it pins ``bucket_by``, only that key's bucket
        chain is opened — O(chain), not O(table) — and the equality
        filters sit directly on the scan, so parquet row-group stats
        (files are sorted within buckets by the keys) prune further.
        Filtering before the LWW merge is exact: LWW reduces per key,
        and every row of a key carries the same key values.

        ``probe_keys`` — a DataFrame carrying a ``bucket_by`` column of
        key values to restrict the read to (the SET analogue of
        ``key_eq``: a batch probing many keys at once, e.g. the
        incremental deduper's ownership check). Two-level pruning:
        only bucket chains the probe set hashes into are opened (the
        probe's distinct-bucket list is metadata-sized — ≤ num_buckets
        ints collected driver-side), then a semi-join on the key runs
        BEFORE the LWW merge (exact, same argument as ``key_eq``), so
        the merge reduces only probed keys instead of the whole chain.
        The probe is the broadcast side (increment ≪ store). Given
        together with ``key_eq``, both restrict the result.

        ``columns`` — payload projection, applied BEFORE the LWW
        merge. Catalyst cannot prune columns through the reduce (the
        winner is ``max_by(struct(<all payload>))``, which references
        every column), so without this a 2-column projection of a
        100 TB table still scans every column; with it the projection
        reaches the parquet scan (``ReadSchema``, plan-asserted in
        tests). Exact for both merge modes: row-level LWW picks the
        winner by (order cols) alone, and the patch reduction resolves
        columns independently — dropping unrequested patch columns
        (and their stamps) cannot change the kept ones. Keys, order
        columns and ``op`` are always read (the merge needs them);
        the returned frame carries keys + ``columns``.
        """
        if at_tag is not None:
            # named immutable ref: resolve and read as time travel
            if at_version is not None or at_ts is not None:
                raise ValueError("pass only one of at_version/at_ts/at_tag")
            at_version = self._resolve_tag(at_tag)
        if at_ts is not None:
            # FOR SYSTEM_TIME AS OF: resolve the wall-clock instant to
            # the version visible then, and read THAT (same immutable-
            # manifest time travel as at_version).
            if at_version is not None:
                raise ValueError("pass at_version or at_ts, not both")
            at_version = self.version_at_ts(at_ts)
        manifest = (
            self.manifest_at(at_version) if at_version else self.current_manifest()
        )
        if not manifest or not manifest["buckets"]:
            return self._empty_state_frame()
        if at_version is None:
            self._adopt(manifest)
        # Column mapping: callers pass LOGICAL names (columns=, where=);
        # everything below — footers, stats, blooms, patch stamps —
        # lives in frozen PHYSICAL names. Translate the args here and
        # the output frame at the single return. Time travel uses the
        # manifest-at-version's own mapping, so each version reads
        # under the names it was committed with.
        mapping = self._column_mapping(manifest)
        if mapping:
            if columns is not None:
                columns = [mapping.get(c, c) for c in columns]
            if where:
                where = [(mapping.get(w[0], w[0]), *w[1:]) for w in where]
        # From here on, merge under the MANIFEST's patch config: time
        # travel across evolve_patch_cols must reduce the old snapshot
        # under the column set committed at that version.
        nb = manifest.get("num_buckets", self.num_buckets)
        lo_us = self._ts_micros(min_ts) if min_ts is not None else None
        _patch_now, _ = self._patch_conf(manifest)
        zone = (
            manifest.get("file_stats", {})
            if lo_us is not None and not _patch_now
            else {}
        )
        # read(where=...): conjunctive payload predicates on declared
        # stats columns. Chain-level skip only (see _where_skips_chain
        # for the exactness argument); the residual filter below
        # guarantees exactness regardless of what the skip catches.
        conjs = self._where_conjuncts(where) if where else None
        bloom_pos = (
            self._bloom_probe_positions(manifest, where, conjs)
            if conjs
            else None
        )
        probe = (
            probe_keys.select(self.bucket_by)
            .filter(_col(self.bucket_by).isNotNull())
            .distinct()
            if probe_keys is not None
            else None
        )

        # File selection, the one place a read picks its data files.
        # 1. The bucket set: key_eq's bucket when it pins bucket_by,
        #    else the probe's hits, else every bucket.
        pinned = bool(key_eq) and self.bucket_by in key_eq
        point = key_eq[self.bucket_by] if pinned else None
        if pinned:
            buckets = [str(self.bucket_of(point, nb))]
        elif probe is not None:
            if probe_buckets is not None and probe_buckets[1] == nb:
                # caller precomputed the probe's bucket set (pin_probe:
                # one job materializes the probe AND collects its
                # buckets) — skip this call's collect job. Guarded on
                # the bucket count it was computed under: a concurrent
                # rebucket invalidates it and we fall through to the
                # exact recollect.
                hit = probe_buckets[0]
            else:
                hit = [
                    r.b
                    for r in probe.select(
                        self._bucket_expr(_col(self.bucket_by), nb).alias("b")
                    )
                    .distinct()
                    .collect()
                ]
            buckets = [str(b) for b in sorted(int(b) for b in hit)]
        else:
            buckets = list(manifest["buckets"])
        # 2. Per chain: the whole-chain where-skip, then the min_ts
        #    zone-map prune, then (key_eq) key-range skipping — drop
        #    elements whose footer [min,max] key range provably
        #    excludes the probed key, so a key updated in 2 of 40
        #    deltas opens ~2 files, not the whole chain. Exact in every
        #    mode (it removes only OTHER keys' rows; patch carry-
        #    forward for this key is untouched). Unsigned byte-wise
        #    parquet bounds == Python code-point order for UTF-8, so
        #    the comparison is sound; unstatted paths are never pruned
        #    (fail-open).
        kz = (
            manifest.get("key_stats", {})
            if pinned and isinstance(point, str)
            else {}
        )
        chains = []
        for b in buckets:
            chain = self._paths_of(manifest, b)
            if conjs and self._where_skips_chain(
                chain, conjs, manifest, bool(_patch_now), bloom_pos
            ):
                continue
            chain = [
                p
                for p in chain
                if (p not in zone or zone[p][1] >= lo_us)
                and (p not in kz or kz[p][0] <= point <= kz[p][1])
            ]
            if chain:
                chains.append(chain)
        # 3. One scan. A prune miss reads a footer-typed empty frame
        #    (NOT the transcript sentinel — a re-keyed/evolved table's
        #    downstream selects would crash on the wrong schema); the
        #    pipeline below then shapes it like a non-empty read.
        paths = [p for c in chains for p in c]
        df = (
            self._read_bucket_paths(paths, conf_manifest=manifest)
            if paths
            else self._typed_empty_from_footer(manifest)
        )
        # 4. The probe's semi-join runs BEFORE the merge (exact, same
        #    argument as key_eq), whatever chose the buckets.
        if probe is not None:
            df = df.join(F.broadcast(probe), self.bucket_by, "left_semi")
        # 5. Merge depth = the longest chain actually read. Every writer
        #    reduces a chain level to one row per key, and buckets hold
        #    disjoint keys, so a read of one level per bucket needs no
        #    merge.
        depth = max(map(len, chains), default=1)
        # Null-key guard: quarantined (malformed) rows are stored as a
        # null-key group rather than pre-filtered before the shuffle
        # (see runner.apply_events_batch); they never surface in reads.
        df = df.filter(_col(self.keys[0]).isNotNull())
        for k, v in (key_eq or {}).items():
            df = df.filter(_col(k) == F.lit(v))
        conf = manifest
        if columns is not None:
            known = (
                set(df.columns)
                | set(manifest.get("schema_fields", []))
                | set(manifest.get("extra_fields", []))
            )
            unknown = [c for c in columns if c not in known]
            if unknown:
                raise ValueError(f"unknown columns: {unknown}")
            meta_req = [c for c in columns if c in META_COLS]
            if meta_req and not include_meta:
                raise ValueError(
                    f"meta columns {meta_req} require include_meta=True "
                    "(they would otherwise be silently dropped)"
                )
            kept_patch = [
                c
                for c in (_patch_now or [])
                if c in columns or any(w[0] == c for w in conjs or [])
            ]
            keep = list(dict.fromkeys(
                [*self.keys, *self.order_cols, "op", *columns]
                + [w[0] for w in conjs or []]
            ))
            keep += [PATCH_ORD_PREFIX + c for c in kept_patch]
            if EXTRAS_COL in df.columns and any(
                c in manifest.get("extra_fields", []) for c in columns
            ):
                keep.append(EXTRAS_COL)
            df = df.select(*[_col(c) for c in keep if c in df.columns])
            # merge under the PROJECTED patch set: per-column
            # independence makes dropping unrequested columns exact,
            # and alignment must not resurrect them as NULLs
            conf = {**manifest, "patch_cols": kept_patch}
        if depth > 1:
            df = self._reduce(df, self.keys, manifest=conf)
        else:
            # single-level chain: no reduction runs, but the output
            # schema must still carry evolved patch columns (typed
            # NULL for levels written before the evolution)
            df = align_stamps(df, self.order_cols, *self._patch_conf(conf))
        if lo_us is not None:
            # residual freshness filter on the WINNER's ts (pruning is
            # an optimization; this guarantees exactness either way)
            import datetime

            naive = datetime.datetime.fromtimestamp(
                lo_us / 1e6, datetime.timezone.utc
            ).replace(tzinfo=None)
            ts_col = self.order_cols[0]
            if ts_col in df.columns:
                df = df.filter(_col(ts_col) >= F.lit(naive))
        if not include_tombstones:
            df = df.filter(_col("op") != "delete")
        if not include_meta:
            df = self._drop_patch_meta(df.drop(*META_COLS), manifest=conf)
        df = self._extras_to_columns(df, manifest, columns)
        if conjs:
            # residual WHERE on the RESOLVED rows — chain skipping is
            # an optimization, this filter is what defines the result
            # (and guarantees exactness whatever the skip caught).
            import datetime as _dt

            for col, op, tag, val in conjs:
                if col not in df.columns:
                    raise ValueError(
                        f"where column {col!r} not in the read frame "
                        "(project it via columns=..., and declare it in "
                        "stats_cols for file skipping)"
                    )
                if tag == "ts":
                    val = _dt.datetime.fromtimestamp(
                        val / 1e6, _dt.timezone.utc
                    ).replace(tzinfo=None)
                c = _col(col)
                df = df.filter(
                    {
                        "=": c == F.lit(val),
                        "<": c < F.lit(val),
                        "<=": c <= F.lit(val),
                        ">": c > F.lit(val),
                        ">=": c >= F.lit(val),
                    }[op]
                )
        if columns is not None and not include_meta:
            out_cols = list(dict.fromkeys([*self.keys, *columns]))
            df = df.select(*[_col(c) for c in out_cols if c in df.columns])
        return self._to_logical_frame(df, mapping) if mapping else df

    def _guard_rollback_window(self, from_version: int, to_version: int) -> None:
        """Refuse incremental windows that cross a rollback restoring
        a version OLDER than the consumer's cursor: the consumer holds
        rows that were retracted wholesale, and a file-delta plan
        cannot see keys whose change IS the reversion to old files (it
        would mistake restored-old rows for late-losing replays). The
        consumer re-syncs from the restored version (or 0).
        Metadata-only scan; vacuumed intermediate manifests can't hide
        a rollback marker because vacuum keeps the CURRENT chain and a
        rollback IS a commit."""
        for v in range(from_version + 1, to_version + 1):
            try:
                rb = (self.manifest_at(v) or {}).get("rolled_back")
            except ValueError:
                continue  # vacuumed intermediate version
            if rb and from_version > int(rb["to"]):
                raise ValueError(
                    f"change feed from v{from_version} crosses a rollback "
                    f"(v{v} restored v{rb['to']}): the cursor lies inside "
                    "the rolled-back range — re-sync from "
                    f"v{rb['to']} or 0"
                )

    def _feed_window(
        self, from_version: int, to_version: int | None
    ) -> tuple[DataFrame, dict | None, dict | None, list[str]]:
        """The first step of every change feed (``changed_keys``,
        ``read_changes``): resolve the window ``(from, to]`` (``to``
        defaults to the current version; ``0`` is the empty version,
        not "current"), refuse a window across a rollback, and read the
        candidate rows — the non-null-key rows of the data files in
        ``to`` but not in ``from``. MOR appends only ever ADD files, so
        that is exactly the data written in between: O(changes), not
        O(table).

        Returns ``(cand, from_manifest, to_manifest, new_paths)``. An
        empty table yields the legacy sentinel frame and no paths.
        A metadata-only window (config evolution / vacuum) has no new
        paths and yields the TABLE's own typed schema (one stored
        footer), so an empty feed still type-checks downstream for any
        key/order layout."""
        if to_version is None:
            to_version = self.current_version()
        if to_version < from_version:
            raise ValueError("to_version must be >= from_version")
        to_manifest = self.manifest_at(to_version)
        if not to_manifest or not to_manifest["buckets"]:
            return self._empty_state_frame(), None, to_manifest, []
        from_manifest = (
            self.manifest_at(from_version) if from_version > 0 else None
        )
        self._guard_rollback_window(from_version, to_version)
        from_paths = set(self._all_paths(from_manifest)) if from_manifest else set()
        new_paths = [
            p for p in self._all_paths(to_manifest) if p not in from_paths
        ]
        if not new_paths:
            return (
                self._typed_empty_from_footer(to_manifest),
                from_manifest,
                to_manifest,
                [],
            )
        # ALTER TABLE lens of the TO version for every read in the
        # window: a default ADDed inside the window fills BOTH sides
        # identically (no spurious per-key change), a column dropped
        # inside it is absent from the whole feed
        cand = self._read_bucket_paths(
            new_paths, conf_manifest=to_manifest
        ).filter(_col(self.keys[0]).isNotNull())
        return cand, from_manifest, to_manifest, new_paths

    def _from_state(
        self, from_manifest: dict | None, to_manifest: dict, new_paths: list[str]
    ) -> DataFrame | None:
        """Non-null-key rows of the ``from`` state, bucket-pruned to the
        chains that got new files in the window and read under the
        ``to`` version's ALTER lens; ``None`` when there are none."""
        if not from_manifest:
            return None
        touched = {p.split(f"{BUCKET_COL}=")[-1] for p in new_paths}
        old_paths = [
            p
            for b in from_manifest["buckets"]
            if b in touched
            for p in self._paths_of(from_manifest, b)
        ]
        if not old_paths:
            return None
        return self._read_bucket_paths(
            old_paths, conf_manifest=to_manifest
        ).filter(_col(self.keys[0]).isNotNull())

    def changed_keys(
        self, from_version: int, to_version: int | None = None
    ) -> DataFrame:
        """Keys POSSIBLY changed between two committed versions: the
        distinct keys present in data files ADDED in the window. A
        SUPERSET of ``read_changes``' net-change key set (late-losing
        replays and rewritten-by-compaction rows included) at a
        fraction of the cost — no old-state read, no beats comparison,
        one column-pruned scan of O(new files).

        This is exactly the contract an affected-key recompute
        consumer needs (``pipeline.join_view``, ``pipeline.scd2_view``
        probes): re-deriving an unchanged key from current state is
        idempotent, so a superset costs only the extra recompute,
        never correctness. Consumers that must retract old
        contributions (``pipeline.agg_view``) still need the exact
        preimage feed."""
        cand = self._feed_window(from_version, to_version)[0]
        return cand.select(*self.keys).distinct()

    def read_changes(
        self,
        from_version: int | None = None,
        to_version: int | None = None,
        include_preimage: bool = False,
        since_ts: object | None = None,
        until_ts: object | None = None,
    ) -> DataFrame:
        """Column-mapping boundary for ``_read_changes_impl`` (see its
        docstring for the feed contract): physical storage names are
        translated to the ``to`` version's logical names, so a feed
        window SPANNING a rename is already consistent — physical
        names are frozen, every file in the window agrees.

        ``since_ts`` / ``until_ts`` — wall-clock window endpoints (the
        Delta CDF ``startingTimestamp``/``endingTimestamp`` shape):
        each resolves through ``version_at_ts`` to the version visible
        at that instant, then the feed is exactly the version window
        (changes committed AFTER ``since_ts``'s visible version, up to
        ``until_ts``'s). Mutually exclusive with the corresponding
        version argument. ``since_ts`` earlier than the first commit
        means "from the beginning" (version 0)."""
        if since_ts is not None:
            if from_version is not None:
                raise ValueError("pass from_version or since_ts, not both")
            try:
                from_version = self.version_at_ts(since_ts)
            except ValueError:
                from_version = 0  # before the first commit = full feed
        if until_ts is not None:
            if to_version is not None:
                raise ValueError("pass to_version or until_ts, not both")
            to_version = self.version_at_ts(until_ts)
        if from_version is None:
            raise ValueError("read_changes needs from_version or since_ts")
        window = self._feed_window(from_version, to_version)
        out = self._read_changes_impl(window, include_preimage)
        mapping = self._column_mapping(window[2])
        return self._to_logical_frame(out, mapping) if mapping else out

    def _read_changes_impl(
        self, window: tuple, include_preimage: bool = False
    ) -> DataFrame:
        """Incremental change feed — the "CDC out" twin of ``apply``:
        net row-level changes between two committed versions, one row
        per key whose winning record changed, carrying the new winner
        (``op = 'delete'`` = the key was tombstoned). The Iceberg
        incremental-scan / changelog analogue over the manifest log.

        Plan (incremental, not a snapshot diff):

        1. delta files in ``to`` but not in ``from`` → candidate rows
           (``window``, from ``_feed_window``);
        2. LWW-reduce candidates per key → candidate winners;
        3. read the ``from`` state of every bucket that got new files
           in the window (``_from_state``: bucket pruning only, no
           key filter), LWW-reduce it to old winners and left-join the
           candidate winners against ALL of them; a key whose old
           winner already beats or equals its candidate is a
           late-losing replay, NOT a net change;
        4. emit candidate winners that beat (or are new to) the old
           state.

        Compaction between the versions only *widens* step 1's
        candidate set (rewritten files carry old rows); step 3's
        equality check filters them out, so the result stays exact —
        at the cost of scanning the rewritten buckets. ``from_version
        = 0`` returns the whole ``to`` state as inserts/upserts.

        ``include_preimage=True`` adds a ``_change`` column and, for
        every changed key that EXISTED at ``from_version``, also emits
        the old winning row as ``_change = 'preimage'`` (new winners
        carry ``'postimage'``) — the Delta-CDF shape that lets a
        downstream consumer retract the old contribution and add the
        new one (e.g. ``pipeline.agg_view.IncrementalAggView``).
        Free by construction: step 3 already reduced the old winners
        for exactly these keys. Row-level tables only — a patch-mode
        feed's stamped levels have no single old "row" to retract.
        A window with no new files has a typed empty ``_change`` too.
        """
        cand, from_manifest, to_manifest, new_paths = window
        if not new_paths:
            if include_preimage:
                return cand.withColumn("_change", F.lit(None).cast("string"))
            return cand
        if self._patch_conf(to_manifest)[0]:
            if include_preimage:
                raise ValueError(
                    "include_preimage supports row-level tables only: a "
                    "patch-mode feed emits stamped column levels, not a "
                    "retractable old row"
                )
            return self._read_changes_patch(cand, from_manifest, to_manifest, new_paths)
        cand = lww_agg(cand, self.keys, self.order_cols)

        pre = None
        old = self._from_state(from_manifest, to_manifest, new_paths)
        if old is not None:
            old = lww_agg(old, self.keys, self.order_cols)
            # preimage needs the whole old row; the plain feed only
            # needs the order columns for the beats comparison
            old_cols = (
                [c for c in old.columns if c not in self.keys]
                if include_preimage
                else list(self.order_cols)
            )
            old = old.select(
                *self.keys,
                *[_col(c).alias(f"_old_{c}") for c in old_cols],
            )
            # identical inner field names on both sides — struct
            # comparison requires matching types including names
            new_ord = F.struct(*[_col(c).alias(c) for c in self.order_cols])
            old_ord = F.struct(*[_col(f"_old_{c}").alias(c) for c in self.order_cols])
            cand = cand.join(old, self.keys, "left").filter(
                _col(f"_old_{self.order_cols[0]}").isNull()
                | (new_ord > old_ord)
            )
            if include_preimage:
                pre = cand.filter(
                    _col(f"_old_{self.order_cols[0]}").isNotNull()
                ).select(
                    *self.keys,
                    *[_col(f"_old_{c}").alias(c) for c in old_cols],
                )
            cand = cand.drop(*[f"_old_{c}" for c in old_cols])

        out = self._extras_to_columns(cand.drop(BUCKET_COL), to_manifest)
        if not include_preimage:
            return out
        out = out.withColumn("_change", F.lit("postimage"))
        if pre is not None:
            out = out.unionByName(
                self._extras_to_columns(
                    pre.drop(BUCKET_COL), to_manifest
                ).withColumn("_change", F.lit("preimage"))
            )
        return out

    def _read_changes_patch(
        self,
        cand: DataFrame,
        from_manifest: dict | None,
        to_manifest: dict,
        new_paths: list[str],
    ) -> DataFrame:
        """Patch-mode change feed. The row-level order comparison of
        ``read_changes`` is wrong here: a new column-level winner can
        change the resolved row without beating the row-level winner
        (and a row-level late loser can change nothing). So instead:
        merge the candidate levels WITH the bucket-pruned ``from``
        state and emit keys whose resolved row differs (null-safe
        struct compare over the visible columns — keys only in the old
        state merge to themselves and drop out). Output rows carry
        their ``_po_<col>`` stamps, so the feed is itself a valid
        stamped level: applying it to a downstream patch-mode mirror
        reproduces this table's state exactly."""
        old_state = self._from_state(from_manifest, to_manifest, new_paths)
        if old_state is None:
            out = self._reduce(cand, self.keys, manifest=to_manifest)
        else:
            # reduce the FROM state under the config committed at
            # from_version (it may predate an evolve_patch_cols); the
            # union below aligns missing evolved columns / stamps to
            # NULL, which merged-side stamped slots beat
            old_state = self._reduce(old_state, self.keys, manifest=from_manifest)
            merged = self._reduce(
                cand.unionByName(old_state, allowMissingColumns=True),
                self.keys,
                manifest=to_manifest,
            )
            # a map is not comparable: compare it by its sorted entries
            vis = [
                (
                    F.array_sort(F.map_entries(_col(f.name)))
                    if isinstance(f.dataType, T.MapType)
                    else _col(f.name)
                ).alias(f.name)
                for f in merged.schema
                if not f.name.startswith(PATCH_ORD_PREFIX)
                and f.name not in self.keys
                and f.name != BUCKET_COL
            ]
            row = F.struct(*vis)
            # align the old state to merged's (possibly evolved)
            # schema: missing columns appear as typed NULLs
            old_aligned = old_state.unionByName(
                merged.limit(0), allowMissingColumns=True
            )
            old_cmp = old_aligned.select(*map(_col, self.keys), row.alias("_old_row"))
            out = (
                merged.join(old_cmp, self.keys, "left")
                .filter(
                    _col("_old_row").isNull()
                    | ~row.eqNullSafe(_col("_old_row"))
                )
                .drop("_old_row")
            )
        return self._extras_to_columns(out.drop(BUCKET_COL), to_manifest)

    def compact(
        self,
        drop_tombstones: bool = True,
        only_buckets: list[str] | None = None,
        tombstone_watermark: str | None = None,
        ts_bands: list[str] | int | None = None,
    ) -> dict:
        """Collapse delta chains (MOR) / coalesce small files (MOW):
        LWW-merge each targeted bucket's levels into one file set.
        ``drop_tombstones=True`` additionally removes delete markers —
        safe only once no replay can deliver events older than current
        state. With ``tombstone_watermark`` (an ISO timestamp string),
        only tombstones with ``ts < watermark`` are dropped — the
        event-time-watermark GC policy: keep recent tombstones so
        late/redelivered events inside the replay horizon still lose
        LWW against them, reclaim the rest. ``only_buckets`` compacts
        a subset (auto-compaction of deep chains) and leaves the rest
        untouched.

        Patch mode strengthens the ``drop_tombstones`` precondition: a
        tombstone row still carries the key's per-column history
        (carry-forward looks through deletes), so dropping it also
        forgets those column values — safe only if a deleted key is
        ever revived by a full restatement (insert), never by a
        partial patch. The MOR auto-compaction keeps tombstones.

        ``ts_bands`` — TIME-BANDED compaction: instead of one chain
        element per bucket spanning all history (which blinds the
        ``read(min_ts=)`` zone maps the moment maintenance runs), the
        reduced state is split by each key's WINNER timestamp into
        bands (``_band=i/_bucket=b`` layout) at the given ISO-string
        edges (or ``int`` n → deciles-style quantile edges computed
        with one ``percentile_approx`` pass). Exact by construction:
        the split happens AFTER the LWW/patch reduction, so every key
        lives in exactly one band and the read-side union-reduce over
        bands is the identity on it. A freshness read then opens only
        the recent bands — compaction stops costing you the prune.
        At 100 TB this is the hot/cold data layout: cold bands are
        written once and never scanned by freshness reads again."""
        manifest = self.current_manifest()
        if not manifest or not manifest["buckets"]:
            return {"skipped": True}
        self._adopt(manifest)
        t0 = time.time()
        target = sorted(
            set(only_buckets) if only_buckets else set(manifest["buckets"]), key=int
        )
        paths = [p for b in target for p in self._paths_of(manifest, b)]
        df = self._read_bucket_paths(paths)
        # bucket BEFORE the reduce (deterministic function of the key,
        # so adding it to the grouping keys is a no-op) — the fused
        # single-shuffle reduce+write path, same as apply
        df = df.withColumn(BUCKET_COL, self._bucket_expr())
        df = self._partitioned_reduce(df)
        if drop_tombstones:
            is_del = _col("op") == "delete"
            if tombstone_watermark is not None:
                df = df.filter(
                    ~(is_del & (_col("ts") < F.lit(tombstone_watermark).cast("timestamp")))
                )
            else:
                df = df.filter(~is_del)
        ts_col = self.order_cols[0]
        if ts_bands:
            if isinstance(ts_bands, int):
                if ts_bands < 2:
                    raise ValueError("ts_bands int must be >= 2")
                qs = [i / ts_bands for i in range(1, ts_bands)]
                micros = df.select(
                    F.unix_micros(_col(ts_col)).alias("_us")
                )
                edges_us = sorted(
                    set(
                        int(e)
                        for e in micros.agg(
                            F.percentile_approx("_us", qs, 10_000).alias("e")
                        ).collect()[0].e or []
                        if e is not None
                    )
                )
            else:
                edges_us = sorted(self._ts_micros(e) for e in ts_bands)
            band = F.lit(0)
            for e in edges_us:
                band = band + F.when(
                    F.unix_micros(_col(ts_col)) >= F.lit(e), 1
                ).otherwise(0)
            df = df.withColumn(BAND_COL, band)
        # flat layout: one chain element per bucket; banded: one per
        # (band, bucket)
        new = self._write_level(
            manifest, df, self._chains(manifest, drop=set(target)),
            {
                "compact": True,
                "buckets_compacted": len(target),
                "ts_bands": (len(edges_us) + 1) if ts_bands else None,
            },
            t0, banded=bool(ts_bands),
        )
        return {"version": new["version"], "buckets_compacted": len(target)}

    def maintain(
        self,
        max_chain: int = 8,
        base_delta_ratio: float = 4.0,
        tombstone_watermark: str | None = None,
    ) -> dict:
        """Size-tiered auto-maintenance (the policy layer over
        :meth:`compact` / :meth:`compact_minor`): for every bucket
        whose chain is deeper than ``max_chain``, choose

        * **minor** when the base dwarfs the deltas
          (``base_bytes > base_delta_ratio × delta_bytes``) — merging
          the deltas restores read amplification at O(deltas) cost and
          the big base is left untouched;
        * **major** otherwise — the base is small enough that a full
          collapse costs about the same and removes a level.

        Sizes come from a driver-side filesystem walk of the chain
        dirs (metadata, no Spark job). ``tombstone_watermark`` opts
        the MAJOR pass into watermark-gated tombstone GC (minor never
        drops tombstones — it cannot see all levels). This is the
        method a scheduler calls after every N batches; at 10^10
        events it keeps hot buckets at ~2 levels while cold big
        buckets never pay an O(table) rewrite just because they
        accumulated a few deltas."""
        manifest = self.current_manifest()
        if not manifest or not manifest["buckets"]:
            return {"skipped": True}
        self._adopt(manifest)

        def _bytes(rel_paths: list[str]) -> int:
            total = 0
            for rel in rel_paths:
                d = os.path.join(self.root, rel)
                if os.path.isdir(d):
                    for fn in os.listdir(d):
                        fp = os.path.join(d, fn)
                        if os.path.isfile(fp):
                            total += os.path.getsize(fp)
            return total

        minor_b: list[str] = []
        major_b: list[str] = []
        for b in manifest["buckets"]:
            chain = self._paths_of(manifest, b)
            if len(chain) <= max_chain:
                continue
            base, deltas = self._split_base(chain)
            if deltas and _bytes(base) > base_delta_ratio * max(
                _bytes(deltas), 1
            ):
                minor_b.append(b)
            else:
                major_b.append(b)
        out = {"minor_buckets": len(minor_b), "major_buckets": len(major_b)}
        if minor_b:
            out["minor"] = self.compact_minor(
                only_buckets=minor_b, min_delta_levels=1
            )
        if major_b:
            out["major"] = self.compact(
                drop_tombstones=tombstone_watermark is not None,
                only_buckets=major_b,
                tombstone_watermark=tombstone_watermark,
            )
        return out

    def compact_minor(
        self,
        only_buckets: list[str] | None = None,
        min_delta_levels: int = 2,
    ) -> dict:
        """MINOR compaction (LSM tiered-merge): collapse each targeted
        bucket's DELTA levels into one, leaving the base level(s)
        untouched on disk. Write cost is O(deltas), never O(table) —
        the distinction that matters at 10^10 events, where
        :meth:`compact` (major: rewrite the whole chain) re-pays the
        full bucket every maintenance cycle while the per-batch deltas
        it folds in are a sliver of it. Read amplification drops from
        chain-depth to ~2 (base + merged delta) at delta-sized cost.

        Base detection: every write lands under one ``data/vN``
        version dir, and a (major) compaction writes ALL its chain
        elements — including time bands — under a single version, so
        the base is the chain's leading run sharing the first
        element's version prefix; everything after it is per-batch
        deltas. On a never-compacted chain the oldest delta serves as
        the base (it is the largest survivor-carrier; merging the rest
        above it is the same win). Banded bases keep their bands — and
        their ``read(min_ts=)`` pruning — verbatim.

        Exactness: the reduction is the same closed LWW / stamped
        patch-merge every other path uses, and it is commutative, so
        merging ANY subset of levels and re-entering the chain is
        identity on the final state. Tombstones are always kept — a
        delta-level tombstone may mask a base-level row, so only a
        major compaction (which sees all levels) may drop them.

        ``min_delta_levels`` skips buckets with fewer deltas than
        that (nothing worth merging). Returns per-call metrics
        including rewritten vs untouched level counts.
        """
        manifest = self.current_manifest()
        if not manifest or not manifest["buckets"]:
            return {"skipped": True}
        self._adopt(manifest)
        t0 = time.time()
        target = sorted(
            set(only_buckets) if only_buckets else set(manifest["buckets"]),
            key=int,
        )
        base_of: dict[str, list[str]] = {}
        deltas_of: dict[str, list[str]] = {}
        for b in target:
            chain = self._paths_of(manifest, b)
            if not chain:
                continue
            base, deltas = self._split_base(chain)
            if len(deltas) >= min_delta_levels:
                base_of[b], deltas_of[b] = base, deltas
        if not deltas_of:
            return {"skipped": True, "reason": "no-chain-deep-enough"}
        df = self._read_bucket_paths(
            [p for ps in deltas_of.values() for p in ps]
        )
        df = df.withColumn(BUCKET_COL, self._bucket_expr())
        df = self._partitioned_reduce(df)
        # each merged bucket keeps its base, and its deltas become one
        # level on top of it
        keep = self._chains(manifest, drop=deltas_of)
        keep.update((b, base_of[b]) for b in sorted(deltas_of, key=int))
        out = {
            "buckets_compacted": len(deltas_of),
            "delta_levels_merged": sum(len(ps) for ps in deltas_of.values()),
            "base_levels_untouched": sum(len(ps) for ps in base_of.values()),
        }
        new = self._write_level(
            manifest, df, keep, {"compact_minor": True, **out}, t0
        )
        return {"version": new["version"], **out}

    def rebucket(self, new_num_buckets: int) -> dict:
        """Bucket-layout rescaling — the partition-spec-evolution
        analogue (Iceberg rewrites partitioning the same way: new
        spec, data rewritten under it, old snapshots keep the old
        layout). A table sized for 32 buckets that grows 100× needs
        wider buckets or every chain turns into a hot spot; pinning
        ``num_buckets`` forever was the round-2 gap.

        One manifest-committed full rewrite: the current state is
        LWW-collapsed (tombstones KEPT, so late replays inside the
        horizon still lose), re-hashed under the new bucket count, and
        committed as the next version. Everything else is preserved —
        the batch-id log (a replayed old batch stays a skip), extras/
        schema history, lineage. Old manifests keep their own
        ``num_buckets``, so time travel and key-pruned reads at
        pre-rebucket versions still open the right chains
        (``read`` prunes with the MANIFEST's bucket count).

        O(table) by design — this is scheduled maintenance, not a
        per-batch op; at 100 TB run it like a full compaction."""
        if new_num_buckets < 1:
            raise ValueError("new_num_buckets must be >= 1")
        manifest = self.current_manifest()
        if not manifest or not manifest["buckets"]:
            # nothing written yet: just adopt the new layout
            self.num_buckets = int(new_num_buckets)
            return {"skipped": True, "num_buckets": self.num_buckets}
        self._adopt(manifest)
        t0 = time.time()
        df = self._read_bucket_paths(self._all_paths(manifest))
        old_n = self.num_buckets
        self.num_buckets = int(new_num_buckets)
        try:
            # hash under the NEW layout before the reduce — the new
            # bucket is as much a function of the key as the old one,
            # so the fused single-shuffle path applies here too
            df = df.withColumn(BUCKET_COL, self._bucket_expr())
            df = self._partitioned_reduce(df)
            new = self._write_level(
                manifest, df, {},
                {
                    "rebucket": True,
                    "from_num_buckets": old_n,
                    "to_num_buckets": self.num_buckets,
                },
                t0, num_buckets=self.num_buckets,
            )
        except BaseException:
            # commit lost / write failed: the table is still on the old
            # layout — keep this writer consistent with it
            self.num_buckets = old_n
            raise
        return {
            "version": new["version"],
            "from_num_buckets": old_n,
            "to_num_buckets": self.num_buckets,
        }

    def restore_buckets(self, truth: DataFrame, only_buckets: list[int]) -> dict:
        """Targeted out-of-band-damage repair: replace the named
        buckets' chains with rows from ``truth`` — the authoritative
        REDUCED chain state (op + order cols + keys + payload, e.g.
        the LWW reduction of the replayable log, tombstones included
        so late replays inside the horizon still lose). The undamaged
        buckets' files are not read, let alone rewritten — their chain
        paths carry over into the new manifest version verbatim, so
        the commit is O(damaged buckets), not O(table). Pair with
        ``pipeline.reconcile.verify_and_repair`` (per-bucket checksum
        diff → this) for the pt-table-checksum-style reconcile loop.

        Row-level tables only: a patch-mode chain stores per-column
        stamp structs that an external truth frame does not carry —
        re-bootstrap a damaged patch table through the chunked
        snapshot path instead."""
        patch_cols, _ = self._patch_conf(self.current_manifest())
        if patch_cols:
            raise ValueError(
                "restore_buckets supports row-level tables only; "
                "re-bootstrap patch-mode tables via chunked snapshot"
            )
        manifest = self.current_manifest()
        if not manifest or not manifest["buckets"]:
            raise ValueError("nothing committed yet — nothing to restore")
        self._adopt(manifest)
        t0 = time.time()
        target = sorted({str(int(b)) for b in only_buckets}, key=int)
        if not target:
            return {"skipped": True}
        df = truth.withColumn(BUCKET_COL, self._bucket_expr()).filter(
            _col(BUCKET_COL).isin([int(b) for b in target])
        )
        # a targeted bucket with no truth rows is legitimately EMPTY
        # after the restore — it simply drops out of the manifest
        new = self._write_level(
            manifest, df, self._chains(manifest, drop=set(target)),
            {"restore": True, "buckets_restored": len(target)}, t0,
        )
        return {"version": new["version"], "buckets_restored": len(target)}

    def evolve_patch_cols(
        self, cols: dict[str, str], unchanged_marker: str | None = None
    ) -> dict:
        """Patch-column evolution — extend the set of columns merged
        with COLUMN-level LWW mid-stream (the patch-mode analogue of
        additive schema evolution; Iceberg's partition-spec-evolution
        shape: config is versioned in the manifest, data rewritten
        only when the old layout is semantically incompatible).

        ``cols`` maps column name → Spark DDL type (e.g. ``{"tool":
        "string"}``). Two cases, decided per column:

        - **Additive** (the column was never stored — e.g. a field that
          first appears mid-stream, typically discovered via the
          ``_extras`` map): METADATA-ONLY. No data is touched; stored
          levels lacking the column align to typed-NULL value + NULL
          stamp at merge time (``align_stamps``), which is exactly
          "never present yet". O(1) regardless of table size.
        - **Promotion** (the column exists in stored rows — as row-level
          payload, or inside ``_extras``): one manifest-committed
          rewrite. The current state is collapsed under the OLD config
          (row-level history is row-level — promotion must not change
          what already merged), promoted columns are stamped at each
          surviving row's own (order_cols) position — the position its
          value was last written — and extras-sourced columns are
          extracted from the map (and removed from it). From then on
          the column merges column-level; a pre-promotion value can
          never be resurrected by the promotion itself (N row-level
          applies already collapsed), and carry-forward/tombstone
          semantics match ``lww_patch`` exactly.

        A previously ROW-LEVEL table converting to patch mode passes
        its marker here (``unchanged_marker``); on an existing
        patch-mode table the marker must match (or be omitted).
        Idempotent: already-evolved columns are skipped."""
        manifest = self.current_manifest() or self._empty_manifest()
        self._adopt(manifest)
        _map = self._column_mapping(manifest)
        if _map:
            # patch config lives in physical name space
            cols = {_map.get(c, c): t for c, t in cols.items()}
        have = list(self.patch_cols or [])
        new = {c: t for c, t in cols.items() if c not in have}
        if not new:
            return {"skipped": True, "patch_cols": have}
        for c in new:
            if new[c].strip().lower().startswith("map"):
                raise ValueError(
                    f"map-typed columns cannot be patch columns: {c!r}"
                )
            if c in self.keys or c in self.order_cols or c == "op":
                raise ValueError(
                    f"key/order/op column {c!r} cannot be a patch column"
                )
        if self.patch_cols and unchanged_marker is not None and (
            unchanged_marker != self.unchanged_marker
        ):
            raise ValueError(
                "unchanged_marker conflicts with the table's committed "
                f"marker {self.unchanged_marker!r}"
            )
        marker = (
            self.unchanged_marker if self.patch_cols else unchanged_marker
        )
        stored = set(manifest.get("schema_fields", []))
        extras = set(manifest.get("extra_fields", []))
        promote = sorted(c for c in new if c in stored or c in extras)
        t0 = time.time()
        fields = {
            "patch_cols": sorted(set(have) | set(new)),
            "unchanged_marker": marker,
            "patch_types": {**self.patch_types, **new},
        }
        rows, keep = None, self._chains(manifest)
        if promote and manifest["buckets"]:
            # physical promotion rewrite: collapse under OLD config,
            # stamp promoted columns at the surviving rows' positions
            df = self._read_bucket_paths(self._all_paths(manifest))
            df = df.filter(_col(self.keys[0]).isNotNull())
            df = self._partitioned_reduce(
                df.withColumn(BUCKET_COL, self._bucket_expr()), manifest
            )
            if EXTRAS_COL in df.columns:
                from_extras = [c for c in promote if c not in df.columns]
                for c in from_extras:
                    df = df.withColumn(c, _col(EXTRAS_COL)[c].cast(new[c]))
                if from_extras:
                    df = df.withColumn(
                        EXTRAS_COL,
                        F.map_filter(
                            _col(EXTRAS_COL),
                            lambda k, _: ~k.isin(*[F.lit(c) for c in from_extras]),
                        ),
                    )
            missing = [c for c in promote if c not in df.columns]
            if missing:
                raise ValueError(
                    f"promoted columns absent from stored state: {missing}"
                )
            df = patch_stamp(
                df,
                self.order_cols,
                promote,
                marker,
                absent_if=_col("op") == "delete",
            )
            rows, keep = df, {}
            fields["schema_fields"] = sorted(
                (set(manifest["schema_fields"]) | set(df.columns)) - {BUCKET_COL}
            )
        committed = self._write_level(
            manifest, rows, keep,
            {"evolve_patch_cols": sorted(new), "promoted": promote},
            t0, **fields,
        )
        self._adopt(committed)
        return {
            "version": committed["version"],
            "patch_cols": committed["patch_cols"],
            "promoted": promote,
            "rewritten": rows is not None,
        }

    def rewrite(self, transform, where=None) -> dict:
        """Retroactive payload transform at rest — the backfill /
        redaction-rewrite maintenance op (ship a PII redactor months
        after ingest and apply it to everything already stored, while
        the stream keeps running).

        One manifest-committed rewrite, same protocol as ``rebucket``:
        current state LWW-collapsed by ``_partitioned_reduce``
        (tombstones KEPT — late replays inside the horizon still lose),
        ``transform`` applied and the rows committed as the next
        version, with one shuffle. The batch-id log survives, so a
        replayed pre-rewrite batch is still a skip; an event NEWER than
        a stored row's (ts, seq) still beats the transformed row,
        exactly as it would have beaten the original.

        ``transform`` is DataFrame → DataFrame over full table rows
        (meta and ``_bucket`` included) and must preserve the column
        set and the key / order / op / ``_bucket`` columns — payload
        columns only (a changed column set raises).
        ``where`` scopes the transform: matching rows are transformed,
        the rest pass through byte-identical.

        Time travel is immutable by design: ``read(at_version=old)``
        still sees pre-rewrite payloads — for compliance, follow with
        ``vacuum`` to expire the old versions (or use ``purge`` for
        key-level physical removal)."""
        manifest = self.current_manifest()
        if not manifest or not manifest["buckets"]:
            return {"skipped": True}
        self._adopt(manifest)
        t0 = time.time()
        df = self._read_bucket_paths(self._all_paths(manifest))
        df = self._partitioned_reduce(df.withColumn(BUCKET_COL, self._bucket_expr()))
        if where is not None:
            changed = transform(df.filter(where))
            kept = df.filter(~F.coalesce(where, F.lit(False)))
            out = kept.unionByName(changed)
        else:
            out = transform(df)
        if set(out.columns) != set(df.columns):
            raise ValueError(
                "rewrite transform must preserve the column set; got "
                f"{sorted(set(out.columns) ^ set(df.columns))} changed"
            )
        new = self._write_level(
            manifest, out, {}, {"rewrite": True, "scoped": where is not None}, t0
        )
        return {"version": new["version"], "rewritten": True}

    def retention_delete(
        self, older_than, batch_id: str | None = None
    ) -> dict:
        """Retention policy as LOGICAL deletes: synthesize a delete
        tombstone for every key whose current LWW winner sits strictly
        before ``older_than``, and apply it as one normal batch.
        Unlike :meth:`purge` (physical compliance erasure, history
        destroyed), the deletes are part of the log — the change feed
        shows them, mirrors and incremental views converge on the
        retained state, exactly-once bookkeeping is untouched, and
        time travel to pre-retention versions still works until
        ``vacuum``.

        Tombstone position: ``ts = older_than``, ``seq = -1``. It
        beats every expired winner (strictly greater ts) and loses to
        any real event AT or after the cutoff instant (a cutoff-ts
        event has ``seq > -1``), so late redeliveries older than the
        cutoff stay dead while a genuinely newer event resurrects the
        key — retention is a watermark, not a freeze.

        Idempotent: the default ``batch_id`` is derived from the
        cutoff, so re-running the same policy is a committed-batch
        skip. Deterministic: the synthesized batch is a pure function
        of (table state, cutoff). A periodic policy should pass an
        advancing cutoff (its natural shape); to re-apply one cutoff
        against keys that arrived AFTER the first run, pass an
        explicit fresh ``batch_id`` — the default deliberately
        prefers replay-safety over re-evaluation.

        Scale: one merged state read + one normal apply. The read
        cannot be zone-map pruned (an UPPER ts bound is inexact under
        LWW — a pruned newer winner would resurrect its key), so it is
        O(state), the same scan any full merge pays; the apply itself
        is O(expired keys).
        """
        ts_col = self.order_cols[0]
        cutoff = F.lit(older_than).cast("timestamp")
        state = self.read()
        expired = state.filter(_col(ts_col) < cutoff)
        tomb_cols: list = [*self.keys, F.lit("delete").alias("op")]
        for f in state.schema.fields:
            if f.name in self.keys or f.name == ts_col:
                continue
            tomb_cols.append(F.lit(None).cast(f.dataType).alias(f.name))
        tomb_cols.append(cutoff.alias(ts_col))
        for oc in self.order_cols[1:]:
            tomb_cols.append(F.lit(-1).cast("long").alias(oc))
        tomb = expired.select(*tomb_cols)
        bid = batch_id or f"retention<{older_than}"
        metrics = self.apply(tomb, bid)
        return {**metrics, "retention_cutoff": str(older_than)}

    def purge(
        self,
        key_eq: dict | None = None,
        where=None,
        expire_history: bool = True,
    ) -> dict:
        """Compliance delete (right-to-be-forgotten). A CDC delete is a
        *tombstone* — it wins LWW but the bytes stay on disk and in
        history. ``purge`` physically removes matching rows: the
        affected bucket chains are rewritten without them (every
        level, including tombstones and superseded versions of the
        key: the predicate drops rows BEFORE ``_partitioned_reduce``
        collapses each bucket to one level, with one shuffle), and
        with ``expire_history=True`` all prior snapshots are vacuumed,
        which deletes every data dir they referenced, so no retained
        file contains the data. A never-committed staging dir holding
        the rows (a crashed writer's) goes once older than
        ``ORPHAN_GRACE_SECONDS``; run ``remove_orphans(0)`` when no
        writer can be live. Time travel across the purge boundary is
        intentionally destroyed.

        ``key_eq`` — equality match on key columns; pinning
        ``bucket_by`` confines the rewrite to ONE bucket chain
        (O(chain), not O(table)). ``where`` — arbitrary Column
        predicate; rewrites every bucket. Exactly-once bookkeeping is
        preserved: committed batch ids stay in the manifest, so a
        replayed old batch that carried the purged rows is still a
        skip, not a resurrection. (A genuinely NEW batch re-inserting
        the key is out of scope — gate upstream.)

        Branch caveat: purge is PER BRANCH. Sibling branches keep
        referencing the shared pre-fork files (vacuum protects them),
        so full erasure requires purging every branch — or dropping
        them — before the history vacuum can reclaim the bytes.
        """
        if (key_eq is None) == (where is None):
            raise ValueError("pass exactly one of key_eq / where")
        manifest = self.current_manifest()
        if not manifest or not manifest["buckets"]:
            return {"skipped": True, "purged_rows": 0}
        self._adopt(manifest)
        t0 = time.time()
        if key_eq is not None:
            pred = None
            for k, v in key_eq.items():
                c = _col(k) == F.lit(v)
                pred = c if pred is None else (pred & c)
            if self.bucket_by in key_eq:
                target = [str(self.bucket_of(key_eq[self.bucket_by]))]
                target = [b for b in target if b in manifest["buckets"]]
            else:
                target = sorted(manifest["buckets"], key=int)
        else:
            pred = where
            target = sorted(manifest["buckets"], key=int)
        if not target:
            return {"skipped": True, "purged_rows": 0}

        paths = [p for b in target for p in self._paths_of(manifest, b)]
        obs = Observation(f"purge-{uuid.uuid4().hex[:8]}")
        mapping = self._column_mapping(manifest)
        df = self._read_bucket_paths(paths)
        if mapping:
            # the caller's predicate speaks logical names — evaluate it
            # on a logically-named view, translate back before the
            # (physical-name) reduce and rewrite
            df = self._to_logical_frame(df, mapping)
        df = df.observe(
            obs,
            F.sum(F.when(pred, 1).otherwise(0)).alias("purged_rows"),
        )
        kept = df.filter(~F.coalesce(pred, F.lit(False)))
        if mapping:
            kept = self._to_physical_frame(kept, mapping)
        # collapse to one level per bucket (tombstones preserved), so
        # the rewritten chain stays read-correct at depth 1
        kept = self._partitioned_reduce(
            kept.withColumn(BUCKET_COL, self._bucket_expr())
        )
        new = self._write_level(
            manifest, kept, self._chains(manifest, drop=set(target)),
            lambda seen, counts, buckets: {
                "purge": True,
                "purged_rows": int(seen.get("purged_rows") or 0),
                "buckets_rewritten": len(target),
            },
            t0, obs=obs,
        )
        out = {
            "version": new["version"],
            "purged_rows": new["applies"][-1]["purged_rows"],
            "buckets_rewritten": len(target),
        }
        if expire_history:
            out["vacuum"] = self.vacuum(keep_versions=1)
        return out

    # ---- maintenance ----------------------------------------------------

    @staticmethod
    def _bloom_pos_expr(col_expr, m: int, k: int):
        """The k bloom bit positions of a value as a JVM array
        expression — Kirsch-Mitzenmacher double hashing over TWO
        xxhash64 streams (``h1 + i*h2 mod m``; the second stream keys
        on an extra literal). Shared verbatim by the build job and the
        probe job, so hash-space agreement is by construction, not by
        a Python reimplementation of Spark's xxhash64."""
        # reduce each stream mod m BEFORE combining: (h1 + i·h2) mod m
        # == (h1 mod m + i·(h2 mod m)) mod m in exact arithmetic, and
        # the left side overflows int64 under ANSI mode while the
        # right side stays < (k+1)·m
        h1 = F.pmod(F.xxhash64(col_expr), F.lit(m))
        h2 = F.pmod(F.xxhash64(col_expr, F.lit(BLOOM_SEED)), F.lit(m))
        return F.array(
            *[F.pmod(h1 + F.lit(i) * h2, F.lit(m)) for i in range(k)]
        )

    def analyze_blooms(
        self,
        columns: list[str] | None = None,
        bits: int = 8192,
        hashes: int = 5,
    ) -> dict:
        """Build per-chain-element bloom filters for equality file
        skipping — the maintenance half of ``read(where=...)`` pruning
        (Iceberg's write-time bloom properties, run as a post-commit
        ANALYZE so ``apply`` keeps its 2-job floor).

        Min/max ``col_stats`` bounds cannot refute ``col = v`` on
        high-cardinality scattered columns (every element's range
        overlaps every probe). A bloom can: membership is recorded at
        build over every non-NULL value of the element, so an unset
        probe bit PROVES absence — no false negatives, and a false
        positive merely fails to prune (the residual filter defines
        the result either way; same fail-open exactness contract as
        the bounds).

        One Spark job scans only elements LACKING a bloom for a
        requested column (elements are immutable, so blooms never go
        stale; compaction's new elements are simply unbloomed until
        the next run). The collected state is metadata-sized by
        construction — ≤ ``bits`` distinct positions per (element,
        column), packed to ``bits/8`` bytes of base64 in the manifest.
        Publishing is a metadata-only commit (no data file touched;
        the version bump carries no new paths, so change-feed windows
        across it net to zero — the ``rollback``/config-commit shape).
        """
        cols = list(columns or self.stats_cols)
        if not cols:
            raise ValueError(
                "analyze_blooms needs columns (or declared stats_cols)"
            )
        if bits < 64 or bits % 8:
            raise ValueError("bits must be a multiple of 8, >= 64")
        manifest = self.current_manifest()
        if not manifest or not manifest["buckets"]:
            return {"skipped": True}
        self._adopt(manifest)
        existing = manifest.get("blooms", {})
        todo: list[tuple[str, list[str]]] = []
        for b in manifest["buckets"]:
            for p in self._paths_of(manifest, b):
                missing = [c for c in cols if c not in existing.get(p, {})]
                if missing:
                    todo.append((p, missing))
        if not todo:
            return {"skipped": True, "reason": "up-to-date"}
        t0 = time.time()
        frames = []
        dt_of: dict[tuple[str, str], str] = {}
        for p, missing in todo:
            try:
                fields = {f.name: f.dataType for f in self._path_schema(p).fields}
            except Exception:
                continue  # unreadable footer: fail-open, no bloom
            df = None
            for c in missing:
                if c not in fields:
                    continue
                dt = fields[c].simpleString()
                dt_of[(p, c)] = dt
                if df is None:
                    df = self.spark.read.schema(
                        self._path_schema(p)
                    ).parquet(os.path.join(self.root, p))
                frames.append(
                    df.filter(_col(c).isNotNull()).select(
                        F.lit(p).alias("_p"),
                        F.lit(c).alias("_c"),
                        F.explode(
                            self._bloom_pos_expr(_col(c), bits, hashes)
                        ).alias("_q"),
                    )
                )
        if not frames:
            return {"skipped": True, "reason": "no-readable-columns"}
        allpos = frames[0]
        for fr in frames[1:]:
            allpos = allpos.unionByName(fr)
        # ONE job; result is metadata-sized (≤ elements × cols × bits)
        rows = allpos.distinct().collect()
        import base64
        from collections import defaultdict

        sets: dict[tuple[str, str], set] = defaultdict(set)
        for r in rows:
            sets[(r["_p"], r["_c"])].add(int(r["_q"]))
        blooms = {p: dict(v) for p, v in existing.items()}
        # record every SCANNED (element, column) — an all-NULL column
        # yields zero positions, and its empty bitmap is the correct,
        # maximally-refuting bloom (no row can satisfy ``=``)
        for (p, c), dt in dt_of.items():
            ba = bytearray(bits // 8)
            for q in sets.get((p, c), ()):
                ba[q >> 3] |= 1 << (q & 7)
            blooms.setdefault(p, {})[c] = {
                "m": bits,
                "k": hashes,
                "dt": dt,
                "b64": base64.b64encode(bytes(ba)).decode(),
            }
        out = {
            "elements_bloomed": len(sets),
            "bits": bits,
            "hashes": hashes,
            "wall_sec": round(time.time() - t0, 3),
        }
        new = self._next_manifest(
            manifest, {"analyze_blooms": True, **out}, blooms=blooms
        )
        self._commit(new)
        self._adopt(new)
        return {"version": new["version"], **out}

    def _bloom_probe_positions(
        self, manifest: dict, where, conjs
    ) -> dict | None:
        """Probe positions for the read's ``=`` conjuncts under every
        bloom config present in the manifest — ONE local 1-row job
        (`spark.range(1)`), so build and probe hash in the same JVM
        space. Returns ``{(col, m, k, dt): [pos,...]}``; a literal the
        element dtype cannot represent (CAST → NULL) is dropped
        (fail-open — a null hash would fabricate refutations)."""
        blooms = manifest.get("blooms") or {}
        if not blooms or not conjs:
            return None
        raw_eq = {c: v for c, op, v in where if op == "="}
        configs: set[tuple[str, int, int, str]] = set()
        for d in blooms.values():
            for col, rec in d.items():
                if col in raw_eq:
                    configs.add((col, rec["m"], rec["k"], rec["dt"]))
        if not configs:
            return None
        keys = sorted(configs)
        exprs = []
        for i, (col, m, k, dt) in enumerate(keys):
            lit = F.lit(raw_eq[col]).cast(dt)
            exprs.append(
                F.when(lit.isNotNull(), self._bloom_pos_expr(lit, m, k))
                .alias(f"a{i}")
            )
        row = self.spark.range(1).select(*exprs).collect()[0]
        return {
            keys[i]: [int(q) for q in row[f"a{i}"]]
            for i in range(len(keys))
            if row[f"a{i}"] is not None
        }

    def vacuum(
        self,
        keep_versions: int = 1,
        protect_cursors: bool = True,
        older_than_ts: object | None = None,
    ) -> dict:
        """Expire old snapshots (the Iceberg ``expire_snapshots``
        analogue): delete manifest versions older than the newest
        ``keep_versions`` (at least 1, so the current version always
        stays; a smaller value raises before anything is touched) and,
        through ``_reclaim``, every data dir they alone referenced plus
        never-committed dirs older than ``ORPHAN_GRACE_SECONDS`` — a
        concurrent writer's staged level survives. Time travel remains
        possible to every retained version; anything older is gone
        for good (run only once replay/audit windows have passed).

        ``protect_cursors`` (default on) widens retention so no named
        change-feed cursor (``sinks/feed.FeedCursor``) is stranded:
        versions after the LAGGIEST committed cursor position are kept
        — ``read_changes(committed, ·)`` needs the committed version's
        manifest to diff against, so a consumer mid-backlog survives
        maintenance. Pass ``False`` to reclaim regardless (the
        stranded consumer must then ``reset``, the documented
        recovery).

        ``older_than_ts`` — age-based retention (the Iceberg
        ``expire_snapshots(older_than)`` shape): expire only versions
        whose commit stamp is older than the instant; everything
        committed at or after it is retained, however many versions
        that is. Resolves via ``version_at_ts``'s running-max stamps
        and composes with ``keep_versions`` / ``protect_cursors`` by
        WIDENING retention (the most conservative bound wins).

        Driver-side filesystem work only — no Spark job. Safe against
        a concurrent reader of a retained version because data files
        are immutable and only unreferenced ones are removed."""
        if keep_versions < 1:
            raise ValueError(f"keep_versions must be >= 1, got {keep_versions}")
        current = self.current_version()
        if current == 0:
            return {"removed_versions": 0, "removed_dirs": 0}
        if older_than_ts is not None:
            try:
                visible = self.version_at_ts(older_than_ts)
            except ValueError:
                visible = 0  # instant predates every commit: keep all
            # keep visible..current — the version visible AT the
            # instant is the oldest one an as-of read at or after it
            # can resolve to, so it must survive
            keep_versions = max(keep_versions, current - visible + 1)
        if protect_cursors:
            from .feed import cursors as _cursors

            positions = _cursors(self)
            if positions:
                laggiest = min(positions.values())
                if laggiest > 0:
                    # keep laggiest..current INCLUSIVE — the diff reads
                    # the committed version's own manifest
                    keep_versions = max(keep_versions, current - laggiest + 1)
        # tagged versions of THIS branch are pinned outside the keep
        # window (named immutable refs — the whole point of a tag is
        # surviving vacuum); other branches' tags point into manifest
        # chains this vacuum never touches
        tagged = {
            int(rec["version"])
            for rec in self.tags().values()
            if rec["branch"] == self.branch
        }
        # below the keep window only: a version committed concurrently,
        # after ``current`` was read, is never expired
        expire = {
            v
            for v in self._log.numbers()
            if v <= current - keep_versions and v not in tagged
        }
        return self._reclaim(self._foreign_branch_refs(), expire, ORPHAN_GRACE_SECONDS)

    def _reclaim(
        self, foreign: set[str], expire: set[int], grace_seconds: float
    ) -> dict:
        """THE deletion step of ``vacuum`` and ``remove_orphans``:
        delete the manifests of ``expire`` (versions of this branch),
        then every data level (bucket subdir) that no remaining
        manifest of this branch and no ``foreign`` path (every
        manifest of every other branch — zero-copy forks share pre-fork
        dirs) references, when an expired version referenced it or its
        mtime is older than ``grace_seconds`` — the Iceberg
        ``older_than`` discipline: a concurrent writer's staged level
        is unreferenced until its manifest commits, so "unreferenced"
        alone cannot tell it from an orphan. A version or band dir
        left with no level goes too, if it lost one here or is past
        the grace window (a live write holds only ``_temporary``).
        Tracking is per bucket subdir, not per version dir: a retained
        chain may point at some buckets of an old version dir, and
        purge() needs the others reclaimed."""
        referenced, expired = set(foreign), set()
        for v in self._log.numbers():
            m = self._log.read(v)
            if m is not None:
                (expired if v in expire else referenced).update(self._all_paths(m))
        removed_versions = 0
        for v in sorted(expire):
            try:
                os.unlink(self._log.path(v))
                removed_versions += 1
            except FileNotFoundError:
                pass  # a concurrent vacuum expired it first
        cutoff = time.time() - grace_seconds

        def _old(path: str) -> bool:
            try:
                return os.path.getmtime(path) < cutoff
            except OSError:
                return False

        def _sweep(rel: str) -> int:
            # levels sit at data/<dir>/_bucket=b, or one band deeper
            # (_band=i/_bucket=b) in the banded-compaction layout
            path, removed = os.path.join(self.root, rel), 0
            for sub in sorted(os.listdir(path)):
                child, full = f"{rel}/{sub}", os.path.join(path, sub)
                if sub.startswith(f"{BUCKET_COL}="):
                    if child not in referenced and (child in expired or _old(full)):
                        shutil.rmtree(full, ignore_errors=True)
                        removed += 1
                elif sub.startswith(f"{BAND_COL}=") and os.path.isdir(full):
                    removed += _sweep(child)
            levels = (f"{BUCKET_COL}=", f"{BAND_COL}=")
            if not any(s.startswith(levels) for s in os.listdir(path)) and (
                removed or _old(path)
            ):
                shutil.rmtree(path, ignore_errors=True)
            return removed

        data = os.path.join(self.root, "data")
        removed_dirs = sum(
            _sweep(f"data/{d}")
            for d in (sorted(os.listdir(data)) if os.path.isdir(data) else [])
            if os.path.isdir(os.path.join(data, d))
        )
        return {"removed_versions": removed_versions, "removed_dirs": removed_dirs}

    def remove_orphans(self, grace_seconds: float = ORPHAN_GRACE_SECONDS) -> dict:
        """Reclaim data directories referenced by NO manifest of ANY
        branch — the Iceberg ``remove_orphan_files`` analogue: the
        ``_reclaim`` step with no version expired, so every committed
        version (all branches) keeps reading bit-identically; only
        never-committed leftovers go. Orphans come from a losing OCC
        attempt's uniquely-named staging dir (see ``_data_rel`` — the
        loser re-stages under a new name, the old dir is never
        referenced) or a writer that died before its commit.

        ``grace_seconds``: only dirs untouched for the grace window are
        reclaimed — a CONCURRENT writer mid-apply has staged its dir
        but not yet won the manifest race (default
        ``ORPHAN_GRACE_SECONDS``, 5 min — far beyond a single apply's
        stage→commit gap; pass 0 only when no writer can be live).

        Driver-side filesystem metadata work only — no Spark job."""
        removed = self._reclaim(self._foreign_branch_refs(), set(), grace_seconds)
        return {"removed_dirs": removed["removed_dirs"]}
