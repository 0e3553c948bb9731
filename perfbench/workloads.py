"""The benchmark's workloads, driven only through the engine's public
functions.

Each workload generates its inputs (``prepare``), runs a small untimed
pass over the same code paths (``warm_up``), then runs its operations
in a closed loop — one client, the next operation after the previous
returns — until ``seconds`` have passed (``measure``), and checks what
it read against an oracle (``verify``). Timed operations run inside
tracer spans named after the engine layer they call into; everything
the benchmark does for itself between them (oracle checks, manifest
probes) runs in ``bench.*`` spans or after the loop.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

import pyarrow.parquet as pq

from perfbench import oracle
from perfbench.inputs import CAPTURE_COLUMNS, CAPTURE_POINTERS, InputCache
from perfbench.meter import Meter
from perfbench.tracing import Tracer

# The generator sends 20 % of all events to conversation 0.
HOT_CONV = "c000000"


@dataclass(frozen=True)
class Sizes:
    bulk_events: int = 200_000
    bulk_batches: int = 4
    bulk_buckets: int = 32
    trickle_events: int = 24_000
    trickle_segments: int = 6
    trickle_read_every: int = 3
    trickle_buckets: int = 8
    trickle_compact_every: int = 3
    docs: int = 30_000
    warm_events: int = 16_000
    compute_sample_docs: int = 2_000


@dataclass
class Tally:
    """What one measured loop did. ``items``/``items_s`` give the
    throughput (change events or documents over the summed wall of the
    operations that processed them); ``rounds`` holds each round's net
    CPU seconds and items."""

    items: int = 0
    items_s: float = 0.0
    op_s: list[float] = field(default_factory=list)
    scan_s: list[float] = field(default_factory=list)
    point_s: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    counters: dict[str, float] = field(default_factory=dict)
    rounds: list[tuple[float, int]] = field(default_factory=list)

    def round_done(self, meter: Meter, items: int) -> None:
        self.rounds.append((meter.read()[1], items))


@dataclass
class Ctx:
    spark: object
    tracer: Tracer
    work: str
    seed: int
    sizes: Sizes
    cores: int


def _elapsed(t0: float) -> float:
    return time.perf_counter() - t0


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def _parquet_rows(path: str) -> int:
    """Rows in every parquet file under ``path`` (footer counts)."""
    return sum(
        pq.read_metadata(os.path.join(d, f)).num_rows
        for d, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )


class CdcWorkload:
    """Shared by the two change-event workloads: an instrumented MOR
    sink, timed reads, and the LWW check."""

    name = ""

    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx
        self.tally = Tally()
        # (applied segment count, read kind, Arrow result) for verify
        self.reads: list[tuple[int, str, object]] = []

    def _segments_of(self, events_dir: str) -> list[str]:
        return sorted(
            os.path.join(events_dir, f)
            for f in os.listdir(events_dir)
            if f.endswith(".parquet") and not f.startswith(".")
        )

    def _sink(self, root: str, buckets: int, compact_every: int = 16, tally: Tally | None = None):
        from embulk_util_json_spark.sinks.snapshot import ParquetSnapshotSink

        sink = ParquetSnapshotSink(
            self.ctx.spark, root, num_buckets=buckets, mode="mor", compact_every=compact_every
        )
        if tally is None:
            return sink
        tracer = self.ctx.tracer
        apply = tracer.wrap("sinks.snapshot.apply", sink.apply)

        def timed_apply(changes, batch_id):
            t0 = time.perf_counter()
            result = apply(changes, batch_id)
            dt = _elapsed(t0)
            tally.op_s.append(dt)
            tally.items += int(result["change_rows"])
            tally.items_s += dt
            tally.attempted += 1
            c = tally.counters
            c["change_rows"] = c.get("change_rows", 0) + int(result["change_rows"])
            c["rows_written"] = c.get("rows_written", 0) + sum(
                (result.get("rows_per_bucket") or {}).values()
            )
            return result

        # ``apply`` calls ``self.compact`` for inline compaction, so the
        # instance attribute puts that call in its own span as well.
        sink.apply = timed_apply
        sink.compact = tracer.wrap("sinks.snapshot.compact", sink.compact)
        return sink

    def _read(self, sink, kind: str, applied: int, **kw):
        """One timed read, collected to this process as Arrow."""
        t0 = time.perf_counter()
        with self.ctx.tracer.span(f"sinks.snapshot.read.{kind}"):
            table = sink.read(**kw).toArrow()
        (self.tally.scan_s if kind == "scan" else self.tally.point_s).append(_elapsed(t0))
        self.tally.attempted += 1
        self.reads.append((applied, kind, table))
        return table

    def _probe(self, sink) -> None:
        """Chain depth and hot-bucket chain size at this read."""
        with self.ctx.tracer.span("bench.probe"):
            m = sink.current_manifest()
            chains = [v if isinstance(v, list) else [v] for v in m["buckets"].values()]
            c = self.tally.counters
            c["chain_depth"] = max(c.get("chain_depth", 0), max(map(len, chains), default=0))
            hot = m["buckets"].get(str(sink.bucket_of(HOT_CONV)), [])
            hot = hot if isinstance(hot, list) else [hot]
            c["point_rows_scanned"] = sum(
                _parquet_rows(os.path.join(sink.root, p)) for p in hot
            )

    def _finish(self, sink) -> None:
        c = self.tally.counters
        c["table_bytes"] = _dir_bytes(sink.root)
        manifests = os.path.join(sink.root, "_manifests")
        latest = max(f for f in os.listdir(manifests) if f.endswith(".json"))
        c["manifest_bytes"] = os.path.getsize(os.path.join(manifests, latest))

    def verify(self, segments: list[str]) -> None:
        """Each read against LWW over the segments applied before it."""
        lww = oracle.LwwOracle()
        added = 0
        expected: dict[tuple[int, str], list[tuple]] = {}
        for applied, kind, table in sorted(self.reads, key=lambda r: r[0]):
            while added < applied:
                lww.add_segment(segments[added])
                added += 1
            if (applied, kind) not in expected:
                expected[applied, kind] = lww.expected(HOT_CONV if kind == "point" else None)
            if not oracle.check_cdc(table, expected[applied, kind]):
                self.tally.failed += 1
            if kind == "point":
                self.tally.counters["point_rows_returned"] = table.num_rows

    def parse_probe(self, groups: list[list[str]]) -> None:
        """Traced runs only: the envelope parse alone, as a ``noop``
        write over the same batches the workload applied."""
        from embulk_util_json_spark.sources.events import parse_change_events_single_pass
        from embulk_util_json_spark.streaming.runner import EVENTS_SCHEMA

        spark = self.ctx.spark
        rows = 0
        for files in groups:
            batch = spark.read.schema(EVENTS_SCHEMA).parquet(*files)
            with self.ctx.tracer.span("sources.events.parse"):
                parse_change_events_single_pass(batch).write.format("noop").mode(
                    "overwrite"
                ).save()
            rows += sum(pq.read_metadata(f).num_rows for f in files)
        self.tally.counters["parse_rows"] = rows


class ReplayBulk(CdcWorkload):
    """Repeated full replays: ``replay_segments`` in a few large
    micro-batches into a fresh 32-bucket MOR sink, then one full read.

    Not in ``BENCHMARK.json``: on a 4-vCPU host one replay of
    ``bulk_events`` takes over ten seconds, too long for the benchmark's
    per-run budget next to the other two workloads. Run it by name."""

    name = "replay_bulk"

    def prepare(self, cache: InputCache) -> None:
        s, seed = self.ctx.sizes, self.ctx.seed
        # cores files per batch: one parse task per core
        segments = s.bulk_batches * self.ctx.cores
        self.events_dir = cache.cdc_segments(self.name, seed, s.bulk_events, segments)
        self.warm_dir = cache.cdc_segments("warm", seed, s.warm_events, 2 * self.ctx.cores)

    def warm_up(self, scratch: str) -> None:
        from embulk_util_json_spark.streaming.runner import replay_segments

        sink = self._sink(os.path.join(scratch, "warm-sink"), self.ctx.sizes.bulk_buckets)
        replay_segments(self.ctx.spark, self.warm_dir, sink, num_batches=2)
        sink.read().toArrow()

    def measure(self, seconds: float) -> Tally:
        from embulk_util_json_spark.streaming.runner import replay_segments

        spark, tracer = self.ctx.spark, self.ctx.tracer
        segments = self._segments_of(self.events_dir)
        sinks = []
        t0 = time.perf_counter()
        with tracer.span("workload"):
            while not sinks or _elapsed(t0) < seconds:
                sink = self._sink(
                    os.path.join(self.ctx.work, f"bulk-{len(sinks)}"),
                    self.ctx.sizes.bulk_buckets,
                    tally=self.tally,
                )
                sinks.append(sink)
                meter, items0 = Meter(), self.tally.items
                with tracer.span("streaming.runner"):
                    replay_segments(
                        spark, self.events_dir, sink, num_batches=self.ctx.sizes.bulk_batches
                    )
                self._read(sink, "scan", len(segments))
                self._probe(sink)
                self.tally.round_done(meter, self.tally.items - items0)
        self.sink = sinks[-1]
        self._finish(self.sink)
        self.verify(segments)
        for sink in sinks[:-1]:
            shutil.rmtree(sink.root, ignore_errors=True)
        return self.tally

    def trace_probe(self) -> None:
        segments = self._segments_of(self.events_dir)
        per = len(segments) // self.ctx.sizes.bulk_batches
        self.parse_probe([segments[i : i + per] for i in range(0, len(segments), per)])


class TrickleRead(CdcWorkload):
    """Rounds of small applies with ``apply_events_batch``, one segment
    each, into a fresh sink; after every few applies a point read of the
    hot key and a full scan. Every round applies the same segments, so
    each run repeats one fixed mix of applies, compactions and reads."""

    name = "trickle_read"

    def prepare(self, cache: InputCache) -> None:
        s = self.ctx.sizes
        self.events_dir = cache.cdc_segments(
            self.name, self.ctx.seed, s.trickle_events, s.trickle_segments
        )

    def _round(self, sink, segments: list[str]) -> None:
        """Apply ``segments`` in order, reading after every few and
        after the last."""
        from embulk_util_json_spark.streaming.runner import EVENTS_SCHEMA, apply_events_batch

        spark, tracer, s = self.ctx.spark, self.ctx.tracer, self.ctx.sizes
        for applied, seg in enumerate(segments, 1):
            with tracer.span("streaming.runner"):
                batch = spark.read.schema(EVENTS_SCHEMA).parquet(seg)
                apply_events_batch(batch, sink, os.path.basename(seg))
            if applied % s.trickle_read_every == 0 or applied == len(segments):
                self._read(sink, "point", applied, key_eq={"conv_id": HOT_CONV})
                self._read(sink, "scan", applied)
                self._probe(sink)

    def warm_up(self, scratch: str) -> None:
        """One whole round, untimed: a shorter one left the first timed
        round about 10 % dearer in CPU than the rounds after it."""
        s = self.ctx.sizes
        sink = self._sink(os.path.join(scratch, "warm-sink"), s.trickle_buckets, s.trickle_compact_every)
        self._round(sink, self._segments_of(self.events_dir))
        self.tally, self.reads = Tally(), []

    def measure(self, seconds: float) -> Tally:
        s = self.ctx.sizes
        rounds = 0
        t0 = time.perf_counter()
        with self.ctx.tracer.span("workload"):
            while not rounds or _elapsed(t0) < seconds:
                sink = self._sink(
                    os.path.join(self.ctx.work, f"trickle-{rounds}"),
                    s.trickle_buckets,
                    compact_every=s.trickle_compact_every,
                    tally=self.tally,
                )
                rounds += 1
                meter, items0 = Meter(), self.tally.items
                self._round(sink, self._segments_of(self.events_dir))
                self.tally.round_done(meter, self.tally.items - items0)
        self.sink = sink
        self._finish(sink)
        self.verify(self._segments_of(self.events_dir))
        for r in range(rounds - 1):
            shutil.rmtree(os.path.join(self.ctx.work, f"trickle-{r}"), ignore_errors=True)
        return self.tally

    def trace_probe(self) -> None:
        self.parse_probe([[seg] for seg in self._segments_of(self.events_dir)])


class CaptureDocs:
    """Rounds of the 7-pointer capture over the document table: one pass
    of ``extract_parity`` (the pure-Python engine), then one of
    ``capture_typed`` (pruned ``from_json``), each to a ``noop`` sink."""

    name = "capture_docs"

    def __init__(self, ctx: Ctx) -> None:
        from embulk_util_json_spark.plans.capture_spec import CaptureSpec

        self.ctx = ctx
        self.tally = Tally()
        self.spec = CaptureSpec.compile(CAPTURE_POINTERS, CAPTURE_COLUMNS)

    def prepare(self, cache: InputCache) -> None:
        self.docs_path = cache.capture_docs(
            self.name, self.ctx.seed, self.ctx.sizes.docs, self.ctx.cores
        )

    def _parity(self, df):
        from embulk_util_json_spark.operators.capture import extract_parity

        return extract_parity(df, "doc", self.spec)

    def _typed(self, df):
        from embulk_util_json_spark.operators.capture import capture_typed

        return capture_typed(df, "doc", self.spec)

    def warm_up(self, scratch: str) -> None:
        """Passes over the real documents: every Python worker starts,
        and the JIT sees each plan several times before timing."""
        df = self.ctx.spark.read.parquet(self.docs_path)
        self._parity(df).write.format("noop").mode("overwrite").save()
        for _ in range(2):
            self._typed(df).write.format("noop").mode("overwrite").save()

    def measure(self, seconds: float) -> Tally:
        tracer, t = self.ctx.tracer, self.tally
        df = self.ctx.spark.read.parquet(self.docs_path)
        n_docs = self.ctx.sizes.docs
        t0 = time.perf_counter()
        with tracer.span("workload"):
            while not t.op_s or _elapsed(t0) < seconds:
                meter = Meter()
                t1 = time.perf_counter()
                with tracer.span("operators.capture.parity"):
                    self._parity(df).write.format("noop").mode("overwrite").save()
                dt = _elapsed(t1)
                t.op_s.append(dt)
                t.items += n_docs
                t.items_s += dt
                t1 = time.perf_counter()
                with tracer.span("operators.capture.typed"):
                    self._typed(df).write.format("noop").mode("overwrite").save()
                t.scan_s.append(_elapsed(t1))
                t.attempted += 2
                t.round_done(meter, n_docs)
        self.verify(df)
        return t

    def verify(self, df) -> None:
        """One more pass of each engine, collected and checked."""
        from embulk_util_json_spark.operators.capture import DOC_SEQ_COL, ERROR_COL

        src = pq.read_table(self.docs_path)
        ids, docs = src.column("doc_id").to_pylist(), src.column("doc").to_pylist()
        parity = self._parity(df).toArrow()
        typed = self._typed(df).toArrow()
        self.tally.attempted += 2
        got = oracle.parity_rows(parity, CAPTURE_COLUMNS, DOC_SEQ_COL, ERROR_COL)
        if oracle.digest(got) != oracle.digest(oracle.expected_parity(ids, docs, CAPTURE_POINTERS)):
            self.tally.failed += 1
        want = oracle.expected_typed(ids, docs, CAPTURE_POINTERS)
        got = oracle.typed_rows(typed, {r[0]: r for r in want}, CAPTURE_COLUMNS)
        if oracle.digest(got) != oracle.digest(want):
            self.tally.failed += 1
        c = self.tally.counters
        c["docs_out"] = parity.num_rows
        c["capture_errors"] = parity.num_rows - parity.column(ERROR_COL).null_count

    def trace_probe(self) -> None:
        """Single-thread, in-process cost of the parity engine's per-cell
        work (split, capture, encode) over a fixed sample."""
        from embulk_util_json_spark.functions import json_values as jv

        n = self.ctx.sizes.compute_sample_docs
        texts = pq.read_table(self.docs_path).column("doc").to_pylist()[:n]
        tree, options = self.spec.tree, self.spec.options
        t0 = time.perf_counter()
        for text in texts:
            for doc in jv.iter_documents(text, options):
                [
                    None if c is jv.MISSING else jv.encode(c, options.with_literals)
                    for c in jv.capture(doc, tree)
                ]
        self.tally.counters["compute_s_per_doc"] = _elapsed(t0) / len(texts)


WORKLOADS = {w.name: w for w in (ReplayBulk, TrickleRead, CaptureDocs)}
