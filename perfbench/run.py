"""Benchmark entry point.

    python3 perfbench/run.py --workload trickle_read --seed 1 --seconds 20 --trace 0

Runs one workload of ``perfbench.workloads`` on ``local[nproc]`` in one
Spark session, from the root of a checkout of the repository. Set-up
(session start, input generation, warm-up) happens first; then the
workload's operations run for ``--seconds`` and every read result is
checked against an oracle. The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` — the
end-to-end metrics of ``BENCHMARK.json`` with ``--trace 0``, its
per-layer metrics with ``--trace 1``. The line before it holds the
host stamp, the share of CPU time the hypervisor stole during the loop
and the wall time of every operation.

End-to-end metrics (untraced runs), per workload:

- ``setup_s``: CPU seconds of session start + the median of three
  input generations + the warm-up, whose cost is the cold compile of
  the loop's plans.
- ``cpu_us_per_item``: the median over the loop's rounds of a round's
  CPU time per change event applied (CDC workloads; a round is one
  sink's applies and reads) or per document captured once by each
  engine (capture_docs; a round is one pass of each).

CPU time is that of this process, the JVM and its Python workers, net
of the hypervisor's steal (see ``perfbench.meter.Meter``).

Wall-clock throughput and latencies swing with the CPU time the
hypervisor steals from a shared 4-vCPU host (3-31 % within one hour,
halving throughput), beyond the 25 % bound a metric may have; CPU time per
item varies far less. So the untraced run prints throughput (change
events per second of summed ``apply`` wall, inline compaction included,
or documents per second of summed ``extract_parity`` wall) and the
wall-clock set-up time on its detail line, and the traced run reports per-layer medians (``sinks.snapshot.apply.p50_s``,
``sinks.snapshot.read.scan_s``, ``operators.capture.parity_s`` …). Runs
are too short for a tail percentile with ten samples beyond it.

Everything the run writes stays under ``.perfbench_work/`` (removed at
exit) and ``.perfbench_out/`` (the span dump of traced runs) in the
checkout. The exit code is non-zero when an output check failed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Input generations per run; ``setup_s`` counts their median.
SETUP_ROUNDS = 3
# The four layers whose self times must account for a CDC workload.
LAYERS = (
    "streaming.runner",
    "sinks.snapshot.apply",
    "sinks.snapshot.compact",
    "sinks.snapshot.read",
)
MB = 1 << 20


def parse_args(argv):
    from perfbench.workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def host_stamp(spark, work: str, seed: int, load_before) -> dict:
    import pyarrow
    import pyspark

    fs = "unknown"
    best = ""
    with open("/proc/mounts") as fh:
        for line in fh:
            _, mnt, kind = line.split()[:3]
            if work.startswith(mnt) and len(mnt) > len(best):
                best, fs = mnt, kind
    jvm = spark.sparkContext._jvm
    return {
        "nproc": os.cpu_count(),
        "load_before": load_before,
        "load_after": os.getloadavg(),
        "pyspark": pyspark.__version__,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "arrow": pyarrow.__version__,
        "scratch_fs": fs,
        "seed": seed,
    }


def start_spark(work: str, cores: int, event_log_dir: str | None):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Python workers import the engine from the checkout; temp files of
    # both processes stay in the run's scratch dir.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # the launcher JVM that spark-submit starts first
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    from pyspark.sql import SparkSession

    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.driver.memory", "2g")
        # C1 only: the tiered JIT keeps recompiling Spark's planner for
        # minutes, which no affordable warm-up outlasts; C1 settles
        # within the warm-up, so run-to-run spread stays inside bounds.
        .config(
            "spark.driver.extraJavaOptions",
            f"-Djava.io.tmpdir={tmp} -XX:TieredStopAtLevel=1 -XX:-UsePerfData",
        )
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "16m")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
    )
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", event_log_dir)
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark, timeout_s: float = 60) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    t = threading.Thread(target=spark.stop, daemon=True)
    t.start()
    t.join(timeout=timeout_s)
    if proc is None:
        return
    # The gateway exits when its stdin closes.
    proc.stdin.close()
    try:
        proc.wait(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def generate(workload, scratch: str) -> float:
    """Generate the workload's inputs into a fresh cache; seconds taken."""
    from perfbench.inputs import InputCache

    cache = InputCache(os.path.join(scratch, "inputs"))
    with workload.ctx.tracer.span("sources.generator"):
        workload.prepare(cache)
    return cache.gen_s


def end_to_end(tally, setup_s: float) -> tuple[dict, dict]:
    per_item = [cpu * 1e6 / items for cpu, items in tally.rounds]
    metrics = {
        "setup_s": (setup_s, "s"),
        "cpu_us_per_item": (statistics.median(per_item), "us"),
    }
    samples = {
        "throughput_per_s": tally.items / tally.items_s,
        "round_cpu_us_per_item": [round(x, 1) for x in per_item],
        "op_s": [round(x, 4) for x in tally.op_s],
        "scan_s": [round(x, 4) for x in tally.scan_s],
        "point_s": [round(x, 4) for x in tally.point_s],
    }
    return metrics, samples


def per_layer(tracer, groups, tally, gen_s: float) -> dict:
    from perfbench.tracing import GroupStats, job_busy_s

    spans = tracer.spans
    empty = GroupStats()

    def named(prefix):
        return [s for s in spans if s.name == prefix or s.name.startswith(prefix + ".")]

    def stat(prefix, attr):
        return sum(getattr(groups.get(s.group, empty), attr) for s in named(prefix))

    def med(prefix):
        xs = [s.dur for s in named(prefix)]
        return statistics.median(xs) if xs else 0.0

    apply = named("sinks.snapshot.apply")
    root = next(s for s in spans if s.name == "workload")
    bench_s = sum(spans[c].dur for c in root.children if spans[c].name.startswith("bench."))
    layer_self = sum(
        tracer.self_time(s)
        for s in spans
        if s.name.startswith(("operators.",) + LAYERS)
        and root.start <= s.start and s.end <= root.end
    )
    c = tally.counters
    cores = os.cpu_count()
    parity_s = med("operators.capture.parity")
    compute = c.get("compute_s_per_doc", 0.0)
    return {
        "sources.generator.gen_s": (gen_s, "s"),
        "streaming.runner.driver_s": (
            sum(tracer.self_time(s) for s in named("streaming.runner")),
            "s",
        ),
        "sources.events.parse_s": (sum(s.dur for s in named("sources.events.parse")), "s"),
        "sources.events.rows": (c.get("parse_rows", 0), "count"),
        "sinks.snapshot.apply.self_s": (sum(tracer.self_time(s) for s in apply), "s"),
        "sinks.snapshot.apply.p50_s": (med("sinks.snapshot.apply"), "s"),
        "sinks.snapshot.apply.driver_s": (
            sum(
                tracer.self_time(s) - job_busy_s(groups.get(s.group, empty), s.start, s.end)
                for s in apply
            ),
            "s",
        ),
        "sinks.snapshot.apply.jobs": (stat("sinks.snapshot.apply", "jobs"), "count"),
        "sinks.snapshot.apply.tasks": (stat("sinks.snapshot.apply", "tasks"), "count"),
        "sinks.snapshot.apply.task_cpu_s": (stat("sinks.snapshot.apply", "cpu_ns") / 1e9, "s"),
        "sinks.snapshot.apply.shuffle_write_mb": (
            stat("sinks.snapshot.apply", "shuffle_write_bytes") / MB,
            "MB",
        ),
        "sinks.snapshot.apply.spill_mb": (stat("sinks.snapshot.apply", "spill_bytes") / MB, "MB"),
        "sinks.snapshot.apply.change_rows": (c.get("change_rows", 0), "count"),
        "sinks.snapshot.apply.rows_written": (c.get("rows_written", 0), "count"),
        "sinks.snapshot.manifest_bytes": (c.get("manifest_bytes", 0), "bytes"),
        "sinks.snapshot.table_mb": (c.get("table_bytes", 0) / MB, "MB"),
        "sinks.snapshot.compact.s": (sum(s.dur for s in named("sinks.snapshot.compact")), "s"),
        "sinks.snapshot.compact.calls": (len(named("sinks.snapshot.compact")), "count"),
        "sinks.snapshot.compact.rewritten_mb": (
            stat("sinks.snapshot.compact", "output_bytes") / MB,
            "MB",
        ),
        "sinks.snapshot.compact.jobs": (stat("sinks.snapshot.compact", "jobs"), "count"),
        "sinks.snapshot.read.scan_s": (med("sinks.snapshot.read.scan"), "s"),
        "sinks.snapshot.read.point_s": (med("sinks.snapshot.read.point"), "s"),
        "sinks.snapshot.read.jobs": (stat("sinks.snapshot.read", "jobs"), "count"),
        "sinks.snapshot.read.tasks": (stat("sinks.snapshot.read", "tasks"), "count"),
        "sinks.snapshot.read.chain_depth": (c.get("chain_depth", 0), "count"),
        "sinks.snapshot.read.point_rows_scanned": (c.get("point_rows_scanned", 0), "count"),
        "sinks.snapshot.read.point_rows_returned": (c.get("point_rows_returned", 0), "count"),
        "operators.capture.parity_s": (parity_s, "s"),
        "operators.capture.typed_s": (med("operators.capture.typed"), "s"),
        "operators.capture.docs_out": (c.get("docs_out", 0), "count"),
        "operators.capture.errors": (c.get("capture_errors", 0), "count"),
        "operators.capture.parity_non_compute_s": (
            parity_s - compute * tally.items / max(len(tally.op_s), 1) / cores
            if parity_s
            else 0.0,
            "s",
        ),
        "functions.json_values.compute_s_per_doc": (compute, "s"),
        "trace.layer_coverage": (layer_self / (root.dur - bench_s), "ratio"),
        "trace.throughput_per_s": (tally.items / tally.items_s, "1/s"),
    }


def run(args) -> tuple[dict, dict]:
    """One benchmark run in its own session and scratch dir; returns
    (result line, detail line)."""
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    log_dir = os.path.join(work, "eventlog") if args.trace else None
    from perfbench.meter import Meter

    spark = None
    try:
        meter = Meter()
        spark = start_spark(work, os.cpu_count(), log_dir)
        return run_in_session(spark, args, work, log_dir, meter.read())
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


def run_in_session(spark, args, work: str, log_dir, session: tuple, sizes=None):
    """The run after session start; ``session`` is its ``Meter`` reading."""
    from perfbench.meter import Meter
    from perfbench.tracing import Tracer, event_log_file, read_event_log
    from perfbench.workloads import WORKLOADS, Ctx, Sizes

    load_before = os.getloadavg()
    # Generation runs once per round into a fresh cache, and the last
    # round's inputs are kept. The warm-up runs once: its cost is the
    # cold compile of every plan the loop will run.
    ctx = Ctx(spark, Tracer(), work, args.seed, sizes or Sizes(), os.cpu_count())
    workload = WORKLOADS[args.workload](ctx)
    gens = []
    for i in range(SETUP_ROUNDS):
        meter = Meter()
        generate(workload, os.path.join(work, f"setup-{i}"))
        gens.append(meter.read())
        if i:
            shutil.rmtree(os.path.join(work, f"setup-{i - 1}"), ignore_errors=True)
    meter = Meter()
    workload.warm_up(os.path.join(work, "warm"))
    warm = meter.read()
    gen = [statistics.median(g[k] for g in gens) for k in (0, 1)]
    setup_wall_s = session[0] + gen[0] + warm[0]
    setup_cpu_s = session[1] + gen[1] + warm[1]

    tracer = Tracer(spark.sparkContext if args.trace else None)
    workload.ctx.tracer = tracer
    meter = Meter()
    tally = workload.measure(args.seconds)
    _, _, steal_share = meter.read()
    stamp = host_stamp(spark, work, args.seed, load_before)
    if args.trace:
        workload.trace_probe()
        # The probe's last action ended a job, which flushed the log.
        groups = read_event_log(event_log_file(log_dir))
        metrics = per_layer(tracer, groups, tally, gen[0])
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        tracer.dump(os.path.join(out_dir, f"spans-{args.workload}-s{args.seed}.jsonl"))
        samples = {}
    else:
        metrics, samples = end_to_end(tally, setup_cpu_s)
    detail = {
        "workload": args.workload,
        "host": stamp,
        "samples": samples,
        "setup_wall_s": setup_wall_s,
        "session_start_s": session[0],
        "gen_s": [g[0] for g in gens],
        "warm_up_s": warm[0],
        "steal_share": steal_share,
    }
    result = {
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return result, detail


def main(argv=None) -> int:
    args = parse_args(argv)
    # Fail before starting Spark when the engine is not in the checkout.
    import embulk_util_json_spark  # noqa: F401

    result, detail = run(args)
    print(json.dumps(detail))
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    # Import the benchmark as a package from the checkout root, never
    # its modules by bare name from this directory.
    sys.path[0] = ROOT
    sys.exit(main())
