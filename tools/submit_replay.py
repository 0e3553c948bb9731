"""spark-submit entry point: CDC replay job (the north-rule deployment
mode).

Usage (cluster)::

    python -c "from embulk_util_json_spark.ship import make_pyfiles_zip as z; print(z())"
    spark-submit --py-files /tmp/embulk_util_json_spark.zip \
        tools/submit_replay.py <segments_dir> <sink_root> [num_batches] [mode]

``segments_dir`` is a directory of seq-contiguous binlog segment
parquet files (``sources.generator.ensure_events_segments`` writes
one); each micro-batch reads exactly its group of segments through
``streaming.runner.replay_segments``, the path ``bench.py`` measures.

The script only uses the engine through the shipped package — no
repo-path assumptions — so it runs identically under YARN/K8s.
Prints one JSON line of replay metrics.
"""

import json
import sys
import time

from pyspark.sql import SparkSession


def main() -> None:
    segments_dir = sys.argv[1]
    sink_root = sys.argv[2]
    num_batches = int(sys.argv[3]) if len(sys.argv) > 3 else 4
    mode = sys.argv[4] if len(sys.argv) > 4 else "mor"

    spark = SparkSession.builder.appName("cdc-replay").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    from embulk_util_json_spark.sinks.snapshot import ParquetSnapshotSink
    from embulk_util_json_spark.streaming.runner import replay_segments

    sink = ParquetSnapshotSink(spark, sink_root, num_buckets=32, mode=mode)
    t0 = time.perf_counter()
    metrics = replay_segments(spark, segments_dir, sink, num_batches=num_batches)
    elapsed = time.perf_counter() - t0
    n = sum(m.get("change_rows", 0) for m in metrics)
    print(
        json.dumps(
            {
                "replay_sec": round(elapsed, 3),
                "events_applied": n,
                "batches": len(metrics),
                "final_rows": sink.read().count(),
                "mode": mode,
            }
        )
    )
    import sys as _sys
    import threading as _th

    _sys.stdout.flush()
    _t = _th.Thread(target=spark.stop, daemon=True)
    _t.start(); _t.join(timeout=60)
    if _t.is_alive():
        import os as _os

        _os._exit(0)  # hung JVM teardown must not stall the caller


if __name__ == "__main__":
    main()
