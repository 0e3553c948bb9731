"""Declarative ingest facade (``embulk_util_json_spark/ingest.py``).

Contract under test: one plain-dict config (the Embulk-YAML analogue)
wires source × transport × dialect × merge × sink into the same
exactly-once apply path the components expose individually — bad
configs fail loud before any data moves, batching is seq-contiguous
and idempotent, and every dialect/transport combination lands the
identical final state.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from embulk_util_json_spark.ingest import build_parse_fn, run_ingest

MARKER = "__unchanged__"

NATIVE = [
    (1, '{"op":"insert","ts":"2024-03-01 10:00:00.1","data":{"conv_id":"c1","turn_idx":0,"role":"u","text":"a","tool":null}}'),
    (2, '{"op":"update","ts":"2024-03-01 10:00:01.2","data":{"conv_id":"c1","turn_idx":0,"role":"u","text":"b","tool":"s"}}'),
    (3, '{"op":"insert","ts":"2024-03-01 10:00:02.3","data":{"conv_id":"c2","turn_idx":1,"role":"a","text":"c","tool":null}}'),
    (4, '{"op":"delete","ts":"2024-03-01 10:00:03.4","data":{"conv_id":"c2","turn_idx":1,"role":null,"text":null,"tool":null}}'),
]


def _native(spark):
    return spark.createDataFrame(NATIVE, "seq long, event_json string")


def _expect_final():
    return {("c1", 0, "b")}


def test_validation_fails_loud():
    for cfg, frag in [
        ({}, "in.type"),
        ({"in": {"type": "jsonl"}}, "in.path"),
        ({"in": {"type": "jsonl", "path": "/x", "format": "bson"}}, "in.format"),
        ({"in": {"type": "jsonl", "path": "/x"}}, "out.root"),
        ({"in": {"type": "jsonl", "path": "/x"}, "out": {"root": "/y"},
          "merge": {"mode": "append"}}, "merge.mode"),
        ({"in": {"type": "jsonl", "path": "/x", "format": "mongo_patch"},
          "out": {"root": "/y"}}, "merge.patch"),
        ({"in": {"type": "jsonl", "path": "/x", "format": "mongo_patch"},
          "out": {"root": "/y"},
          "merge": {"patch": {"cols": ["a"], "marker": "m"}}},
         "unchanged_marker"),
        ({"in": {"type": "kafka_parquet", "path": "/x"}, "out": {"root": "/y"},
          "run": {"quarantine_dir": "/q"}}, "quarantine"),
    ]:
        with pytest.raises(ValueError) as e:
            run_ingest(None, cfg)
        assert frag in str(e.value), (cfg, str(e.value))


def test_jsonl_native_ingest(spark, tmp_path):
    src = tmp_path / "wal"
    src.mkdir()
    (src / "00.jsonl").write_text(
        "\n".join(j for _, j in NATIVE[:2]) + "\n"
    )
    (src / "01.jsonl").write_text(
        "\n".join(j for _, j in NATIVE[2:]) + "\n"
    )
    res = run_ingest(
        spark,
        {
            "in": {"type": "jsonl", "path": str(src)},
            "merge": {"mode": "mor", "num_buckets": 4},
            "out": {"root": str(tmp_path / "t")},
        },
    )
    got = {
        (r.conv_id, r.turn_idx, r.text) for r in res["sink"].read().collect()
    }
    assert got == _expect_final()


def test_binlog_parquet_batched_and_idempotent(spark, tmp_path):
    binlog = str(tmp_path / "binlog")
    _native(spark).write.parquet(binlog)
    cfg = {
        "in": {"type": "binlog_parquet", "path": binlog},
        "merge": {"mode": "mor", "num_buckets": 4},
        "out": {"root": str(tmp_path / "t")},
        "run": {"num_batches": 2},
    }
    res = run_ingest(spark, cfg)
    assert len(res["batches"]) == 2
    assert sum(b["change_rows"] for b in res["batches"]) == 4
    # replaying the same config is a no-op (exactly-once on batch ids)
    res2 = run_ingest(spark, cfg)
    assert all(b.get("skipped") for b in res2["batches"])
    got = {
        (r.conv_id, r.turn_idx, r.text) for r in res["sink"].read().collect()
    }
    assert got == _expect_final()


def test_kafka_transport_with_dialect(spark, tmp_path):
    """Transport × dialect composition from config alone: native
    envelopes on a Kafka-shaped frame."""
    from embulk_util_json_spark.sources.kafka import to_kafka_frame

    kdir = str(tmp_path / "kafka")
    to_kafka_frame(
        _native(spark), n_partitions=3, compaction_tombstones=True
    ).write.parquet(kdir)
    res = run_ingest(
        spark,
        {
            "in": {"type": "kafka_parquet", "path": kdir,
                   "kafka": {"n_partitions": 3}},
            "merge": {"num_buckets": 4},
            "out": {"root": str(tmp_path / "t")},
        },
    )
    got = {
        (r.conv_id, r.turn_idx, r.text) for r in res["sink"].read().collect()
    }
    assert got == _expect_final()


def test_mongo_patch_via_config(spark, tmp_path):
    """The sparse-update dialect drives the patch-mode sink purely
    from config: updateDescription semantics end-to-end."""
    from embulk_util_json_spark.sources.mongo import rows_to_mongo_patch_json

    patched = spark.createDataFrame(
        [
            (1, "insert", "2024-01-01 00:00:01", "c1", 0, "u", "a", "t0"),
            (2, "update", "2024-01-01 00:00:02", "c1", 0, MARKER, "b", None),
        ],
        "seq long, op string, ts string, conv_id string, turn_idx int,"
        " role string, text string, tool string",
    ).withColumn("ts", F.to_timestamp("ts"))
    binlog = str(tmp_path / "mongo")
    rows_to_mongo_patch_json(patched, MARKER).write.parquet(binlog)
    res = run_ingest(
        spark,
        {
            "in": {"type": "binlog_parquet", "path": binlog,
                   "format": "mongo_patch",
                   "options": {"unchanged_marker": MARKER}},
            "merge": {"mode": "mor", "num_buckets": 4,
                       "patch": {"cols": ["role", "text", "tool"],
                                  "marker": MARKER}},
            "out": {"root": str(tmp_path / "t")},
        },
    )
    (r,) = res["sink"].read().collect()
    # role untouched (marker carried forward), text patched, tool $unset
    assert (r.conv_id, r.turn_idx, r.role, r.text, r.tool) == (
        "c1", 0, "u", "b", None,
    )


def test_build_parse_fn_unknown():
    with pytest.raises(ValueError):
        build_parse_fn("protobuf")


def test_streaming_ingest_parquet_stream(spark, tmp_path):
    """Config-driven STREAMING ingest: tail a growing (seq,
    event_json) parquet directory, drain, verify final state; a
    restart with the same checkpoint replays nothing."""
    import glob
    import shutil

    from embulk_util_json_spark.ingest import run_ingest_stream

    src = str(tmp_path / "wal")
    stage = str(tmp_path / "stage")
    _native(spark).write.parquet(stage)
    import os

    os.makedirs(src)
    for i, f in enumerate(sorted(glob.glob(stage + "/part-*.parquet"))):
        shutil.copy(f, os.path.join(src, f"{i:02d}.parquet"))
    cfg = {
        "in": {"type": "parquet_stream", "path": src},
        "merge": {"mode": "mor", "num_buckets": 4},
        "out": {"root": str(tmp_path / "t")},
        "run": {"checkpoint_dir": str(tmp_path / "ckpt")},
    }
    res = run_ingest_stream(spark, cfg)
    res["query"].processAllAvailable()
    res["query"].stop()
    got = {(r.conv_id, r.turn_idx, r.text) for r in res["sink"].read().collect()}
    assert got == _expect_final()
    v = res["sink"].current_version()
    res2 = run_ingest_stream(spark, cfg)
    res2["query"].processAllAvailable()
    res2["query"].stop()
    assert res2["sink"].current_version() == v  # checkpoint resumed, no-op


def test_streaming_ingest_validation():
    from embulk_util_json_spark.ingest import run_ingest_stream

    for cfg, frag in [
        ({"in": {"type": "jsonl", "path": "/x"}}, "in.type"),
        ({"in": {"type": "parquet_stream", "path": "/x"},
          "out": {"root": "/y"}}, "checkpoint_dir"),
        ({"in": {"type": "parquet_stream", "path": "/x",
                  "format": "mongo_patch"},
          "out": {"root": "/y"},
          "run": {"checkpoint_dir": "/c"}}, "patch"),
    ]:
        with pytest.raises(ValueError) as e:
            run_ingest_stream(None, cfg)
        assert frag in str(e.value), (cfg, str(e.value))


def test_kafka_derived_partition_count_is_topic_wide(spark, tmp_path):
    """Without ``kafka.n_partitions`` the facade derives P once, over
    the whole topic. Here the second batch holds only partition 0: a
    per-slice P (1 instead of 3) would give its update of c9 a
    smaller seq than the same-ts insert already applied from
    partition 2, and the stale insert would win."""
    import datetime

    ts = datetime.datetime(2024, 3, 1, 10, 0, 5)

    def env(op, conv, text):
        return (
            f'{{"op":"{op}","ts":"{ts}","data":{{"conv_id":"{conv}",'
            f'"turn_idx":0,"role":"u","text":"{text}","tool":null}}}}'
        )

    # (partition, offset) -> total position offset*3+partition; the two
    # batches split at position 6: {0, 5} and {6, 12}
    records = [
        (0, 0, env("insert", "c1", "a")),
        (2, 1, env("insert", "c9", "x")),
        (0, 2, env("update", "c9", "y")),
        (0, 4, env("insert", "c2", "z")),
    ]
    frame = spark.createDataFrame(
        [(f'{{"conv_id":"k{o}"}}', v, "t", p, o, ts, 0) for p, o, v in records],
        "key string, value string, topic string, partition int, offset long,"
        " timestamp timestamp, timestampType int",
    ).select(
        F.col("key").cast("binary"), F.col("value").cast("binary"),
        "topic", "partition", "offset", "timestamp", "timestampType",
    )
    kdir = str(tmp_path / "kafka")
    frame.write.parquet(kdir)

    def final(name, kafka):
        res = run_ingest(
            spark,
            {
                "in": {"type": "kafka_parquet", "path": kdir, "kafka": kafka},
                "merge": {"num_buckets": 4},
                "out": {"root": str(tmp_path / name)},
                "run": {"num_batches": 2},
            },
        )
        assert [b["change_rows"] for b in res["batches"]] == [2, 2]
        return {
            (r.conv_id, r.turn_idx, r.text) for r in res["sink"].read().collect()
        }

    given = final("given", {"n_partitions": 3})
    assert given == {("c1", 0, "a"), ("c9", 0, "y"), ("c2", 0, "z")}
    assert final("derived", {}) == given


def test_streaming_ingest_rejects_quarantine_dir():
    """The streaming facade has no dead-letter path: a configured
    ``run.quarantine_dir`` fails validation instead of being dropped."""
    from embulk_util_json_spark.ingest import run_ingest_stream

    with pytest.raises(ValueError, match="quarantine_dir"):
        run_ingest_stream(
            None,
            {
                "in": {"type": "parquet_stream", "path": "/x"},
                "out": {"root": "/y"},
                "run": {"checkpoint_dir": "/c", "quarantine_dir": "/q"},
            },
        )
