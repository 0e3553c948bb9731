"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata, and Arrow-batched decode/feature
stages over ``mapInPandas``.

The container has no image/audio libraries, so the *decode kernels*
are stubbed two ways:

- ``decode_image``/``decode_audio`` raise ``NotImplementedError``
  behind an import-try (the real kernel drops in unchanged);
- ``byte_features`` is a deterministic fake decoder (pure arithmetic
  over the bytes) so the full Spark plumbing — binary schema, Arrow
  batch shape, ``mapInPandas`` signature, partition behavior — is
  real, tested, and oracle-checkable (the arithmetic is reproducible
  in SQL over the source text because the payload is its utf-8
  encoding).

Scale notes: media rows are wide — ``maxPartitionBytes`` should be
lowered for real payloads; ``mapInPandas`` streams Arrow batches so
one task never materializes its whole partition.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, functions as F

FEATURE_SCHEMA = (
    "doc_id long, n_bytes int, first_byte int, byte_sum long, width int, height int"
)


def attach_media(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Wrap each document as a media row: payload = utf-8 bytes of the
    text (deterministic stand-in for real image bytes), plus a typed
    metadata struct — the schema pattern for any opaque-binary
    modality."""
    payload = F.encode(F.col(text_col), "utf-8")
    meta = F.struct(
        F.lit("text/plain").alias("mime"),
        F.octet_length(payload).alias("n_bytes"),
    )
    return df.select(
        F.col(id_col).alias("doc_id"), payload.alias("payload"), meta.alias("meta")
    )


def byte_features(media: DataFrame) -> DataFrame:
    """Deterministic fake decode: per-payload byte statistics and a
    fake (width, height), computed in Arrow-batched pandas — the
    exact plumbing a real image decoder uses (bytes in → features
    out), with a pure function in place of PIL."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["payload"]
            n_bytes = payloads.map(len)
            # empty payload → 0, matching the oracle (DuckDB
            # ascii('') = 0); -1 here would also flip the height
            # modulo sign (Python % vs SQL % on negatives differ).
            first = payloads.map(lambda b: b[0] if len(b) else 0)
            total = payloads.map(lambda b: int(sum(b)))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": n_bytes.astype("int32"),
                    "first_byte": first.astype("int32"),
                    "byte_sum": total.astype("int64"),
                    "width": (n_bytes % 64).astype("int32"),
                    "height": ((first * 7) % 64).astype("int32"),
                }
            )

    return media.mapInPandas(kernel, schema=FEATURE_SCHEMA)


FRAME_SCHEMA = "doc_id long, frame_idx int, frame_len int, frame_sum long"


def frame_sample(
    media: DataFrame, frame_bytes: int = 64, every_n: int = 2
) -> DataFrame:
    """Video-style frame sampling plumbing: treat the payload as a
    concatenation of fixed-size frames, emit every ``every_n``-th one
    as its own row — the 1→N Arrow batch EXPANSION shape a real video
    sampler uses (bytes in → frame rows out), with byte-chunk
    arithmetic standing in for the codec. Empty payloads yield no
    frames (a zero-frame video contributes nothing downstream)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, lens, sums = [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                n = len(payload)
                n_frames = (n + frame_bytes - 1) // frame_bytes
                for i in range(0, n_frames, every_n):
                    chunk = payload[i * frame_bytes : (i + 1) * frame_bytes]
                    ids.append(doc_id)
                    idxs.append(i)
                    lens.append(len(chunk))
                    sums.append(int(sum(chunk)))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int32"),
                    "frame_len": pd.Series(lens, dtype="int32"),
                    "frame_sum": pd.Series(sums, dtype="int64"),
                }
            )

    return media.mapInPandas(kernel, schema=FRAME_SCHEMA)


def frame_sample_sql(
    table: str, text_col: str, id_col: str, frame_bytes: int = 64, every_n: int = 2
) -> str:
    """DuckDB oracle for ``frame_sample`` (ASCII-safe text ⇒ byte
    arithmetic equals char-code arithmetic)."""
    codes = (
        f"list_transform(string_split(substr({text_col}, "
        f"frame_idx * {frame_bytes} + 1, {frame_bytes}), ''), "
        "c -> CAST(ascii(c) AS BIGINT))"
    )
    return f"""
        WITH base AS (
            SELECT {id_col} AS doc_id, {text_col},
                   CAST(ceil(strlen({text_col}) / {frame_bytes}.0) AS BIGINT)
                       AS n_frames
            FROM {table}
        ),
        frames AS (
            SELECT doc_id, {text_col},
                   CAST(unnest(range(0, n_frames)) AS INTEGER) AS frame_idx
            FROM base
        ),
        frames_kept AS (
            SELECT * FROM frames WHERE frame_idx % {every_n} = 0
        )
        SELECT doc_id, frame_idx,
               CAST(strlen(substr({text_col}, frame_idx * {frame_bytes} + 1,
                           {frame_bytes})) AS INTEGER) AS frame_len,
               list_reduce(list_prepend(CAST(0 AS BIGINT), {codes}),
                           (a, b) -> a + b) AS frame_sum
        FROM frames_kept
    """


def resize_image(media: DataFrame, width: int, height: int) -> DataFrame:
    """Real image resize — requires PIL (absent in this container).
    Same mapInPandas plumbing as byte_features/frame_sample; only the
    kernel differs."""
    try:
        import PIL.Image  # noqa: F401
    except ImportError as e:
        raise NotImplementedError(
            "image resize requires pillow; this environment has no image "
            "libraries — frame_sample/byte_features exercise the same "
            "Arrow plumbing with deterministic kernels"
        ) from e
    raise NotImplementedError("real resizer intentionally not implemented in-sandbox")


def decode_image(media: DataFrame) -> DataFrame:
    """Real image decode (resize + RGB stats) — requires PIL, which
    this container does not ship. The mapInPandas plumbing is the same
    as byte_features; only the kernel differs."""
    try:
        import PIL.Image  # noqa: F401
    except ImportError as e:
        raise NotImplementedError(
            "image decode requires pillow; this environment has no image "
            "libraries — use byte_features for the plumbing-equivalent path"
        ) from e
    raise NotImplementedError("real decoder intentionally not implemented in-sandbox")


def byte_features_sql(table: str, text_col: str, id_col: str) -> str:
    """DuckDB oracle for byte_features: the payload is the utf-8
    encoding of ASCII-safe text, so byte stats equal char-code stats."""
    codes = (
        f"list_transform(string_split({text_col}, ''), c -> CAST(ascii(c) AS BIGINT))"
    )
    return f"""
        SELECT {id_col} AS doc_id,
               CAST(strlen({text_col}) AS INTEGER) AS n_bytes,
               CAST(COALESCE(ascii(substr({text_col}, 1, 1)), 0) AS INTEGER) AS first_byte,
               list_reduce(list_prepend(CAST(0 AS BIGINT), {codes}), (a, b) -> a + b) AS byte_sum,
               CAST(strlen({text_col}) % 64 AS INTEGER) AS width,
               CAST((ascii(substr({text_col}, 1, 1)) * 7) % 64 AS INTEGER) AS height
        FROM {table}
    """
