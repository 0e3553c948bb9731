"""Embedding similarity search: brute-force cosine top-k (baseline)
and random-hyperplane LSH bucketed ANN (the scale path), plus
embedding-cosine near-duplicate pairs.

Determinism design: float32 embeddings are **quantized** to integers
(round(x * 1e6)) before any arithmetic. Dot products and norms are
then exact 64-bit integer sums, and cosine = dot / sqrt(na * nb) is a
single correctly-rounded IEEE divide+sqrt on exact integers —
bit-identical between Spark and the DuckDB oracle regardless of
summation order. (Quantized dot-product retrieval is standard ANN
practice — scalar quantization — so this is not a test-only hack.)

Scale notes:
- brute-force: query set is broadcast against the corpus (no shuffle
  of the big side); per-row dot product is a codegen'd ``aggregate``
  over ``zip_with`` — no Python.
- LSH: P hyperplanes with md5-derived components; signature is a
  P-bit bucket id; candidates = bucket equi-join; top-k within
  buckets. Recall is tunable via P and multi-probe (not needed here).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

QUANT = 1_000_000


def _quantize(vec: Column) -> Column:
    return F.transform(vec, lambda x: F.round(x.cast("double") * QUANT).cast("long"))


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0).cast("long"), lambda s, v: s + v
    )


def _cosine(dot: Column, na: Column, nb: Column) -> Column:
    return F.round(
        dot.cast("double") / F.sqrt(na.cast("double") * nb.cast("double")), 6
    )


def quantized(df: DataFrame, vec_col: str, id_col: str) -> DataFrame:
    """(id, qvec, qnorm): integer-quantized vector + its self-dot."""
    q = _quantize(F.col(vec_col))
    return df.select(F.col(id_col), q.alias("qvec")).withColumn(
        "qnorm", _dot(F.col("qvec"), F.col("qvec"))
    )


def _spread(df: DataFrame) -> DataFrame:
    """Repartition a small-but-compute-heavy corpus to full cluster
    parallelism: a 5k-row embedding table arrives as ONE parquet split,
    which would serialize the all-pairs scoring into a single task.
    (At 100 TB the corpus is already thousands of splits — this is a
    small-input guard, a no-op cost either way.)"""
    target = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(target)


def cosine_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 5,
    query_mod: int = 50,
) -> DataFrame:
    """Brute-force cosine top-k: every id ≡ 0 (mod query_mod) is a
    query; neighbors ranked by (cosine desc, id asc). The query side
    is tiny → broadcast; the corpus streams through one codegen'd
    projection. Output (query_id, neighbor_id, rank, cosine)."""
    qn = quantized(df, vec_col, id_col)
    queries = qn.filter((F.col(id_col) % query_mod) == 0).select(
        F.col(id_col).alias("query_id"),
        F.col("qvec").alias("q_qvec"),
        F.col("qnorm").alias("q_qnorm"),
    )
    corpus = _spread(
        qn.select(F.col(id_col).alias("neighbor_id"), "qvec", "qnorm")
    )
    scored = (
        corpus.join(F.broadcast(queries), F.col("neighbor_id") != F.col("query_id"))
        .withColumn("dot", _dot(F.col("qvec"), F.col("q_qvec")))
        .withColumn("cosine", _cosine(F.col("dot"), F.col("qnorm"), F.col("q_qnorm")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("rank").cast("int").alias("rank"), "cosine")
    )


def neardup_pairs(
    df: DataFrame, vec_col: str, id_col: str, threshold: float = 0.95
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cosine ≥
    threshold), EXACT: all-pairs on the quantized vectors. O(n²)
    compute — this is the oracle baseline / small-corpus path; the
    default scale path is :func:`neardup_pairs_lsh` (banded-bucket
    candidate generation + the same exact verify), with
    :func:`pair_recall` as the tuning loop between them."""
    qn = quantized(df, vec_col, id_col)
    a = _spread(
        qn.select(
            F.col(id_col).alias("id_a"),
            F.col("qvec").alias("va"),
            F.col("qnorm").alias("na"),
        )
    )
    b = qn.select(
        F.col(id_col).alias("id_b"), F.col("qvec").alias("vb"), F.col("qnorm").alias("nb")
    )
    return (
        a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", _cosine(_dot(F.col("va"), F.col("vb")), F.col("na"), F.col("nb")))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def _plane_matrix(dim: int, n_planes: int):
    """(dim, n_planes) int64 matrix of the md5-derived hyperplane
    components — the same plane family :func:`lsh_signature` uses, so
    plane p of this matrix IS plane p of the Catalyst path and of the
    DuckDB oracle formula."""
    import numpy as np

    return np.array(
        [[_plane_component(p, d) for p in range(n_planes)] for d in range(dim)],
        dtype=np.int64,
    )


def banded_sig_rows(
    qn: DataFrame, id_col: str, dim: int, bits: int, bands: int
) -> DataFrame:
    """(id, band, bsig) — ``bands`` rows per vector; band b's
    signature is ``bits`` hyperplane sign bits (planes
    ``b*bits .. b*bits+bits-1``) packed into a long.

    Scoring is ONE exact int64 numpy matmul per Arrow batch
    ((N, dim) @ (dim, bits*bands)) — the quantized dots are integer,
    so sign bits are bit-identical to the Catalyst / DuckDB formula
    regardless of engine. ``qn`` must carry (id, qvec) from
    :func:`quantized` (quantization stays Catalyst-side so its
    HALF_UP rounding is never re-implemented)."""
    import numpy as np

    w_mat = _plane_matrix(dim, bits * bands)
    id_type = dict(
        (f.name, f.dataType.simpleString()) for f in qn.schema.fields
    )[id_col]

    def gen(batches):
        import numpy as np
        import pandas as pd

        shifts = np.arange(bits, dtype=np.int64)
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf[id_col].to_numpy()
            mat = np.array(list(pdf["qvec"]), dtype=np.int64)  # (N, dim)
            sign = (mat @ w_mat) > 0  # (N, bits*bands) exact int64 dots
            out_id, out_band, out_sig = [], [], []
            for band in range(bands):
                seg = sign[:, band * bits : (band + 1) * bits].astype(np.int64)
                out_id.append(ids)
                out_band.append(np.full(len(ids), band, dtype=np.int32))
                out_sig.append((seg << shifts).sum(axis=1))
            yield pd.DataFrame(
                {
                    id_col: np.concatenate(out_id),
                    "band": np.concatenate(out_band),
                    "bsig": np.concatenate(out_sig),
                }
            )

    return qn.select(id_col, "qvec").mapInPandas(
        gen, f"{id_col} {id_type}, band int, bsig long"
    )


def neardup_pairs_lsh(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float = 0.95,
    dim: int = 64,
    bits: int = 8,
    bands: int = 16,
) -> DataFrame:
    """Near-duplicate pairs, LSH-bucketed — the 100 TB default.

    Candidate generation: each vector gets ``bands`` independent
    ``bits``-bit hyperplane signatures; a pair is a candidate iff ANY
    band matches exactly (a bucket **equi-join** on (band, bsig) —
    never an all-pairs product). Candidates are verified with the same
    exact quantized cosine as :func:`neardup_pairs`, so precision is
    1.0; recall per pair at cosine c is
    ``1 - (1 - (1 - acos(c)/π)^bits)^bands`` — ≈1.0 in the usual
    near-dup regime (c ≥ 0.9 with the defaults), and tunable via the
    bands knob for lower thresholds (measure with :func:`pair_recall`
    against an exact sample, exactly as ANN recall tunes ``planes``).

    Scale shape: signature pass is one Arrow-batched int64 matmul per
    batch (no shuffle; the two join branches share one shuffle via
    exchange reuse); candidate join shuffles rows × bands on uniform
    (band, bsig) keys; verify joins candidates (≪ n²) back to the
    quantized vectors. Random collisions per band are ~n²/2^bits —
    size ``bits`` to the corpus like LSH-ANN sizes ``planes``."""
    from .dedup import _persist_tracked

    qn = quantized(df, vec_col, id_col)
    # Both branches of the bucket self-join consume the signature
    # frame, and an Arrow (MapInPandas) stage is opaque to Catalyst's
    # exchange reuse — unpersisted, the matmul pass runs once per
    # branch. Persist eagerly (tracked; release_caches() reclaims),
    # same discipline as the shared shingle frames in dedup.py.
    sigs = _persist_tracked(banded_sig_rows(_spread(qn), id_col, dim, bits, bands))
    cand = (
        sigs.select(F.col(id_col).alias("id_a"), "band", "bsig")
        .join(
            sigs.select(F.col(id_col).alias("id_b"), "band", "bsig"),
            ["band", "bsig"],
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    a = qn.select(
        F.col(id_col).alias("id_a"),
        F.col("qvec").alias("va"),
        F.col("qnorm").alias("na"),
    )
    b = qn.select(
        F.col(id_col).alias("id_b"),
        F.col("qvec").alias("vb"),
        F.col("qnorm").alias("nb"),
    )
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn(
            "cosine", _cosine(_dot(F.col("va"), F.col("vb")), F.col("na"), F.col("nb"))
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def pair_recall(found: DataFrame, exact: DataFrame) -> DataFrame:
    """ONE-row recall of a candidate-generated pair set against the
    exact pair set: (n_exact, n_found, recall). Precision is 1.0 by
    construction (both sides verify with the same exact cosine), so
    recall is the whole tuning story — run on a sampled corpus, raise
    ``bands`` until recall clears target, then drop the exact pass.
    Both inputs are result-sized (≪ corpus) — a broadcast semi-join."""
    e = exact.select("id_a", "id_b")
    hits = e.join(F.broadcast(found.select("id_a", "id_b")), ["id_a", "id_b"], "left_semi")
    return e.agg(F.count(F.lit(1)).cast("int").alias("n_exact")).crossJoin(
        hits.agg(F.count(F.lit(1)).cast("int").alias("n_found"))
    ).select(
        "n_exact",
        "n_found",
        F.round(
            F.col("n_found") / F.when(F.col("n_exact") > 0, F.col("n_exact").cast("double")),
            6,
        ).alias("recall"),
    )


# ---- LSH ANN ---------------------------------------------------------------


def _plane_component(p: int, d: int) -> int:
    """Deterministic hyperplane component in [-1000, 1000]: first 32
    bits of md5('plane:p:d'). Computed driver-side with hashlib —
    bit-identical to both Spark's and DuckDB's md5 — and embedded as a
    literal, so the executor evaluates a plain integer array instead
    of 512 per-row hash expressions (which blow up codegen)."""
    import hashlib

    h = int(hashlib.md5(f"plane:{p}:{d}".encode()).hexdigest()[:8], 16)
    return (h % 2001) - 1000


def lsh_signature(qvec: Column, dim: int, planes: int) -> Column:
    """P-bit random-hyperplane signature of a quantized vector: bit p
    = (qvec · w_p) > 0, packed into a long. Fully codegen'd."""
    sig = None
    for p in range(planes):
        w = F.array(*[F.lit(_plane_component(p, d)) for d in range(dim)])
        dot = _dot(qvec, w)
        term = F.when(dot > 0, F.lit(1 << p)).otherwise(F.lit(0)).cast("long")
        sig = term if sig is None else sig + term
    return sig


def lsh_ann_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    dim: int,
    planes: int = 8,
    k: int = 5,
    query_mod: int = 50,
    multiprobe: int = 0,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH
    bucket (signature equality), ranked by exact quantized cosine.
    Bucket join shuffles on the signature — 2^P uniform buckets; at
    100 TB, P grows with corpus size to hold bucket width constant.

    ``multiprobe=1`` additionally probes every bucket at Hamming
    distance 1 from the query's signature (flip each of the P bits) —
    the standard multi-probe LSH recall knob: P+1 buckets per query
    instead of 1, recovering neighbors that one borderline hyperplane
    pushed across a bucket boundary, WITHOUT growing the index or
    re-hashing the corpus. A corpus row has exactly one signature and
    the probe signatures are distinct, so no (query, neighbor) pair
    repeats. Tune with :func:`ann_recall`.

    Output (query_id, neighbor_id, rank, cosine) — rank within the
    probed buckets."""
    if multiprobe not in (0, 1):
        raise ValueError("multiprobe must be 0 or 1 (flip-one-bit probing)")
    qn = quantized(df, vec_col, id_col).withColumn(
        "sig", lsh_signature(F.col("qvec"), dim, planes)
    )
    queries = qn.filter((F.col(id_col) % query_mod) == 0).select(
        F.col(id_col).alias("query_id"),
        F.col("qvec").alias("q_qvec"),
        F.col("qnorm").alias("q_qnorm"),
        F.col("sig").alias("q_sig"),
    )
    if multiprobe:
        probes = F.array(
            F.col("q_sig"),
            *[
                F.col("q_sig").bitwiseXOR(F.lit(1 << p).cast("long"))
                for p in range(planes)
            ],
        )
        queries = queries.withColumn("q_sig", F.explode(probes))
    corpus = _spread(
        qn.select(F.col(id_col).alias("neighbor_id"), "qvec", "qnorm", "sig")
    )
    scored = (
        corpus.join(
            F.broadcast(queries),
            (F.col("sig") == F.col("q_sig"))
            & (F.col("neighbor_id") != F.col("query_id")),
        )
        .withColumn("cosine", _cosine(_dot(F.col("qvec"), F.col("q_qvec")), F.col("qnorm"), F.col("q_qnorm")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("rank").cast("int").alias("rank"), "cosine")
    )


def cosine_topk_arrow(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 5,
    query_mod: int = 50,
) -> DataFrame:
    """Arrow-vectorized brute-force cosine top-k — same results as
    ``cosine_topk`` (bit-identical: the quantized dot products are
    exact int64 numpy matmuls, cosine is the same IEEE divide/sqrt,
    rounded 6dp), but the scoring runs as ONE numpy matrix multiply
    per Arrow batch instead of per-pair Catalyst expressions.

    Distributed-top-k shape: each batch emits only its own top-k per
    query (k × n_queries rows per batch), then a global window keeps
    the overall top-k — the union of per-batch top-ks provably
    contains the global top-k. This is the scale path when the corpus
    is huge and the query set small (broadcast-score-reduce)."""
    import numpy as np
    import pandas as pd

    qn = quantized(df, vec_col, id_col)
    q_rows = (
        qn.filter((F.col(id_col) % query_mod) == 0)
        .select(id_col, "qvec", "qnorm")
        .collect()
    )
    if not q_rows:
        return df.sparkSession.createDataFrame(
            [], "query_id long, neighbor_id long, rank int, cosine double"
        )
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    q_mat = np.array([r[1] for r in q_rows], dtype=np.int64)  # (Q, D)
    q_norm = np.array([r[2] for r in q_rows], dtype=np.int64)

    corpus = _spread(qn.select(F.col(id_col).alias("neighbor_id"), "qvec", "qnorm"))

    def score(batches):
        for pdf in batches:
            n_ids = pdf["neighbor_id"].to_numpy(dtype=np.int64)
            mat = np.array(list(pdf["qvec"]), dtype=np.int64)  # (N, D)
            norms = pdf["qnorm"].to_numpy(dtype=np.int64)
            dots = q_mat @ mat.T  # (Q, N) exact int64
            cos = np.round(
                dots / np.sqrt(q_norm[:, None].astype(np.float64) * norms[None, :].astype(np.float64)),
                6,
            )
            out = {"query_id": [], "neighbor_id": [], "cosine": []}
            for qi in range(len(q_ids)):
                mask = n_ids != q_ids[qi]
                c = cos[qi][mask]
                ids = n_ids[mask]
                if not len(c):
                    continue
                # per-batch pre-top-k: order by (-cosine, id)
                order = np.lexsort((ids, -c))[:k]
                out["query_id"].extend([q_ids[qi]] * len(order))
                out["neighbor_id"].extend(ids[order])
                out["cosine"].extend(c[order])
            yield pd.DataFrame(out)

    scored = corpus.mapInPandas(
        score, "query_id long, neighbor_id long, cosine double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("rank").cast("int").alias("rank"), "cosine")
    )


# ---- IVF ANN ---------------------------------------------------------------


def _initial_centroids(
    qn: DataFrame, id_col: str, n_centroids: int, centroid_mod: int
) -> DataFrame:
    """Deterministic seed centroids: the first ``n_centroids`` vectors
    (by id) among ids divisible by ``centroid_mod``."""
    return (
        qn.filter((F.col(id_col) % centroid_mod) == 0)
        .select(
            F.col(id_col).alias("cent_id"),
            F.col("qvec").alias("c_qvec"),
            F.col("qnorm").alias("c_qnorm"),
        )
        .orderBy("cent_id")  # limit must be deterministic (oracle parity)
        .limit(n_centroids)
    )


def _ranked_against(qn: DataFrame, id_col: str, cents: DataFrame) -> DataFrame:
    """(id, qvec, qnorm, cent_id, _rn): every vector scored against
    every centroid (broadcast — centroids are tiny) and rank-numbered
    by (cosine desc, cent_id asc). ``_rn == 1`` is the storage cell;
    ``_rn <= nprobe`` is a query's probe set."""
    scored = _spread(qn).join(F.broadcast(cents)).withColumn(
        "c_cos", _cosine(_dot(F.col("qvec"), F.col("c_qvec")), F.col("qnorm"), F.col("c_qnorm"))
    )
    w = Window.partitionBy(id_col).orderBy(F.col("c_cos").desc(), F.col("cent_id").asc())
    return scored.withColumn("_rn", F.row_number().over(w)).select(
        id_col, "qvec", "qnorm", "cent_id", "_rn"
    )


def _ivf_ranked(
    df: DataFrame, vec_col: str, id_col: str, n_centroids: int, centroid_mod: int
) -> DataFrame:
    qn = quantized(df, vec_col, id_col)
    return _ranked_against(
        qn, id_col, _initial_centroids(qn, id_col, n_centroids, centroid_mod)
    )


def kmeans_centroids(
    qn: DataFrame,
    id_col: str,
    n_centroids: int,
    centroid_mod: int,
    iters: int = 2,
) -> DataFrame:
    """Trained coarse quantizer: Lloyd's iterations over the quantized
    vectors — assign every vector to its nearest (cosine) centroid,
    recompute each cell's centroid as the element-wise mean. Real IVF
    trains its quantizer; the sampled-row centroids are only the seed.

    Cross-engine determinism: components stay 64-bit integers — the
    mean is ``div(sum, count)`` (truncation toward zero, identical to
    DuckDB's ``//``), so both engines walk bit-identical centroid
    trajectories; a float mean would diverge in the last ulp and flip
    assignments. The rounding (1e-6 of vector scale) is far below any
    meaningful centroid resolution. Cells emptied by an iteration
    drop out (K can shrink) — deterministic on both sides.

    Scale shape per iteration: one broadcast score-rank over the
    corpus (no corpus shuffle) + one (cell, dim) hash aggregate —
    cells × dims rows, tiny. The centroid frame is checkpointed per
    iteration (it is re-broadcast, keeping lineage flat)."""
    cents = _initial_centroids(qn, id_col, n_centroids, centroid_mod)
    for _ in range(int(iters)):
        assigned = _ranked_against(qn, id_col, cents).filter(F.col("_rn") == 1)
        comp = assigned.select(
            F.col("cent_id"), F.posexplode("qvec").alias("pos", "val")
        )
        means = comp.groupBy("cent_id", "pos").agg(
            F.expr("div(sum(val), count(val))").alias("m")
        )
        cents = (
            means.groupBy("cent_id")
            .agg(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("pos", "m"))),
                    lambda s: s["m"],
                ).alias("c_qvec")
            )
            .withColumn("c_qnorm", _dot(F.col("c_qvec"), F.col("c_qvec")))
            .select("cent_id", "c_qvec", "c_qnorm")
            .localCheckpoint()
        )
    return cents


def ivf_kmeans_ann_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    n_centroids: int = 8,
    centroid_mod: int = 61,
    iters: int = 2,
    k: int = 5,
    query_mod: int = 50,
    nprobe: int = 1,
) -> DataFrame:
    """IVF top-k over a TRAINED quantizer (:func:`kmeans_centroids`) —
    the production IVF shape: train on a sample (here the corpus; at
    100 TB a hash-sampled slice), then assign + probe exactly like the
    seeded variant. Same candidate-restriction and ranking plan as
    :func:`ivf_ann_topk`; only the centroids differ."""
    qn = quantized(df, vec_col, id_col).localCheckpoint()
    cents = kmeans_centroids(qn, id_col, n_centroids, centroid_mod, iters)
    ranked = _ranked_against(qn, id_col, cents)
    return _search_cells(ranked, id_col, k, query_mod, nprobe)


def ivf_ann_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    n_centroids: int = 8,
    centroid_mod: int = 250,
    k: int = 5,
    query_mod: int = 50,
    nprobe: int = 1,
) -> DataFrame:
    """IVF approximate top-k: candidates restricted to the query's
    ``nprobe`` nearest cells, ranked by exact quantized cosine. The
    cell join shuffles on the centroid id — at 100 TB, n_centroids
    grows with the corpus (√N rule) to hold cell width constant, and
    ``nprobe`` trades recall for a proportional candidate-set cost
    (each probed cell is one more bucket of candidates; a corpus row
    lives in exactly one cell, so no (query, neighbor) pair repeats).
    Tune with :func:`ann_recall`: raise nprobe until recall clears
    target."""
    ranked = _ivf_ranked(df, vec_col, id_col, n_centroids, centroid_mod)
    return _search_cells(ranked, id_col, k, query_mod, nprobe)


def _search_cells(
    ranked: DataFrame, id_col: str, k: int, query_mod: int, nprobe: int
) -> DataFrame:
    """Cell-restricted exact-cosine top-k over a ranked assignment
    frame (shared by the seeded and trained IVF variants)."""
    queries = ranked.filter(
        ((F.col(id_col) % query_mod) == 0) & (F.col("_rn") <= nprobe)
    ).select(
        F.col(id_col).alias("query_id"),
        F.col("qvec").alias("q_qvec"),
        F.col("qnorm").alias("q_qnorm"),
        F.col("cent_id").alias("q_cell"),
    )
    corpus = ranked.filter(F.col("_rn") == 1).select(
        F.col(id_col).alias("neighbor_id"), "qvec", "qnorm",
        F.col("cent_id").alias("cell"),
    )
    scored = corpus.join(
        F.broadcast(queries),
        (F.col("cell") == F.col("q_cell")) & (F.col("neighbor_id") != F.col("query_id")),
    ).withColumn(
        "cosine", _cosine(_dot(F.col("qvec"), F.col("q_qvec")), F.col("qnorm"), F.col("q_qnorm"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("rank").cast("int").alias("rank"), "cosine")
    )


# ---------------------------------------------------------------------------
# Oracle-SQL generators (DuckDB)
# ---------------------------------------------------------------------------

_SQL_QVEC = (
    f"list_transform({{vec}}, x -> CAST(ROUND(CAST(x AS DOUBLE) * {QUANT}) AS BIGINT))"
)


def ann_recall(ann: DataFrame, exact: DataFrame, k: int = 5) -> DataFrame:
    """Recall@k of an ANN result against the exact top-k — the
    evaluation loop that tunes P (LSH planes) / nprobe (IVF) at scale:
    run both on a sampled query set, keep raising the ANN knob until
    recall clears the target, then drop the exact pass.

    Inputs are (query_id, neighbor_id, rank, ...) frames as produced
    by the *_topk operators. Per query: hits = |ANN ∩ exact| within
    rank ≤ k; recall = hits / |exact| (denominator is the achievable
    set, < k at corpus edges). Both sides are tiny (queries × k rows)
    — a broadcast join, no corpus scan."""
    e = exact.filter(F.col("rank") <= k).select("query_id", "neighbor_id")
    a = ann.filter(F.col("rank") <= k).select("query_id", "neighbor_id")
    hits = (
        e.join(F.broadcast(a), ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).cast("int").alias("n_hits"))
    )
    base = e.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_exact")
    )
    return (
        base.join(hits, "query_id", "left")
        .select(
            "query_id",
            "n_exact",
            F.coalesce(F.col("n_hits"), F.lit(0)).alias("n_hits"),
            F.round(
                F.coalesce(F.col("n_hits"), F.lit(0))
                / F.col("n_exact").cast("double"),
                6,
            ).alias("recall"),
        )
    )


def recall_summary(ann: DataFrame, exact: DataFrame, k: int = 5) -> DataFrame:
    """ONE-row micro-recall of an ANN result vs the exact top-k:
    (n_exact, n_hits, recall = Σhits/Σexact). Integer sums + one IEEE
    divide — deterministic across engines (a mean of per-query
    recalls would depend on float summation order)."""
    per_q = ann_recall(ann, exact, k)
    return per_q.agg(
        F.sum("n_exact").cast("int").alias("n_exact"),
        F.sum("n_hits").cast("int").alias("n_hits"),
    ).select(
        "n_exact",
        "n_hits",
        F.round(
            F.col("n_hits")
            / F.when(F.col("n_exact") > 0, F.col("n_exact").cast("double")),
            6,
        ).alias("recall"),
    )


def recall_summary_sql(ann_sql: str, exact_sql: str, k: int = 5) -> str:
    """DuckDB twin of :func:`recall_summary`."""
    return f"""
        SELECT CAST(SUM(n_exact) AS INTEGER) AS n_exact,
               CAST(SUM(n_hits) AS INTEGER) AS n_hits,
               ROUND(SUM(n_hits) / (CASE WHEN SUM(n_exact) > 0
                     THEN CAST(SUM(n_exact) AS DOUBLE) END), 6) AS recall
        FROM ({ann_recall_sql(ann_sql, exact_sql, k)})
    """


def ann_recall_sql(ann_sql: str, exact_sql: str, k: int = 5) -> str:
    """DuckDB oracle: composes the two result oracles."""
    return f"""
        WITH exact_r AS (
            SELECT query_id, neighbor_id FROM ({exact_sql}) WHERE rank <= {k}
        ),
        ann_r AS (
            SELECT query_id, neighbor_id FROM ({ann_sql}) WHERE rank <= {k}
        ),
        h AS (
            SELECT e.query_id, CAST(COUNT(*) AS INTEGER) AS n_hits
            FROM exact_r e SEMI JOIN ann_r a
              ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
            GROUP BY e.query_id
        ),
        b AS (
            SELECT query_id, CAST(COUNT(*) AS INTEGER) AS n_exact
            FROM exact_r GROUP BY query_id
        )
        SELECT b.query_id, b.n_exact, COALESCE(h.n_hits, 0) AS n_hits,
               ROUND(COALESCE(h.n_hits, 0) / CAST(b.n_exact AS DOUBLE), 6)
                   AS recall
        FROM b LEFT JOIN h USING (query_id)
    """


def _sql_qn(table: str, vec_col: str, id_col: str) -> str:
    qvec = _SQL_QVEC.format(vec=vec_col)
    return f"""
        SELECT {id_col}, qvec,
               list_reduce(list_prepend(CAST(0 AS BIGINT),
                   list_transform(qvec, v -> v * v)), (a, b) -> a + b) AS qnorm
        FROM (SELECT {id_col}, {qvec} AS qvec FROM {table})
    """


_SQL_DOT = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT), "
    "list_transform(range(1, len({a}) + 1), i -> {a}[i] * {b}[i])), (x, y) -> x + y)"
)


def cosine_topk_sql(
    table: str, vec_col: str, id_col: str, k: int = 5, query_mod: int = 50
) -> str:
    dot = _SQL_DOT.format(a="c.qvec", b="q.qvec")
    return f"""
        WITH qn AS ({_sql_qn(table, vec_col, id_col)}),
        scored AS (
            SELECT q.{id_col} AS query_id, c.{id_col} AS neighbor_id,
                   ROUND({dot} / SQRT(CAST(c.qnorm AS DOUBLE) * CAST(q.qnorm AS DOUBLE)), 6) AS cosine
            FROM qn q JOIN qn c ON c.{id_col} <> q.{id_col}
            WHERE q.{id_col} % {query_mod} = 0
        ),
        ranked AS (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC
            ) AS rank FROM scored
        )
        SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, cosine
        FROM ranked WHERE rank <= {k}
    """


def neardup_pairs_sql(
    table: str, vec_col: str, id_col: str, threshold: float = 0.95
) -> str:
    dot = _SQL_DOT.format(a="a.qvec", b="b.qvec")
    return f"""
        WITH qn AS ({_sql_qn(table, vec_col, id_col)})
        SELECT a.{id_col} AS id_a, b.{id_col} AS id_b,
               ROUND({dot} / SQRT(CAST(a.qnorm AS DOUBLE) * CAST(b.qnorm AS DOUBLE)), 6) AS cosine
        FROM qn a JOIN qn b ON a.{id_col} < b.{id_col}
        WHERE ROUND({dot} / SQRT(CAST(a.qnorm AS DOUBLE) * CAST(b.qnorm AS DOUBLE)), 6) >= {threshold}
    """


def neardup_pairs_lsh_sql(
    table: str,
    vec_col: str,
    id_col: str,
    threshold: float = 0.95,
    dim: int = 64,
    bits: int = 8,
    bands: int = 16,
) -> str:
    """DuckDB twin of :func:`neardup_pairs_lsh` — same md5-derived
    planes, same band packing, same integer-exact verify, so the two
    engines agree bit-for-bit on the emitted pairs (recall is a
    property of the OPERATOR, mirrored on both sides — precedent:
    ``minhash_lsh_pairs_sql``)."""
    comp = (
        "CAST(('0x' || substr(md5('plane:' || CAST(p AS VARCHAR) || ':' "
        "|| CAST(d AS VARCHAR)), 1, 8)) AS BIGINT) % 2001 - 1000"
    )
    dot = _SQL_DOT.format(a="a.qvec", b="b.qvec")
    return f"""
        WITH qn AS ({_sql_qn(table, vec_col, id_col)}),
        plane AS (
            SELECT p, d, {comp} AS w
            FROM UNNEST(range({bits * bands})) AS tp(p),
                 UNNEST(range({dim})) AS td(d)
        ),
        dots AS (
            SELECT qn.{id_col}, plane.p,
                   SUM(qn.qvec[plane.d + 1] * plane.w) AS pd
            FROM qn CROSS JOIN plane GROUP BY qn.{id_col}, plane.p
        ),
        bsigs AS (
            SELECT {id_col}, CAST(p // {bits} AS INTEGER) AS band,
                   CAST(SUM(CASE WHEN pd > 0
                            THEN (CAST(1 AS BIGINT) << (p % {bits}))
                            ELSE 0 END) AS BIGINT) AS bsig
            FROM dots GROUP BY {id_col}, p // {bits}
        ),
        cand AS (
            SELECT DISTINCT sa.{id_col} AS id_a, sb.{id_col} AS id_b
            FROM bsigs sa JOIN bsigs sb
              ON sa.band = sb.band AND sa.bsig = sb.bsig
             AND sa.{id_col} < sb.{id_col}
        )
        SELECT cand.id_a, cand.id_b,
               ROUND({dot} / SQRT(CAST(a.qnorm AS DOUBLE) * CAST(b.qnorm AS DOUBLE)), 6) AS cosine
        FROM cand
        JOIN qn a ON a.{id_col} = cand.id_a
        JOIN qn b ON b.{id_col} = cand.id_b
        WHERE ROUND({dot} / SQRT(CAST(a.qnorm AS DOUBLE) * CAST(b.qnorm AS DOUBLE)), 6) >= {threshold}
    """


def pair_recall_sql(found_sql: str, exact_sql: str) -> str:
    """DuckDB oracle for :func:`pair_recall` — composes the two pair
    oracles."""
    return f"""
        WITH exact_p AS (SELECT id_a, id_b FROM ({exact_sql})),
        found_p AS (SELECT id_a, id_b FROM ({found_sql})),
        h AS (
            SELECT CAST(COUNT(*) AS INTEGER) AS n_found
            FROM exact_p e SEMI JOIN found_p f
              ON f.id_a = e.id_a AND f.id_b = e.id_b
        ),
        b AS (SELECT CAST(COUNT(*) AS INTEGER) AS n_exact FROM exact_p)
        SELECT b.n_exact, h.n_found,
               ROUND(h.n_found / (CASE WHEN b.n_exact > 0
                                       THEN CAST(b.n_exact AS DOUBLE) END), 6)
                   AS recall
        FROM b CROSS JOIN h
    """


def ivf_ann_topk_sql(
    table: str,
    vec_col: str,
    id_col: str,
    n_centroids: int = 8,
    centroid_mod: int = 250,
    k: int = 5,
    query_mod: int = 50,
    nprobe: int = 1,
) -> str:
    cdot = _SQL_DOT.format(a="qn.qvec", b="c.qvec")
    dot = _SQL_DOT.format(a="cc.qvec", b="qq.qvec")
    return f"""
        WITH qn AS ({_sql_qn(table, vec_col, id_col)}),
        cents AS (
            SELECT {id_col} AS cent_id, qvec, qnorm FROM qn
            WHERE {id_col} % {centroid_mod} = 0
            ORDER BY cent_id LIMIT {n_centroids}
        ),
        cellranked AS (
            SELECT qn.{id_col}, qn.qvec, qn.qnorm, c.cent_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY qn.{id_col}
                       ORDER BY ROUND({cdot} / SQRT(CAST(qn.qnorm AS DOUBLE) * CAST(c.qnorm AS DOUBLE)), 6) DESC,
                                c.cent_id ASC
                   ) AS rn
            FROM qn CROSS JOIN cents c
        ),
        assigned AS (
            SELECT {id_col}, qvec, qnorm, cent_id AS cell
            FROM cellranked WHERE rn = 1
        ),
        probes AS (
            SELECT {id_col}, qvec, qnorm, cent_id AS cell
            FROM cellranked WHERE rn <= {nprobe} AND {id_col} % {query_mod} = 0
        ),
        scored AS (
            SELECT qq.{id_col} AS query_id, cc.{id_col} AS neighbor_id,
                   ROUND({dot} / SQRT(CAST(cc.qnorm AS DOUBLE) * CAST(qq.qnorm AS DOUBLE)), 6) AS cosine
            FROM probes qq JOIN assigned cc
              ON cc.cell = qq.cell AND cc.{id_col} <> qq.{id_col}
        ),
        ranked AS (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC
            ) AS rank FROM scored
        )
        SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, cosine
        FROM ranked WHERE rank <= {k}
    """


def ivf_kmeans_ann_topk_sql(
    table: str,
    vec_col: str,
    id_col: str,
    n_centroids: int = 8,
    centroid_mod: int = 61,
    iters: int = 2,
    k: int = 5,
    query_mod: int = 50,
    nprobe: int = 1,
) -> str:
    """DuckDB twin of :func:`ivf_kmeans_ann_topk` — the Lloyd
    iterations unrolled as CTE chains; integer means via ``//``
    (truncation toward zero, = Spark's ``div``)."""
    cdot = _SQL_DOT.format(a="qn.qvec", b="c.qvec")
    norm = (
        "list_reduce(list_prepend(CAST(0 AS BIGINT), "
        "list_transform(qvec, v -> v * v)), (a, b) -> a + b)"
    )
    parts = [f"qn AS ({_sql_qn(table, vec_col, id_col)})"]
    parts.append(
        f"""cents0 AS (
            SELECT {id_col} AS cent_id, qvec, qnorm FROM qn
            WHERE {id_col} % {centroid_mod} = 0
            ORDER BY cent_id LIMIT {n_centroids}
        )"""
    )
    cur = "cents0"
    for i in range(int(iters)):
        a, m, nxt = f"assign{i}", f"means{i}", f"cents{i + 1}"
        parts.append(
            f"""{a} AS (
            SELECT {id_col}, qvec, cent_id AS cell FROM (
                SELECT qn.{id_col}, qn.qvec, c.cent_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY qn.{id_col}
                           ORDER BY ROUND({cdot} / SQRT(CAST(qn.qnorm AS DOUBLE) * CAST(c.qnorm AS DOUBLE)), 6) DESC,
                                    c.cent_id ASC
                       ) AS rn
                FROM qn CROSS JOIN {cur} c
            ) WHERE rn = 1
        )"""
        )
        parts.append(
            f"""{m} AS (
            SELECT cell, pos, CAST(SUM(qvec[pos]) // COUNT(*) AS BIGINT) AS m
            FROM {a}, UNNEST(range(1, len({a}.qvec) + 1)) AS u(pos)
            GROUP BY cell, pos
        )"""
        )
        parts.append(
            f"""{nxt} AS (
            SELECT cent_id, qvec, {norm} AS qnorm FROM (
                SELECT cell AS cent_id, list(m ORDER BY pos) AS qvec
                FROM {m} GROUP BY cell
            )
        )"""
        )
        cur = nxt
    dot = _SQL_DOT.format(a="cc.qvec", b="qq.qvec")
    parts.append(
        f"""cellranked AS (
            SELECT qn.{id_col}, qn.qvec, qn.qnorm, c.cent_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY qn.{id_col}
                       ORDER BY ROUND({cdot} / SQRT(CAST(qn.qnorm AS DOUBLE) * CAST(c.qnorm AS DOUBLE)), 6) DESC,
                                c.cent_id ASC
                   ) AS rn
            FROM qn CROSS JOIN {cur} c
        )"""
    )
    parts.append(
        f"""assigned AS (
            SELECT {id_col}, qvec, qnorm, cent_id AS cell
            FROM cellranked WHERE rn = 1
        )"""
    )
    parts.append(
        f"""probes AS (
            SELECT {id_col}, qvec, qnorm, cent_id AS cell
            FROM cellranked WHERE rn <= {nprobe} AND {id_col} % {query_mod} = 0
        )"""
    )
    parts.append(
        f"""scored AS (
            SELECT qq.{id_col} AS query_id, cc.{id_col} AS neighbor_id,
                   ROUND({dot} / SQRT(CAST(cc.qnorm AS DOUBLE) * CAST(qq.qnorm AS DOUBLE)), 6) AS cosine
            FROM probes qq JOIN assigned cc
              ON cc.cell = qq.cell AND cc.{id_col} <> qq.{id_col}
        )"""
    )
    parts.append(
        """ranked AS (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC
            ) AS rank FROM scored
        )"""
    )
    body = ",\n        ".join(parts)
    return f"""
        WITH {body}
        SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, cosine
        FROM ranked WHERE rank <= {k}
    """


def lsh_ann_topk_sql(
    table: str,
    vec_col: str,
    id_col: str,
    dim: int,
    planes: int = 8,
    k: int = 5,
    query_mod: int = 50,
    multiprobe: int = 0,
) -> str:
    comp = (
        "CAST(('0x' || substr(md5('plane:' || CAST(p AS VARCHAR) || ':' "
        "|| CAST(d AS VARCHAR)), 1, 8)) AS BIGINT) % 2001 - 1000"
    )
    dot = _SQL_DOT.format(a="c.qvec", b="q.qvec")
    if multiprobe:
        probe_sigs = f"""
        probe_sigs AS (
            SELECT {id_col}, sig AS probe_sig FROM sigs
            UNION ALL
            SELECT {id_col}, xor(sig, CAST(1 AS BIGINT) << p) AS probe_sig
            FROM sigs CROSS JOIN UNNEST(range({planes})) AS tp(p)
        ),"""
        probe_join = f"""
            FROM qn q
            JOIN probe_sigs ps ON ps.{id_col} = q.{id_col}
            JOIN qs c ON c.sig = ps.probe_sig AND c.{id_col} <> q.{id_col}"""
    else:
        probe_sigs = ""
        probe_join = f"""
            FROM qs q JOIN qs c ON c.sig = q.sig AND c.{id_col} <> q.{id_col}"""
    return f"""
        WITH qn AS ({_sql_qn(table, vec_col, id_col)}),
        plane AS (
            SELECT p, d, {comp} AS w
            FROM UNNEST(range({planes})) AS tp(p), UNNEST(range({dim})) AS td(d)
        ),
        dots AS (
            SELECT qn.{id_col}, plane.p, SUM(qn.qvec[plane.d + 1] * plane.w) AS pd
            FROM qn CROSS JOIN plane GROUP BY qn.{id_col}, plane.p
        ),
        sigs AS (
            SELECT {id_col},
                   CAST(SUM(CASE WHEN pd > 0 THEN (CAST(1 AS BIGINT) << p) ELSE 0 END) AS BIGINT) AS sig
            FROM dots GROUP BY {id_col}
        ),
        qs AS (SELECT qn.*, sigs.sig FROM qn JOIN sigs USING ({id_col})),{probe_sigs}
        scored AS (
            SELECT q.{id_col} AS query_id, c.{id_col} AS neighbor_id,
                   ROUND({dot} / SQRT(CAST(c.qnorm AS DOUBLE) * CAST(q.qnorm AS DOUBLE)), 6) AS cosine
            {probe_join}
            WHERE q.{id_col} % {query_mod} = 0
        ),
        ranked AS (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC
            ) AS rank FROM scored
        )
        SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, cosine
        FROM ranked WHERE rank <= {k}
    """
