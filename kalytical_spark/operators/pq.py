"""IVF-PQ: product quantization over the learned k-means cells — the ANN
index shape that actually survives 100 TB. Full float vectors (256 B at
dim 64) shrink to M = 8 one-byte codes per vector (32x); the scan phase
reads ONLY codes via asymmetric distance computation (ADC), and exact
vectors are fetched just for the RERANK-sized shortlist.

Pipeline (all DataFrame jobs; nothing corpus-sized reaches the driver):
  1. coarse: fit_kmeans_cells (kmeans_ivf.py) gives cells + centroids;
  2. codebooks: per-subspace Lloyd's on the RESIDUAL r = x - centroid,
     all M subspaces trained in ONE mapInPandas pass per iteration
     (map-side partial sums -> groupBy mean; M*Ks*dsub = 1024 aggregated
     rows per update — constants, independent of corpus size);
  3. encode: one pass emitting (vec_id, cell, codes array<int>);
  4. search: probe N_PROBE cells, ADC-score candidates from codes alone
     (per-query LUT of q_m . codebook[m][k], sim ~= q.centroid + sum_m
     LUT[m][code_m]), keep RERANK per query, re-rank exactly.

Determinism: codebook init = residuals of the K vectors with smallest
md5(vec_id) (same convention as the coarse quantizer); argmin ties break
on the lower code (argmin returns the first minimum); means rounded to 6
decimals at broadcast; ADC similarities rounded to 4 decimals before
ranking with vec_id tie-breaks. Rows-only for the driver (not
SQL-expressible); recall and compression are pinned in tests.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from .kmeans_ivf import (
    N_PROBE,
    _normalized,
    fit_kmeans_cells,
    make_pair_scorer,
    make_probe,
)
from .similarity import QUERY_STRIDE, TOP_K
from .common import eager_cache, memo, t

PQ_M = 8  # subspaces
PQ_KS = 16  # codes per subspace (fits 4 bits; stored as int)
PQ_ITERS = 3
PQ_RERANK = 150  # ADC shortlist fed to exact re-rank (30 left sf0.1 recall at 0.19; still O(1) per query)


def _train_codebooks(spark: SparkSession, sf_dir: str):
    """Returns (assignments DF [vec_id, cell], centroids (K, dim),
    codebooks (M, Ks, dsub), cached normalize-join DF) — Lloyd's per
    subspace on residuals, one distributed pass per iteration."""
    import numpy as np

    assignments, C = fit_kmeans_cells(spark, sf_dir)
    emb = t(spark, sf_dir, "embeddings")
    # cached: the seed collect + PQ_ITERS training passes + the encode pass
    # all scan this normalize-join; without the cache each pass re-reads the
    # parquet and re-runs the shuffle join (same rationale as the cache in
    # fit_kmeans_cells)
    nemb = _normalized(emb).join(assignments, "vec_id").cache()
    dim = C.shape[1]
    assert dim % PQ_M == 0, (
        f"embedding dim {dim} is not divisible by PQ_M={PQ_M}: the subspace "
        "split would silently drop the trailing coordinates from codebook "
        "training, encoding, and the ADC LUT"
    )
    dsub = dim // PQ_M

    # deterministic init: residual subvectors of the PQ_KS vectors with the
    # smallest md5(vec_id) — a bounded K-sized collect
    seed_rows = (
        nemb.withColumn("h", F.md5(F.col("vec_id").cast("string")))
        .orderBy("h")
        .limit(PQ_KS)
        .select("vec_id", "nemb", "cell")
        .collect()
    )
    seeds = sorted(seed_rows, key=lambda r: r.vec_id)
    R0 = np.stack(
        [np.asarray(r.nemb, dtype=np.float64) - C[r.cell] for r in seeds]
    )
    B = np.stack([R0[:, m * dsub : (m + 1) * dsub] for m in range(PQ_M)])  # (M,Ks,dsub)

    for _ in range(PQ_ITERS):
        bB = spark.sparkContext.broadcast(np.round(B, 6))
        bC = spark.sparkContext.broadcast(C)

        def stats(batches):
            Bb, Cb = bB.value, bC.value
            for pdf in batches:
                X = np.stack(pdf["nemb"].map(lambda a: np.asarray(a, dtype=np.float64)))
                R = X - Cb[pdf["cell"].to_numpy()]
                out_m, out_k, out_p, out_s, out_c = [], [], [], [], []
                for m in range(PQ_M):
                    S = R[:, m * dsub : (m + 1) * dsub]
                    # argmin ||s - b||^2 == argmax 2 s.b - ||b||^2
                    scores = 2 * (S @ Bb[m].T) - (Bb[m] ** 2).sum(axis=1)
                    code = scores.argmax(axis=1)
                    sums = np.zeros((PQ_KS, dsub))
                    np.add.at(sums, code, S)
                    counts = np.bincount(code, minlength=PQ_KS)
                    present = np.flatnonzero(counts)
                    k_idx = np.repeat(present, dsub)
                    out_m.append(np.full(len(present) * dsub, m, dtype="int32"))
                    out_k.append(k_idx.astype("int32"))
                    out_p.append(np.tile(np.arange(dsub, dtype="int32"), len(present)))
                    out_s.append(sums[present].reshape(-1))
                    out_c.append(counts[k_idx].astype("int64"))
                yield pd.DataFrame(
                    {
                        "m": np.concatenate(out_m),
                        "code": np.concatenate(out_k),
                        "pos": np.concatenate(out_p),
                        "s": np.concatenate(out_s),
                        "c": np.concatenate(out_c),
                    }
                )

        upd = (
            nemb.mapInPandas(stats, schema="m int, code int, pos int, s double, c long")
            .groupBy("m", "code", "pos")
            .agg(F.round(F.sum("s") / F.sum("c"), 9).alias("mean"))
            .collect()
        )
        B_new = B.copy()  # empty codes keep their centroid
        for r in upd:
            B_new[r.m, r.code, r.pos] = r.mean
        B = B_new
    # hand the cached normalize-join to the caller (the encode pass scans it
    # once more, then unpersists)
    return assignments, C, np.round(B, 6), nemb


def _pq_index(spark: SparkSession, sf_dir: str):
    """(encoded cached DF [vec_id, cell, codes], centroids C, codebooks B)
    — the stored IVF-PQ index artifact, memoized per (session, sf_dir):
    sim_topk_ivfpq and its verified twin (ann_verify.py) share one fit."""
    return memo(spark, sf_dir, "pq_codebooks", lambda: _build_pq_index(spark, sf_dir))


def _build_pq_index(spark: SparkSession, sf_dir: str):
    import numpy as np

    assignments, C, B, joined_nemb = _train_codebooks(spark, sf_dir)
    dim = C.shape[1]
    dsub = dim // PQ_M
    bB = spark.sparkContext.broadcast(B)
    bC = spark.sparkContext.broadcast(C)

    def encode(batches):
        Bb, Cb = bB.value, bC.value
        for pdf in batches:
            X = np.stack(pdf["nemb"].map(lambda a: np.asarray(a, dtype=np.float64)))
            R = X - Cb[pdf["cell"].to_numpy()]
            codes = np.empty((len(pdf), PQ_M), dtype=np.int32)
            for m in range(PQ_M):
                S = R[:, m * dsub : (m + 1) * dsub]
                scores = 2 * (S @ Bb[m].T) - (Bb[m] ** 2).sum(axis=1)
                codes[:, m] = scores.argmax(axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "cell": pdf["cell"],
                    "codes": list(codes),
                }
            )

    encoded = eager_cache(
        joined_nemb.mapInPandas(encode, schema="vec_id long, cell int, codes array<int>")
    )
    joined_nemb.unpersist()
    return encoded, C, B


def pq_shortlist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ADC shortlist (query_id, vec_id): probe N_PROBE cells, score
    candidates from codes alone, keep the PQ_RERANK best per query. This is
    the LEARNED leg of the search (its quality is the recall report's
    contract); the exact re-rank downstream of it is deterministic and is
    brute-force-audited by the verified twin in ann_verify.py."""
    import numpy as np

    encoded, C, B = _pq_index(spark, sf_dir)
    emb = t(spark, sf_dir, "embeddings")
    dim = C.shape[1]
    dsub = dim // PQ_M
    bB = spark.sparkContext.broadcast(B)
    bC = spark.sparkContext.broadcast(C)

    queries = emb.filter(F.col("vec_id") % QUERY_STRIDE == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )

    # the probe stage is kmeans_ivf.make_probe — ONE definition shared with
    # sim_topk_kmeans_ivf, so probe semantics (round-to-4 stable tie-break,
    # zero-norm guard) cannot drift between the two index families
    probed = queries.mapInPandas(
        make_probe(bC, N_PROBE), schema="query_id long, q_emb array<float>, cell int"
    )

    def adc(batches):
        Bb, Cb = bB.value, bC.value
        for pdf in batches:
            if not len(pdf):
                continue
            frames = []
            for (qid, cell), grp in pdf.groupby(["query_id", "cell"], sort=True):
                q = np.asarray(grp["q_emb"].iloc[0], dtype=np.float64)
                q /= np.linalg.norm(q) or 1.0  # zero-norm query stays zero
                base = float(q @ Cb[cell])
                # LUT[m, k] = q_m . codebook[m][k]
                lut = np.stack(
                    [q[m * dsub : (m + 1) * dsub] @ Bb[m].T for m in range(PQ_M)]
                )
                codes = np.stack(grp["codes"].to_numpy())
                approx = base + lut[np.arange(PQ_M), codes].sum(axis=1)
                frames.append(
                    pd.DataFrame(
                        {
                            "query_id": qid,
                            "vec_id": grp["vec_id"],
                            "adc_sim": np.round(approx, 4),
                        }
                    )
                )
            if frames:
                yield pd.concat(frames)

    cand = (
        probed.join(encoded, "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .mapInPandas(adc, schema="query_id long, vec_id long, adc_sim double")
    )
    short_w = W.partitionBy("query_id").orderBy(F.desc("adc_sim"), F.asc("vec_id"))
    return (
        cand.withColumn("srk", F.row_number().over(short_w))
        .filter(F.col("srk") <= PQ_RERANK)
        .select("query_id", "vec_id")
    )


def sim_topk_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ top-k: ADC over 8-byte codes within probed cells, exact
    re-rank of the shortlist. Same output shape as the other sim_topk_*
    queries (query_id, rank, vec_id, cos_sim)."""
    emb = t(spark, sf_dir, "embeddings")
    shortlist = pq_shortlist(spark, sf_dir)

    # exact re-rank: fetch true vectors ONLY for the shortlist
    qn = emb.filter(F.col("vec_id") % QUERY_STRIDE == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_full")
    )
    ev = emb.select("vec_id", F.col("embedding").alias("v_full"))
    joined = shortlist.join(F.broadcast(qn), "query_id").join(ev, "vec_id")

    # exact re-rank scoring = kmeans_ivf.make_pair_scorer (shared)
    scored = joined.mapInPandas(
        make_pair_scorer("q_full", "v_full"),
        schema="query_id long, vec_id long, cos_sim double",
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "rank", "vec_id", "cos_sim")
    )


QUERIES: dict[str, tuple] = {
    "sim_topk_ivfpq": (sim_topk_ivfpq, None),
}
