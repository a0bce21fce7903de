"""K-means IVF: a LEARNED coarse quantizer for similarity search — Lloyd's
iterations expressed as DataFrame operations (assign = broadcast centroid
matrix via a pandas batch, update = distributed posexplode + groupBy mean),
then the IVF probe-and-search over the learned cells.

This is the iterative-algorithm execution pattern (loop of deterministic
DataFrame jobs with a driver-side convergence check) and the real ANN
index: the label-cell IVF in similarity.py exists for oracle parity, but
labels are weak quantizers on this corpus — the learned cells probe better
(recall measured head-to-head in tests).

Scale: NOTHING corpus-sized ever reaches the driver. Per iteration the
driver receives exactly K x dim aggregated rows (the centroid update from
``groupBy(cell, pos).avg``) and broadcasts the K x dim matrix back out;
assignments stay a cached DataFrame. At 100 TB the per-iteration cost is
one scan + one shuffle of K*dim*n_partition partial aggregates.

Determinism: initialization picks the K vectors with the smallest
md5(vec_id) (a deterministic pseudo-random sample); assignment ties break
on the lower centroid id (argmax returns the first max); the distributed
mean is rounded to 9 decimals before the driver renormalizes, and centroids
are rounded to 6 decimals at broadcast, so the fit is reproducible
run-to-run and partitioning-independent. Rows-only for the driver (k-means
is not SQL-expressible); tests pin determinism and recall.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from .common import memo, t
from .similarity import QUERY_STRIDE, TOP_K, _dbl, _dot

K_CELLS = 16
N_ITERS = 5
N_PROBE = 4
KMEANS_FIT_SAMPLE = 65536  # Lloyd's training-sample cap (md5-smallest)


def _normalized(emb: DataFrame) -> DataFrame:
    """L2-normalized embeddings, JVM-side (no Python in the plan). The
    norm is projected as a COLUMN before the divide: embedding the O(dim)
    aggregate fold inside the transform() lambda would re-evaluate it per
    element (higher-order-function bodies are not hoisted — O(dim^2) per
    row). A zero-norm vector divides by 1 and stays zero instead of
    NaN-poisoning every downstream centroid/similarity."""
    d = _dbl(F.col("embedding"))
    staged = emb.select("vec_id", d.alias("demb")).withColumn(
        "nrm", F.sqrt(_dot(F.col("demb"), F.col("demb")))
    )
    safe = F.when(F.col("nrm") == 0.0, F.lit(1.0)).otherwise(F.col("nrm"))
    return staged.select(
        "vec_id",
        F.transform(F.col("demb"), lambda x: x / safe).alias("nemb"),
    )


def _stack_unit(series) -> "np.ndarray":  # noqa: F821 - numpy local import convention
    """Rows of an Arrow list column as a unit-normalized float64 matrix;
    zero-norm rows stay zero (divide by 1) instead of going NaN."""
    import numpy as np

    X = np.stack(series.map(lambda a: np.asarray(a, dtype=np.float64)))
    n = np.linalg.norm(X, axis=1, keepdims=True)
    n[n == 0] = 1.0
    return X / n


def make_probe(bC, n_probe: int):
    """Shared IVF probe stage (used by sim_topk_kmeans_ivf AND the IVF-PQ
    index in pq.py — one definition, so probe semantics incl. the
    round-to-4 stable tie-break can never drift): each query row fans out
    to its n_probe nearest centroids."""
    import numpy as np
    import pandas as pd  # noqa: F401 - batches are pandas frames

    def probe(batches):
        Cb = bC.value
        for pdf in batches:
            if not len(pdf):
                continue
            X = _stack_unit(pdf["q_emb"])
            sims = X @ Cb.T
            top = np.argsort(-np.round(sims, 4), axis=1, kind="stable")[:, :n_probe]
            out = pdf.loc[
                pdf.index.repeat(n_probe), ["query_id", "q_emb"]
            ].reset_index(drop=True)
            out["cell"] = top.reshape(-1).astype("int32")
            yield out

    return probe


def make_pair_scorer(q_col: str, v_col: str):
    """Shared exact-cosine pair scorer (kmeans IVF final scoring AND the
    PQ re-rank): rounds to 4 decimals for the deterministic tie-break."""
    import numpy as np
    import pandas as pd

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            A = _stack_unit(pdf[q_col])
            B = _stack_unit(pdf[v_col])
            sims = np.round(np.einsum("ij,ij->i", A, B), 4)
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"],
                    "vec_id": pdf["vec_id"],
                    "cos_sim": sims,
                }
            )

    return score


def fit_kmeans_cells(spark: SparkSession, sf_dir: str, exclude_delta_mod: int | None = None):
    """Memoized _fit_kmeans_cells: the coarse quantizer is shared by
    sim_topk_kmeans_ivf and the IVF-PQ index (pq.py), trained once per
    (session, sf_dir, exclude_delta_mod)."""
    return memo(
        spark,
        sf_dir,
        "kmeans_fit",
        lambda: _fit_kmeans_cells(spark, sf_dir, exclude_delta_mod),
        exclude_delta_mod,
    )


def _fit_kmeans_cells(spark: SparkSession, sf_dir: str, exclude_delta_mod: int | None):
    """Lloyd's on the KMEANS_FIT_SAMPLE md5-smallest normalized vectors
    (driver-local, bounded — the sample IS the corpus at every gate/bench
    scale), then one distributed mapInPandas pass assigns the full corpus
    under the frozen broadcast centroids: the driver never holds more
    than the sample + K x dim values, and assignments stay a cached
    DataFrame.

    ``exclude_delta_mod`` fits on the BASE slice only (vec_id % mod != 0)
    — "yesterday's index" for the incremental-maintenance family
    (ivf_incremental.py); the default fits the whole corpus.

    Returns (assignments DataFrame [vec_id, cell], centroids ndarray)."""
    import numpy as np

    emb = t(spark, sf_dir, "embeddings")
    if exclude_delta_mod is not None:
        emb = emb.filter(F.col("vec_id") % exclude_delta_mod != 0)
    n_part = spark.sparkContext.defaultParallelism
    nemb = _normalized(emb).repartition(n_part).cache()

    # IVF cell count scales ~sqrt(N): with K fixed, cells grow linearly
    # with the corpus and (since the query set also scales) probe work
    # goes QUADRATIC — the scale sweep measured exactly that bend
    # (emb:k100 probe 54s before this). sqrt scaling balances fit cost
    # (N*K) against probe cost (queries * N_PROBE * N/K), both N^1.5.
    # At the driver/gate corpora (<= ~2e3 vectors) this floor keeps
    # K == K_CELLS, so oracle-gated recall behavior is unchanged.
    n_vecs = nemb.count()
    # seeds come from the sample, so K is bounded by it (binds far past
    # any tested corpus; a production build raises the sample cap)
    k_cells = min(max(K_CELLS, int((n_vecs / 8) ** 0.5)), KMEANS_FIT_SAMPLE)

    # Lloyd's on a BOUNDED deterministic sample (the colbert.fit_token_cells
    # build shape, backported): the KMEANS_FIT_SAMPLE md5-smallest vectors
    # train locally on the driver (<= 65k x dim doubles), then ONE
    # distributed pass assigns the full corpus under the frozen centroids.
    # At every gate/bench corpus the sample IS the whole corpus, so the
    # semantics are the full-data fit; the win is five mapInPandas+collect
    # round-trips replaced by one collect + single-threaded numpy
    # (memo:kmeans_fit 6.7s -> ~2s) — and at sweep scale the fit cost is
    # bounded by the sample, not the corpus.
    sample_rows = (
        nemb.withColumn("h", F.md5(F.col("vec_id").cast("string")))
        .orderBy("h")
        .limit(KMEANS_FIT_SAMPLE)
        .select("h", "vec_id", "nemb")
        .collect()
    )
    sample_rows.sort(key=lambda r: r.h)  # fixed training order: reproducible
    S = np.stack([np.asarray(r.nemb, dtype=np.float64) for r in sample_rows])
    # init preserved from the distributed fit: the K smallest-md5 vectors
    # ORDERED BY vec_id (the sample is hash-ordered, so its first K rows
    # are exactly the old seed set — re-sorted to the old seed order, the
    # learned cells and downstream recall stay where the floors were set)
    seed_idx = sorted(range(k_cells), key=lambda i: sample_rows[i].vec_id)
    C = S[seed_idx].copy()

    for _ in range(N_ITERS):
        Cr = np.round(C, 6)
        # cosine assignment with lower-cell tie-break (argmax returns the
        # first max), mean update rounded to 9 decimals, renormalized —
        # the same arithmetic the distributed update performed
        cell = (S @ Cr.T).argmax(axis=1)
        sums = np.zeros_like(C)
        np.add.at(sums, cell, S)
        counts = np.bincount(cell, minlength=C.shape[0])
        C_new = C.copy()  # empty cells keep their centroid
        present = np.flatnonzero(counts)
        means = np.round(sums[present] / counts[present, None], 9)
        norms = np.linalg.norm(means, axis=1)
        norms[norms == 0] = 1.0
        C_new[present] = means / norms[:, None]
        C = C_new

    bC = spark.sparkContext.broadcast(np.round(C, 6))

    def assign(batches):
        Cb = bC.value
        for pdf in batches:
            X = np.stack(pdf["nemb"].map(lambda a: np.asarray(a, dtype=np.float64)))
            cell = (X @ Cb.T).argmax(axis=1).astype("int32")
            yield pd.DataFrame({"vec_id": pdf["vec_id"], "cell": cell})

    # final assignment under the FINAL centroids, so the returned index and
    # the probe centroids are consistent
    assignments = nemb.mapInPandas(assign, schema="vec_id long, cell int").cache()
    assignments.count()
    # assignments is materialized in its own cache; the normalized-corpus
    # cache is no longer needed
    nemb.unpersist()
    return assignments, np.round(C, 6)


def sim_topk_kmeans_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k over the learned cells: probe the N_PROBE nearest centroids
    per query, brute-force only those cells (rows-only check; recall vs the
    exact baseline is pinned in tests and beats the label-cell variant)."""
    import numpy as np

    emb = t(spark, sf_dir, "embeddings")
    assignments, C = fit_kmeans_cells(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") % QUERY_STRIDE == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    bC = spark.sparkContext.broadcast(C)

    probed = queries.mapInPandas(
        make_probe(bC, N_PROBE), schema="query_id long, q_emb array<float>, cell int"
    )
    cand = probed.join(assignments, "cell").join(
        emb.select("vec_id", "embedding"), "vec_id"
    ).filter(F.col("vec_id") != F.col("query_id"))
    scored = cand.mapInPandas(
        make_pair_scorer("q_emb", "embedding"),
        schema="query_id long, vec_id long, cos_sim double",
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "rank", "vec_id", "cos_sim")
    )


QUERIES: dict[str, tuple] = {
    "sim_topk_kmeans_ivf": (sim_topk_kmeans_ivf, None),
}
