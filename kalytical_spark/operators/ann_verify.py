"""Bounded-oracle verification twins for the four learned-ANN top-k
queries — the last rows-only entries in the registry (VERDICT r8 task 1).

A learned index's top-k output cannot be SQL-expressed (which neighbors
come back depends on k-means cells / PQ codes), so `sim_topk_kmeans_ivf`,
`sim_topk_ivfpq`, `sim_topk_ivf_incremental` and `sim_maxsim_ivf_pruned`
ship rows-only, each with an oracle-green recall-report companion. That
contract is industry-standard but weaker than the rest of the registry.
This module closes the gap with the repo's own bounded-oracle pattern
(ivf_incremental.py:21-44): quarantine the LEARNED artifact (the candidate
set the index produced) and brute-force-audit every DETERMINISTIC leg
downstream of it, folding each audit into a boolean the DuckDB twin
asserts TRUE — any drift flips the boolean and fails the value hash.

Each `*_verified` twin emits ONE summary row:

* `n_queries`, `n_sampled`, `k` — exactly SQL-recomputable from the
  embeddings table (query stride, sample cap, constant k);
* `rows_complete_ok` — every query returned exactly
  least(k, |its candidate set|) neighbors: no query dropped, no neighbor
  lost at the window/limit seam, no extra rows;
* `ranks_dense_ok` — per query the rank column is exactly 1..count
  (dense, duplicate-free: the row_number contract);
* `scores_exact_ok` — EVERY returned (query, neighbor) score equals an
  INDEPENDENT exact recomputation from the raw embedding columns. The
  production scorers are Arrow-batched numpy (kmeans_ivf.make_pair_scorer);
  the recompute here is the JVM-side fold `similarity._cos_rounded` — a
  disjoint implementation whose own output is oracle-proven bit-equal to
  DuckDB in sim_topk_bruteforce, so a numpy scoring bug cannot hide;
* `sampled_topk_exact_ok` — over the ANN_VERIFY_SAMPLE_Q md5-smallest
  queries, the returned top-k equals the EXHAUSTIVE re-ranking of that
  query's full candidate set (every candidate re-scored with the
  independent scorer, ranked desc score / asc vec_id): given the index,
  the search is exact. Sampling bounds the audit at 100 TB (the candidate
  sets are corpus-sized in aggregate); the deterministic md5 order makes
  the audited subset reproducible, same convention as
  ivf_incremental.BOUNDARY_BASE_SAMPLE.

What stays quarantined (and why that is sound): WHICH cells a query
probes and WHICH vectors live in a cell are the learned parts — their
quality is exactly what the oracle-green recall reports floor-assert.
Everything after candidate generation (scoring, ranking, tie-breaks,
k-truncation, completeness) is deterministic and is what these twins
brute-force. Together with the recall companions this makes every ANN
query either directly SQL-checked or boolean-audited + recall-floored.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from .common import memo, t
from .similarity import QUERY_STRIDE, TOP_K, _cos_rounded

ANN_VERIFY_SAMPLE_Q = 64  # queries whose candidate sets are exhaustively re-ranked
# retention gate for the quarantined candidate cache (one row per probed
# candidate — the audit's memory ceiling at production scale): above this
# the cache is dropped right after the gating count and the audit legs
# recompute candidate generation instead of pinning a corpus-scale cache
# (the colbert.py size-regime convention; VERDICT r9 task 7 / ADVICE r9).
# The transient materialization is MEMORY_AND_DISK, so the count pass
# itself spills rather than bets executor memory.
ANN_VERIFY_CACHE_MAX_ROWS = 20_000_000


def _queries_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    return emb.filter(F.col("vec_id") % QUERY_STRIDE == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )


def _violation(*conds: Column) -> Column:
    """Kleene OR-fold of violation conditions. The isNull guards in each
    call site guarantee the later comparisons are only evaluated over
    non-null operands (Kleene OR is symmetric — any TRUE disjunct widens
    a null — so guard ORDER is immaterial; the guards exist so the fold
    can never be null and silently drop out of the violation SUM)."""
    out = conds[0]
    for c in conds[1:]:
        out = out | c
    return out


def _topk_verify_summary(
    spark: SparkSession,
    sf_dir: str,
    topk: DataFrame,
    candidates: DataFrame,
    score_col: str,
    recompute: Column,
) -> DataFrame:
    """The shared audit over (topk, quarantined candidate set): see the
    module docstring for the per-column contract.

    ``topk``: (query_id, rank, vec_id, <score_col>) — the production ANN
    output. ``candidates``: (query_id, vec_id) — the index's candidate
    pairs, duplicate-free, self-matches excluded. ``recompute``: exact
    score expression over columns named q_emb / embedding, same dtype and
    rounding convention as <score_col>."""
    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    queries = _queries_df(spark, sf_dir)
    # both cached: the audit's legs are independent subtrees, and uncached
    # they would re-run the production search (topk, n_queries x k rows)
    # and the index's candidate generation (the dominant stage — the PQ
    # twin would otherwise replay the ADC scan three times) once per
    # consumer. topk is k rows/query — always small. The candidate cache
    # is count-gated: at production scale it is the audit's memory
    # ceiling, so above ANN_VERIFY_CACHE_MAX_ROWS it is dropped and the
    # legs recompute. Both caches are released after the summary row
    # materializes (the audit is cache-invariant by construction —
    # tests/test_ann_verify.py pins that), so repeated audits never
    # accumulate executor storage (ADVICE r9).
    topk = topk.cache()
    candidates = candidates.cache()
    if candidates.count() > ANN_VERIFY_CACHE_MAX_ROWS:
        candidates.unpersist()
        cand_cached = False
    else:
        cand_cached = True

    sampled = (
        queries.select("query_id")
        .withColumn("h", F.md5(F.col("query_id").cast("string")))
        .orderBy("h")
        .limit(ANN_VERIFY_SAMPLE_Q)
        .select("query_id")
    )

    # --- shape: completeness + dense ranks, per query -------------------
    per_q = topk.groupBy("query_id").agg(
        F.count("*").alias("cnt"),
        F.min("rank").alias("rmin"),
        F.max("rank").alias("rmax"),
        F.countDistinct("rank").alias("rdis"),
    )
    cand_cnt = candidates.groupBy("query_id").agg(F.count("*").alias("n_cand"))
    shape = per_q.join(cand_cnt, "query_id", "full").agg(
        F.coalesce(
            F.sum(
                _violation(
                    F.col("cnt").isNull(),
                    F.col("n_cand").isNull(),
                    F.col("cnt") != F.least(F.lit(TOP_K).cast("long"), F.col("n_cand")),
                ).cast("bigint")
            ),
            F.lit(0).cast("bigint"),
        ).alias("n_incomplete"),
        F.coalesce(
            F.sum(
                _violation(
                    F.col("cnt").isNull(),
                    F.col("rmin") != 1,
                    F.col("rmax") != F.col("cnt"),
                    F.col("rdis") != F.col("cnt"),
                ).cast("bigint")
            ),
            F.lit(0).cast("bigint"),
        ).alias("n_rank_bad"),
    )

    # --- scores: every returned pair re-scored independently ------------
    rescored = topk.join(queries, "query_id").join(emb, "vec_id")
    score_audit = rescored.agg(
        F.coalesce(
            F.sum((~F.col(score_col).eqNullSafe(recompute)).cast("bigint")),
            F.lit(0).cast("bigint"),
        ).alias("n_score_bad"),
        F.count("*").alias("n_rescored"),
    )
    n_topk = topk.agg(F.count("*").alias("n_topk"))

    # --- sampled queries: exhaustive re-rank of the candidate set -------
    ref_scored = (
        candidates.join(F.broadcast(sampled), "query_id")
        .join(F.broadcast(queries), "query_id")
        .join(emb, "vec_id")
        .select("query_id", "vec_id", recompute.alias("ref_score"))
    )
    rw = W.partitionBy("query_id").orderBy(F.desc("ref_score"), F.asc("vec_id"))
    ref_topk = (
        ref_scored.withColumn("ref_rank", F.row_number().over(rw))
        .filter(F.col("ref_rank") <= TOP_K)
        .select("query_id", "vec_id", "ref_rank", "ref_score")
    )
    got = topk.join(F.broadcast(sampled), "query_id").select(
        "query_id",
        "vec_id",
        F.col("rank").alias("got_rank"),
        F.col(score_col).alias("got_score"),
    )
    sample_audit = (
        ref_topk.join(got, ["query_id", "vec_id"], "full")
        .agg(
            F.coalesce(
                F.sum(
                    _violation(
                        F.col("ref_rank").isNull(),
                        F.col("got_rank").isNull(),
                        F.col("ref_rank") != F.col("got_rank"),
                        ~F.col("ref_score").eqNullSafe(F.col("got_score")),
                    ).cast("bigint")
                ),
                F.lit(0).cast("bigint"),
            ).alias("n_sample_bad")
        )
    )

    base = queries.agg(F.count("*").cast("int").alias("n_queries"))
    summary = (
        base.crossJoin(F.broadcast(shape))
        .crossJoin(F.broadcast(score_audit))
        .crossJoin(F.broadcast(n_topk))
        .crossJoin(F.broadcast(sample_audit))
        .select(
            "n_queries",
            F.least(F.lit(ANN_VERIFY_SAMPLE_Q), F.col("n_queries"))
            .cast("int")
            .alias("n_sampled"),
            F.lit(TOP_K).cast("int").alias("k"),
            (F.col("n_incomplete") == 0).alias("rows_complete_ok"),
            (F.col("n_rank_bad") == 0).alias("ranks_dense_ok"),
            (
                (F.col("n_score_bad") == 0)
                & (F.col("n_rescored") == F.col("n_topk"))
            ).alias("scores_exact_ok"),
            (F.col("n_sample_bad") == 0).alias("sampled_topk_exact_ok"),
        )
    )
    # materialize the single summary row, then release both caches: the
    # result is one local row, so returning it as a local relation costs
    # nothing and lets repeated audits run without storage accumulation
    rows = summary.collect()
    topk.unpersist()
    if cand_cached:
        candidates.unpersist()
    return spark.createDataFrame(rows, summary.schema)


_ORACLE_VERIFIED = f"""
SELECT CAST(COUNT(*) AS INTEGER) AS n_queries,
       CAST(LEAST({ANN_VERIFY_SAMPLE_Q}, COUNT(*)) AS INTEGER) AS n_sampled,
       CAST({TOP_K} AS INTEGER) AS k,
       TRUE AS rows_complete_ok,
       TRUE AS ranks_dense_ok,
       TRUE AS scores_exact_ok,
       TRUE AS sampled_topk_exact_ok
FROM embeddings WHERE vec_id % {QUERY_STRIDE} = 0
"""


# ---------------------------------------------------------------------------
# candidate-set reconstructions: deterministic replays of each index's
# candidate generation (learned artifacts memoized, so the fit is shared
# with the production query — the twin audits the SAME index)
# ---------------------------------------------------------------------------


def _kmeans_candidates(spark: SparkSession, sf_dir: str, assignments, C) -> DataFrame:
    from .kmeans_ivf import N_PROBE, make_probe

    queries = _queries_df(spark, sf_dir)
    bC = spark.sparkContext.broadcast(C)
    probed = queries.mapInPandas(
        make_probe(bC, N_PROBE), schema="query_id long, q_emb array<float>, cell int"
    )
    # each vector lives in exactly one cell and probed cells are distinct
    # per query, so the pairs are duplicate-free without a distinct()
    return (
        probed.select("query_id", "cell")
        .join(assignments, "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id")
    )


# Each public twin memoizes its ONE-row summary under its own name: the
# r10 cache-release hygiene made every invocation re-pay the production
# search + the index's candidate generation + three audit legs
# (sim_maxsim_ivf_pruned_verified 9.5 -> 37.9 s in the r10 driver bench —
# VERDICT r10 task 2). The audited artifacts are deterministic per
# (session, sf_dir): the learned fits are themselves memoized, so
# re-running the audit in one session can only reproduce the same row.
# The intermediates stay unpersisted (ADVICE r9) — the memo holds a local
# 1-row relation, not a cache. _topk_verify_summary stays memo-free so
# the tamper-teeth tests keep driving it directly.
def sim_topk_kmeans_ivf_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-oracle audit of sim_topk_kmeans_ivf (kmeans_ivf.py)."""

    def build():
        from .kmeans_ivf import fit_kmeans_cells, sim_topk_kmeans_ivf

        assignments, C = fit_kmeans_cells(spark, sf_dir)
        return _topk_verify_summary(
            spark,
            sf_dir,
            sim_topk_kmeans_ivf(spark, sf_dir),
            _kmeans_candidates(spark, sf_dir, assignments, C),
            "cos_sim",
            _cos_rounded(F.col("q_emb"), F.col("embedding")),
        )

    return memo(spark, sf_dir, "sim_topk_kmeans_ivf_verified", build)


def sim_topk_ivf_incremental_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-oracle audit of sim_topk_ivf_incremental: same contract,
    over the incrementally MAINTAINED index (frozen base centroids,
    base+delta assignments)."""

    def build():
        from .ivf_incremental import _maintained_index, sim_topk_ivf_incremental

        assignments, C = _maintained_index(spark, sf_dir)
        return _topk_verify_summary(
            spark,
            sf_dir,
            sim_topk_ivf_incremental(spark, sf_dir),
            _kmeans_candidates(spark, sf_dir, assignments, C),
            "cos_sim",
            _cos_rounded(F.col("q_emb"), F.col("embedding")),
        )

    return memo(spark, sf_dir, "sim_topk_ivf_incremental_verified", build)


def sim_topk_ivfpq_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-oracle audit of sim_topk_ivfpq: the quarantined artifact is
    the ADC shortlist (the learned first stage); the exact re-rank over it
    — the leg that decides the returned neighbors and scores — is audited
    in full (scores) and exhaustively on the sampled queries."""

    def build():
        from .pq import pq_shortlist, sim_topk_ivfpq

        return _topk_verify_summary(
            spark,
            sf_dir,
            sim_topk_ivfpq(spark, sf_dir),
            pq_shortlist(spark, sf_dir),
            "cos_sim",
            _cos_rounded(F.col("q_emb"), F.col("embedding")),
        )

    return memo(spark, sf_dir, "sim_topk_ivfpq_verified", build)


def sim_maxsim_ivf_pruned_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-oracle audit of sim_maxsim_ivf_pruned: candidates replayed
    from the token-cell postings (colbert.fit_token_cells, memoized — the
    same index the production query probes); scores re-derived with the
    _MAXSIM expression, which is itself oracle-proven exact in
    sim_maxsim_topk, so here it audits the candidate-join / window / top-k
    legs."""

    def build():
        import numpy as np
        import pandas as pd

        from .colbert import (
            MAXSIM_NTOK,
            MAXSIM_TDIM,
            N_PROBE_TOK,
            _MAXSIM,
            fit_token_cells,
            sim_maxsim_ivf_pruned,
        )

        postings, C = fit_token_cells(spark, sf_dir)
        queries = _queries_df(spark, sf_dir)
        bC = spark.sparkContext.broadcast(C)

        def probe(batches):
            Cb = bC.value
            cn = (Cb * Cb).sum(axis=1)
            for pdf in batches:
                if not len(pdf):
                    continue
                rows = []
                for qid, q in zip(pdf["query_id"], pdf["q_emb"]):
                    T = np.asarray(q, dtype=np.float64).reshape(MAXSIM_NTOK, MAXSIM_TDIM)
                    near = np.argsort(-(2.0 * (T @ Cb.T) - cn), axis=1, kind="stable")
                    cells = np.unique(near[:, :N_PROBE_TOK])
                    rows.append(
                        pd.DataFrame({"query_id": qid, "cell": cells.astype("int32")})
                    )
                yield pd.concat(rows, ignore_index=True)

        probed = queries.select("query_id", "q_emb").mapInPandas(
            probe, schema="query_id long, cell int"
        )
        candidates = (
            probed.join(postings, "cell")
            .select("query_id", "vec_id")
            .distinct()
            .filter(F.col("vec_id") != F.col("query_id"))
        )
        return _topk_verify_summary(
            spark,
            sf_dir,
            sim_maxsim_ivf_pruned(spark, sf_dir),
            candidates,
            "score_e4",
            F.expr(_MAXSIM),
        )

    return memo(spark, sf_dir, "sim_maxsim_ivf_pruned_verified", build)


QUERIES: dict[str, tuple] = {
    "sim_topk_kmeans_ivf_verified": (sim_topk_kmeans_ivf_verified, _ORACLE_VERIFIED),
    "sim_topk_ivf_incremental_verified": (
        sim_topk_ivf_incremental_verified,
        _ORACLE_VERIFIED,
    ),
    "sim_topk_ivfpq_verified": (sim_topk_ivfpq_verified, _ORACLE_VERIFIED),
    "sim_maxsim_ivf_pruned_verified": (
        sim_maxsim_ivf_pruned_verified,
        _ORACLE_VERIFIED,
    ),
}
