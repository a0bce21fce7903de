"""Corpus curation: the end-to-end LLM-training-data pipeline composed from
the north-star operators — quality filter -> exact dedup -> near-dup
removal — emitting a per-document fate ledger. This is the flow the whole
dedup/text family exists to serve, expressed as one declarative plan that
Catalyst executes with the same broadcast/candidate-generation shapes as
the individual operators.

Stage rules (deterministic, no cascade):
  1. quality: token count in [QUALITY_MIN_TOKENS, QUALITY_MAX_TOKENS] and
     stopword ratio below QUALITY_MAX_STOPWORD_RATIO;
  2. exact: among quality survivors, keep the min doc_id per bag-of-words
     fingerprint;
  3. near-dup: a survivor b is dropped when some MinHash-LSH candidate pair
     (a, b), a < b, verifies at 3-gram Jaccard >= NEAR_DUP_JACCARD and a
     itself survived stages 1-2 (a's survival never depends on this stage,
     so no cascading).

Scale: the near-dup stage consumes dedup_minhash_lsh — band-bucket
candidates verified exactly — never the exhaustive shared-shingle join
(dedup_ngram_jaccard stays a correctness baseline only). This works because
NEAR_DUP_JACCARD >= the LSH verify threshold, so filtering the verified LSH
pairs at NEAR_DUP_JACCARD is exact over the candidate set; the oracle
mirrors the banding so both engines see the same candidate universe.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from .common import memo, t
from .dedup import (
    LSH_VERIFY_THRESHOLD,
    _sql_minhash_lsh_ctes,
    dedup_minhash_lsh,
)
from .text import STOPWORDS as _STOPWORDS
from .text import _SW_SQL

QUALITY_MIN_TOKENS = 20
QUALITY_MAX_TOKENS = 400
QUALITY_MAX_STOPWORD_RATIO = 0.35
NEAR_DUP_JACCARD = 0.8
assert NEAR_DUP_JACCARD >= LSH_VERIFY_THRESHOLD, (
    "curation filters the verified LSH pairs; its threshold must not be "
    "below the LSH verify threshold or pairs would be silently missing"
)


def pipeline_curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document fate ledger: kept | dropped_quality | dropped_exact_dup |
    dropped_near_dup, with the token count that drove the quality decision.

    Memoized and cached lazily (one per-doc row; tiny): four query
    families consume it (the ledger itself, the curation summary, and the
    two training-mix builds) — without it each re-runs the quality window
    + dup resolution."""
    return memo(spark, sf_dir, "curation_fates", lambda: _fates(spark, sf_dir))


def _fates(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n_tokens = F.size(toks).cast("bigint")
    stop_ratio = (
        F.size(F.filter(toks, lambda x: x.isin(_STOPWORDS))).cast("double")
        / n_tokens.cast("double")
    )
    staged = docs.select(
        "doc_id",
        "lang",
        n_tokens.alias("n_tokens"),
        (
            (n_tokens >= QUALITY_MIN_TOKENS)
            & (n_tokens <= QUALITY_MAX_TOKENS)
            & (stop_ratio < QUALITY_MAX_STOPWORD_RATIO)
        ).alias("quality_ok"),
        F.md5(F.array_join(F.array_sort(toks), " ")).alias("bag_fp"),
    )
    keeper_w = W.partitionBy("bag_fp").orderBy(F.asc("doc_id"))
    exact = staged.filter(F.col("quality_ok")).withColumn(
        "exact_keeper", F.row_number().over(keeper_w) == 1
    )
    survivors2 = exact.filter(F.col("exact_keeper")).select("doc_id")

    # near-dup candidates via MinHash band buckets, exact-verified — the
    # 100 TB path; the exhaustive shared-shingle join never runs here
    pairs = dedup_minhash_lsh(spark, sf_dir).filter(
        F.col("jaccard") >= NEAR_DUP_JACCARD
    )
    # b is near-dup-dropped iff matched by some surviving a < b
    dropped_b = (
        pairs.join(
            survivors2.withColumnRenamed("doc_id", "doc_a"), "doc_a", "left_semi"
        )
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
        .withColumn("near_dup", F.lit(True))
    )

    fate = (
        staged.join(
            exact.select("doc_id", "exact_keeper"), "doc_id", "left"
        )
        .join(dropped_b, "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            "n_tokens",
            F.when(~F.col("quality_ok"), F.lit("dropped_quality"))
            .when(~F.col("exact_keeper"), F.lit("dropped_exact_dup"))
            .when(F.col("near_dup"), F.lit("dropped_near_dup"))
            .otherwise(F.lit("kept"))
            .alias("fate"),
        )
    )
    return fate.cache()


# the shared CTE chain ENDING IN the fate table: both curation oracles and
# the training-mix oracle (mix.py) append their own SELECT to this one
# string — no rsplit string surgery, and the fate CASE exists exactly once
ORACLE_CURATE_CTES = f"""
WITH staged AS (
  SELECT doc_id, lang,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         (len(string_split(text, ' ')) BETWEEN {QUALITY_MIN_TOKENS} AND {QUALITY_MAX_TOKENS}
          AND CAST(len(list_filter(string_split(text, ' '),
                        x -> x IN {_SW_SQL})) AS DOUBLE)
              / CAST(len(string_split(text, ' ')) AS DOUBLE)
              < {QUALITY_MAX_STOPWORD_RATIO}) AS quality_ok,
         md5(list_aggregate(list_sort(string_split(text, ' ')), 'string_agg', ' ')) AS bag_fp
  FROM documents
), exact AS (
  SELECT doc_id, row_number() OVER (PARTITION BY bag_fp ORDER BY doc_id) = 1
           AS exact_keeper
  FROM staged WHERE quality_ok
), survivors2 AS (
  SELECT doc_id FROM exact WHERE exact_keeper
), {_sql_minhash_lsh_ctes()}, dropped_b AS (
  SELECT DISTINCT p.doc_b AS doc_id
  FROM lsh_pairs p JOIN survivors2 s ON p.doc_a = s.doc_id
  WHERE p.jaccard >= {NEAR_DUP_JACCARD}
), fate AS (
  SELECT st.doc_id, st.lang, st.n_tokens,
         CASE WHEN NOT st.quality_ok THEN 'dropped_quality'
              WHEN NOT e.exact_keeper THEN 'dropped_exact_dup'
              WHEN d.doc_id IS NOT NULL THEN 'dropped_near_dup'
              ELSE 'kept' END AS fate
  FROM staged st
  LEFT JOIN exact e USING (doc_id)
  LEFT JOIN dropped_b d USING (doc_id)
)"""

ORACLE_CURATE = ORACLE_CURATE_CTES + "\nSELECT doc_id, lang, n_tokens, fate FROM fate"


def pipeline_curation_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation dashboard: doc and token counts per language per fate."""
    fate = pipeline_curate_corpus(spark, sf_dir)
    return fate.groupBy("lang", "fate").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
    )


ORACLE_CURATE_SUMMARY = (
    ORACLE_CURATE_CTES
    + """
SELECT lang, fate,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
FROM fate GROUP BY 1, 2
"""
)


QUERIES: dict[str, tuple] = {
    "pipeline_curate_corpus": (pipeline_curate_corpus, ORACLE_CURATE),
    "pipeline_curation_summary": (pipeline_curation_summary, ORACLE_CURATE_SUMMARY),
}
