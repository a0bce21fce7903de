"""Near-duplicate cluster resolution: connected components over the
MinHash-LSH verified pair graph, so transitive duplicate chains (a~b, b~c)
collapse to ONE canonical keeper instead of the pairwise view leaving
a/c both alive. This is the step a production dedup pipeline runs between
pair mining and document selection.

Spark-first shape: iterative min-label propagation PLUS pointer-doubling
(Shiloach-Vishkin shortcutting: label(v) <- label(label(v))) expressed as
DataFrame joins, with a driver-side scalar convergence check per iteration.
label(x) <= x is an invariant (labels start at self and only decrease), so
the shortcut join can only lower labels and the label SUM stays a monotone
convergence witness the driver reads as ONE scalar per round. Propagation
alone needs O(component diameter) rounds; the doubling step halves the
remaining pointer depth each round, giving O(log diameter) rounds — the
same asymptotics as alternating large-star/small-star without rewriting
the edge multiset each round. MAX_CC_ITERS bounds pathology.

The DuckDB twin is a recursive CTE (root reachability + MIN(root) per
vertex) — a genuinely different algorithm computing the same fixpoint,
which makes the oracle check a strong differential test of the iteration.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .common import memo
from .dedup import LSH_VERIFY_THRESHOLD, _sql_minhash_lsh_ctes, dedup_minhash_lsh

MAX_CC_ITERS = 50

def _dup_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected near-dup edge list from the verified LSH pairs."""
    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    return pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionByName(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))


def _components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, component_id) for every document in at least one near-dup
    pair; component_id = min doc_id of the component. Memoized:
    dedup_cluster_components, dedup_cluster_summary and the keeper
    selection share one labels computation per (session, sf_dir)."""
    return memo(spark, sf_dir, "cc_labels", lambda: _label_components(spark, sf_dir))


def _label_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    def _ckpt_rdd_id(df: DataFrame) -> int:
        """The checkpointed RDD id behind a localCheckpoint'ed frame (its
        analyzed plan is a LogicalRDD wrapping exactly that RDD)."""
        return df._jdf.queryExecution().analyzed().rdd().id()

    def _free(rdd_id: int) -> None:
        """Release a superseded round's localCheckpoint blocks NOW.
        DataFrame.unpersist() does not touch checkpoint storage (verified:
        block count unchanged) and ContextCleaner only frees it after an
        eventual driver GC — on a large dup graph that transiently stacks
        up to O(log diameter) full label sets in executor memory. The
        blocks ARE the checkpointed data, so only ever free a round that
        no later plan references."""
        spark.sparkContext._jsc.sc().unpersistRDD(rdd_id, False)

    edges = _dup_edges(spark, sf_dir).cache()
    # localCheckpoint after every round: the doubling step references
    # the round's result TWICE, so without lineage truncation the logical
    # plan doubles per iteration and Catalyst analysis alone goes
    # exponential. Checkpointing keeps the driver-side plan O(1) per round
    # and bounds executor recompute. (On a multi-executor cluster an
    # iterative job that must survive executor loss would use reliable
    # `checkpoint()` against the checkpoint dir instead — same shape.)
    #
    # The checkpoint is LAZY and the convergence sum is the materializing
    # action (r12, VERDICT r11 item 3): eager=True ran TWO blocking jobs
    # per round (the checkpoint count, then the sum over the stored
    # blocks); a lazy checkpoint whose first action is the sum persists
    # the blocks and reports convergence in ONE job. Safe here, unlike
    # the multi-consumer lazy-pin race (text.py r12 note): the sum is the
    # SOLE first consumer — by the time the loop body's joins reference
    # the round's labels twice, its blocks are already stored.
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("label", F.col("doc_id"))
        .localCheckpoint(eager=False)
    )
    prev_sum = labels.agg(F.sum("label")).first()[0] or 0
    labels_rdd_id = _ckpt_rdd_id(labels)
    for _ in range(MAX_CC_ITERS):
        nbr = (
            edges.join(labels, edges["dst"] == labels["doc_id"])
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        propagated = labels.join(nbr, labels["doc_id"] == nbr["src"], "left").select(
            "doc_id",
            F.least(F.col("label"), F.coalesce("nbr_label", "label")).alias("label"),
        )
        # pointer doubling: label(v) <- label(label(v)). Valid because
        # label(x) <= x always holds, so the hop only decreases labels and
        # halves the remaining pointer-chain depth (O(log diameter) rounds).
        parent = propagated.select(
            F.col("doc_id").alias("p_id"), F.col("label").alias("p_label")
        )
        new_labels = (
            propagated.join(parent, propagated["label"] == parent["p_id"], "left")
            .select(
                "doc_id",
                F.coalesce("p_label", "label").alias("label"),
            )
            .localCheckpoint(eager=False)
        )
        # labels only decrease: an unchanged sum IS the fixpoint (scalar
        # collect — the driver never holds per-row state). This ONE job
        # both persists the round's checkpoint blocks and reports the sum.
        new_sum = new_labels.agg(F.sum("label")).first()[0] or 0
        _free(labels_rdd_id)  # the superseded round is never read again
        labels, labels_rdd_id = new_labels, _ckpt_rdd_id(new_labels)
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    edges.unpersist()
    return labels.select("doc_id", F.col("label").alias("component_id"))


_SQL_CC = f"""WITH RECURSIVE {_sql_minhash_lsh_ctes()},
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM lsh_pairs WHERE jaccard >= {LSH_VERIFY_THRESHOLD}
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM lsh_pairs WHERE jaccard >= {LSH_VERIFY_THRESHOLD}
), verts AS (
  SELECT DISTINCT src AS doc_id FROM edges
), reach AS (
  SELECT doc_id, doc_id AS root FROM verts
  UNION
  SELECT e.dst AS doc_id, r.root
  FROM reach r JOIN edges e ON e.src = r.doc_id
), cc AS (
  SELECT doc_id, MIN(root) AS component_id FROM reach GROUP BY doc_id
)"""


def dedup_cluster_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document component membership of the near-dup graph."""
    return _components(spark, sf_dir)


ORACLE_CC = _SQL_CC + "\nSELECT doc_id, component_id FROM cc"


def dedup_cluster_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster ledger: component size and the canonical keeper (min doc_id);
    every non-keeper is a transitive duplicate slated for removal."""
    cc = _components(spark, sf_dir)
    return cc.groupBy("component_id").agg(
        F.count("*").alias("n_docs"),
        F.min("doc_id").alias("keeper_doc_id"),
        (F.count("*") - 1).alias("n_to_drop"),
    )


ORACLE_CC_SUMMARY = _SQL_CC + """
SELECT component_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       MIN(doc_id) AS keeper_doc_id,
       CAST(COUNT(*) - 1 AS BIGINT) AS n_to_drop
FROM cc GROUP BY 1
"""


def dedup_keeper_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Policy-driven canonicalization: production dedup keeps the BEST
    document of each near-dup cluster, not an arbitrary one. Keeper = max
    token count, tie-broken by min doc_id (a total order, so both engines
    rank identically); everyone else in the cluster is marked
    drop_duplicate. One broadcast-scale join of the cluster labels onto
    the corpus plus one per-component window."""
    from pyspark.sql import Window as W

    from .common import t

    cc = _components(spark, sf_dir)
    docs = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_tokens"),
    )
    w = W.partitionBy("component_id").orderBy(
        F.desc("n_tokens"), F.asc("doc_id")
    )
    ranked = cc.join(docs, "doc_id").withColumn("rk", F.row_number().over(w))
    return ranked.select(
        "doc_id",
        "component_id",
        "n_tokens",
        (F.col("rk") == 1).alias("is_keeper"),
        F.when(F.col("rk") == 1, F.lit("keep"))
        .otherwise(F.lit("drop_duplicate"))
        .alias("action"),
    )


ORACLE_KEEPER = _SQL_CC + """
, ranked AS (
  SELECT c.doc_id, c.component_id,
         CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
         row_number() OVER (
           PARTITION BY c.component_id
           ORDER BY len(string_split(d.text, ' ')) DESC, c.doc_id
         ) AS rk
  FROM cc c JOIN documents d ON c.doc_id = d.doc_id
)
SELECT doc_id, component_id, n_tokens,
       rk = 1 AS is_keeper,
       CASE WHEN rk = 1 THEN 'keep' ELSE 'drop_duplicate' END AS action
FROM ranked
"""


def dedup_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-leakage audit — the QA check an LLM data pipeline runs after
    splitting: a near-dup CLUSTER whose members land in different
    train/val/test splits leaks eval content into training. Composes the
    two proven families: connected components over the verified LSH graph
    (this module) and the deterministic md5-bucket split
    (preprocess.split_assign_stats — same 205/230 thresholds, re-derived
    here so the twins cannot drift apart silently: both engines recompute
    both sides from scratch).

    One summary row: component count, leaky-component count and milli
    rate, and the exact cross-split PAIR counts (train x test is the
    harmful one; pairs = n_a * n_b per component, summed). All integer.

    Scale: components are memoized (shared with the cluster queries);
    the audit itself is one |clusters|-sized groupBy."""
    comps = _components(spark, sf_dir)
    bucket = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2), 16, 10
    ).cast("long")
    split = (
        F.when(bucket < 205, F.lit("train"))
        .when(bucket < 230, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    per_comp = (
        comps.select("doc_id", "component_id", split.alias("split"))
        .groupBy("component_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum((F.col("split") == "train").cast("int")).alias("n_tr"),
            F.sum((F.col("split") == "val").cast("int")).alias("n_va"),
            F.sum((F.col("split") == "test").cast("int")).alias("n_te"),
        )
        .withColumn(
            "n_splits",
            (F.col("n_tr") > 0).cast("int")
            + (F.col("n_va") > 0).cast("int")
            + (F.col("n_te") > 0).cast("int"),
        )
    )
    return per_comp.agg(
        F.count("*").cast("bigint").alias("n_components"),
        F.sum((F.col("n_splits") > 1).cast("int")).cast("bigint").alias("n_leaky"),
        F.expr(
            "CAST(1000 * sum(CAST(n_splits > 1 AS INT)) div count(*) AS BIGINT)"
        ).alias("leaky_milli"),
        F.sum(F.col("n_tr") * F.col("n_te")).cast("bigint").alias("train_test_pairs"),
        F.sum(F.col("n_tr") * F.col("n_va")).cast("bigint").alias("train_val_pairs"),
        F.sum(F.col("n_va") * F.col("n_te")).cast("bigint").alias("val_test_pairs"),
    )


ORACLE_LEAKAGE = _SQL_CC + """,
assigned AS (
  SELECT c.doc_id, c.component_id,
         CASE WHEN b < 205 THEN 'train' WHEN b < 230 THEN 'val'
              ELSE 'test' END AS split
  FROM cc c JOIN (
    SELECT doc_id,
           CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS BIGINT) AS b
    FROM documents
  ) h USING (doc_id)
),
per_comp AS (
  SELECT component_id, COUNT(*) AS n_docs,
         SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS n_tr,
         SUM(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS n_va,
         SUM(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS n_te
  FROM assigned GROUP BY component_id
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_components,
       CAST(SUM(CASE WHEN (CASE WHEN n_tr > 0 THEN 1 ELSE 0 END
                         + CASE WHEN n_va > 0 THEN 1 ELSE 0 END
                         + CASE WHEN n_te > 0 THEN 1 ELSE 0 END) > 1
                THEN 1 ELSE 0 END) AS BIGINT) AS n_leaky,
       CAST(1000 * SUM(CASE WHEN (CASE WHEN n_tr > 0 THEN 1 ELSE 0 END
                                + CASE WHEN n_va > 0 THEN 1 ELSE 0 END
                                + CASE WHEN n_te > 0 THEN 1 ELSE 0 END) > 1
                      THEN 1 ELSE 0 END) // COUNT(*) AS BIGINT) AS leaky_milli,
       CAST(SUM(n_tr * n_te) AS BIGINT) AS train_test_pairs,
       CAST(SUM(n_tr * n_va) AS BIGINT) AS train_val_pairs,
       CAST(SUM(n_va * n_te) AS BIGINT) AS val_test_pairs
FROM per_comp
"""


QUERIES: dict[str, tuple] = {
    "dedup_cluster_components": (dedup_cluster_components, ORACLE_CC),
    "dedup_cluster_summary": (dedup_cluster_summary, ORACLE_CC_SUMMARY),
    "dedup_keeper_selection": (dedup_keeper_selection, ORACLE_KEEPER),
    "dedup_split_leakage": (dedup_split_leakage, ORACLE_LEAKAGE),
}
