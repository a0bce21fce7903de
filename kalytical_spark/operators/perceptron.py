"""Distributed quality-classifier training as DataFrame ops: a batch
perceptron (Rosenblatt updates summed per epoch — the gradient of the
perceptron loss) over integer document features, trained for a fixed
epoch budget with EXACT integer arithmetic end to end.

This is the repo's "can the engine train a model, not just score one"
operator: the classic distributed-ML iteration shape (broadcast weights
-> map-side per-row margin -> one aggregated gradient row back) that SGD
/ logistic regression / linear probes all share. The perceptron variant
is chosen deliberately: its update rule is closed under integers
(w += sum of y*x over misclassified rows), so — unlike float
logistic/SGD whose partial-sum order is engine- and partition-dependent
— every epoch's weight vector is EXACTLY reproducible and the whole
trajectory value-hashes against a DuckDB twin (the bpe.py convention:
statically chained MATERIALIZED CTE rounds).

Task: predict lang == 'en' from four integer surface features
(bias, token count, distinct-token count, char count). Separability is
irrelevant — the proof target is the exact distributed trajectory, and
n_mis per epoch records whatever signal exists.

Scale: the feature pass is one projection (no shuffle); each epoch is
ONE map-side-combinable aggregate producing a single d+1-wide gradient
row, broadcast back as a 1-row dim — per-epoch cost is a corpus scan,
driver traffic is O(d), the textbook data-parallel training loop.
Overflow headroom: |w| grows <= epochs * sum|x| <= 8 * (500k chars);
margins stay far under 2^63 through sf10.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .common import memo, t

EPOCHS = 8

_FEATS = [
    ("x0", "1"),  # bias
    ("x1", "size(split(text, ' '))"),
    ("x2", "size(array_distinct(split(text, ' ')))"),
    ("x3", "length(text)"),
]
_D = len(_FEATS)


def _features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    return docs.select(
        F.when(F.col("lang") == "en", F.lit(1)).otherwise(F.lit(-1)).cast("bigint").alias("y"),
        *[F.expr(sql).cast("bigint").alias(name) for name, sql in _FEATS],
    )


def quality_perceptron_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training trajectory: one row per epoch with the misclassified
    count under the INCOMING weights and the weight vector AFTER the
    epoch's summed update. Epoch 1 starts from w = 0 (margin 0 counts as
    misclassified, the standard convention), so the first update is the
    class-weighted feature sum — every later row pins the full history.

    Memoized: training is a fixed 8-epoch job shared by the trajectory
    query AND the calibration report — the localCheckpoint chain makes
    re-entry cheap, but not free."""
    return memo(spark, sf_dir, "perceptron_train", lambda: _train(spark, sf_dir))


def _train(spark: SparkSession, sf_dir: str) -> DataFrame:
    feats = _features(spark, sf_dir)
    w = spark.createDataFrame([tuple([0] * _D)], ", ".join(f"w{i} long" for i in range(_D)))
    margin = "y * (" + " + ".join(f"w{i} * x{i}" for i in range(_D)) + ")"
    reports: list[DataFrame] = []
    for e in range(1, EPOCHS + 1):
        mis = feats.crossJoin(F.broadcast(w)).filter(F.expr(margin) <= 0)
        upd = mis.agg(
            F.count("*").cast("bigint").alias("n_mis"),
            *[
                F.coalesce(F.sum(F.col("y") * F.col(f"x{i}")), F.lit(0))
                .cast("bigint")
                .alias(f"d{i}")
                for i in range(_D)
            ],
        ).localCheckpoint()
        w = (
            w.crossJoin(F.broadcast(upd))
            .select(*[(F.col(f"w{i}") + F.col(f"d{i}")).alias(f"w{i}") for i in range(_D)])
            .localCheckpoint()
        )
        reports.append(
            w.crossJoin(F.broadcast(upd.select("n_mis"))).select(
                F.lit(e).cast("bigint").alias("epoch"),
                "n_mis",
                *[F.col(f"w{i}") for i in range(_D)],
            )
        )
    out = reports[0]
    for df in reports[1:]:
        out = out.unionByName(df)
    return out.localCheckpoint()


def _oracle_ctes() -> str:
    feat_sql = {
        "x0": "1",
        "x1": "len(string_split(text, ' '))",
        "x2": "len(list_distinct(string_split(text, ' ')))",
        "x3": "length(text)",
    }
    parts = [
        "pfeat AS MATERIALIZED (\n  SELECT CAST(CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS BIGINT) AS y,\n"
        + ",\n".join(
            f"         CAST({feat_sql[name]} AS BIGINT) AS {name}" for name, _ in _FEATS
        )
        + "\n  FROM documents\n)",
        "pw0 AS MATERIALIZED (SELECT "
        + ", ".join(f"CAST(0 AS BIGINT) AS w{i}" for i in range(_D))
        + ")",
    ]
    margin = "y * (" + " + ".join(f"w.w{i} * f.x{i}" for i in range(_D)) + ")"
    for e in range(1, EPOCHS + 1):
        parts.append(
            f"""pupd{e} AS MATERIALIZED (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_mis,
         {", ".join(f"CAST(COALESCE(SUM(f.y * f.x{i}), 0) AS BIGINT) AS d{i}" for i in range(_D))}
  FROM pfeat f, pw{e - 1} w
  WHERE {margin} <= 0
),
pw{e} AS MATERIALIZED (
  SELECT {", ".join(f"w.w{i} + u.d{i} AS w{i}" for i in range(_D))}
  FROM pw{e - 1} w, pupd{e} u
)"""
        )
    return ",\n".join(parts)


ORACLE_PERCEPTRON = (
    "WITH "
    + _oracle_ctes()
    + "\n"
    + "\nUNION ALL\n".join(
        f"SELECT CAST({e} AS BIGINT) AS epoch, u.n_mis, "
        + ", ".join(f"w.w{i}" for i in range(_D))
        + f" FROM pw{e} w, pupd{e} u"
        for e in range(1, EPOCHS + 1)
    )
)


def quality_perceptron_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability report for the trained classifier: score every document
    with the FINAL epoch's weights (the same exact-integer margin the
    trainer used), bucket by signed decimal magnitude class of the score
    (sign x digit-length — a data-independent log-ish binning that stays
    pure bigint/string arithmetic in both engines), and report the
    positive rate per bucket. The ML-eval counterpart of the training
    trajectory: does a larger positive margin actually mean 'more likely
    en'? Scale: one corpus scan against a 1-row broadcast weight dim,
    then a <=40-row aggregate."""
    feats = _features(spark, sf_dir)
    wfin = (
        quality_perceptron_train(spark, sf_dir)
        .filter(F.col("epoch") == EPOCHS)
        .select(*[F.col(f"w{i}") for i in range(_D)])
    )
    score = " + ".join(f"w{i} * x{i}" for i in range(_D))
    # signed (digit-length, leading-digit) bin: ~9 sub-bins per decade,
    # so clustered margins still spread into a readable curve
    bucket = (
        "CAST((CASE WHEN s > 0 THEN 1 WHEN s < 0 THEN -1 ELSE 0 END)"
        " * (length(CAST(abs(s) AS STRING)) * 10"
        "    + CAST(substring(CAST(abs(s) AS STRING), 1, 1) AS INT)) AS INT)"
    )
    return (
        feats.crossJoin(F.broadcast(wfin))
        .select("y", F.expr(score).cast("bigint").alias("s"))
        .select(F.expr(bucket).alias("margin_class"), "y")
        .groupBy("margin_class")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(F.when(F.col("y") == 1, 1).otherwise(0)).cast("bigint").alias("n_pos"),
        )
        .withColumn(
            "pos_rate_milli", F.expr("CAST(1000 * n_pos div n_docs AS INT)")
        )
    )


ORACLE_CALIBRATION = (
    "WITH "
    + _oracle_ctes()
    + f"""
, scored AS (
  SELECT f.y, CAST({" + ".join(f"w.w{i} * f.x{i}" for i in range(_D))} AS BIGINT) AS s
  FROM pfeat f, pw{EPOCHS} w
)
SELECT CAST((CASE WHEN s > 0 THEN 1 WHEN s < 0 THEN -1 ELSE 0 END)
            * (length(CAST(abs(s) AS VARCHAR)) * 10
               + CAST(substring(CAST(abs(s) AS VARCHAR), 1, 1) AS INTEGER))
            AS INTEGER) AS margin_class,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
       CAST(1000 * SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) // COUNT(*) AS INTEGER)
         AS pos_rate_milli
FROM scored
GROUP BY 1
"""
)


QUERIES: dict[str, tuple] = {
    "quality_perceptron_train": (quality_perceptron_train, ORACLE_PERCEPTRON),
    "quality_perceptron_calibration": (
        quality_perceptron_calibration,
        ORACLE_CALIBRATION,
    ),
}
