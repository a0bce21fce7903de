"""Probabilistic record linkage (public literature: Fellegi & Sunter 1969,
"A theory for record linkage") — the principled upgrade of the blocked
edit-distance matcher (fuzzy.py): per-field agreement patterns scored with
log-odds match weights, u-probabilities ESTIMATED FROM THE DATA (the
agreement rate over blocked pairs — the standard u-estimation shortcut,
biased only by the tiny true-match fraction, documented), m-probabilities
as declared per-field constants, and a two-threshold link / possible /
nonlink decision.

Spark shape: blocking is one equi shuffle join on p_size (bounded blocks,
the fuzzy.py argument); the pair frame is computed ONCE and cached
(bounded: sum of C(block,2), ~39k pairs at sf0.01); the field statistics
reduce to a single aggregate row broadcast back onto the pairs; scoring is
pure codegen CASE arithmetic; both reports are small aggregates. Nothing
corpus-sized is collected.

Determinism: agreement counts are exact integers; the only floats are the
four ln(m/u) weights, computed with IDENTICAL expression trees in both
engines from exact integer counts and snapped once to integer micro-units
(the BM25/ranking.py ln-parity convention); scores are then pure bigint
sums. Name comparator: levenshtein <= LEV_MAX (same DP in both engines —
verified in fuzzy.py).

Non-vacuity: deterministic planted twins — parts with p_partkey %
PLANT_MOD == 0 get a single-character-deletion twin at partkey +
PLANT_OFFSET (9 << 40, next free offset in the dedup.py plant registry)
with brand/type/size/price preserved, so every plant pair agrees on all
four fields and must land in the 'link' class; field-coincidence pairs
(the fixture has only 64 distinct names over 2000 parts, so name
collisions are REAL evidence-limited cases) land wherever their evidence
puts them — the links report counts plant pairs per decision class so the
separation is visible, not asserted.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .common import memo, t

PLANT_OFFSET = 9 << 40
PLANT_MOD = 89
LEV_MAX = 2
# declared m-probabilities (P(field agrees | true match)), milli-units
M_NAME, M_BRAND, M_TYPE, M_PRICE = 900, 980, 950, 850
# decision thresholds on the integer micro-unit score
LINK_MICRO = 8_000_000
POSSIBLE_MICRO = 0

_FIELDS = ("name", "brand", "type", "price")
_M = {"name": M_NAME, "brand": M_BRAND, "type": M_TYPE, "price": M_PRICE}


def _universe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parts plus planted twins carrying ALL compared fields (fuzzy.py's
    plant keeps only name/brand/size; linkage compares type and price
    too, hence its own plant at its own offset)."""
    part = t(spark, sf_dir, "part").select(
        "p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"
    )
    mutated = part.filter(F.col("p_partkey") % PLANT_MOD == 0).select(
        (F.col("p_partkey") + F.lit(PLANT_OFFSET)).alias("p_partkey"),
        F.concat(
            F.expr("substring(p_name, 1, CAST(p_partkey % 7 AS INT))"),
            F.expr("substring(p_name, CAST(p_partkey % 7 AS INT) + 2)"),
        ).alias("p_name"),
        "p_brand",
        "p_type",
        "p_size",
        "p_retailprice",
    )
    return part.unionByName(mutated)


def _pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked candidate pairs with the four agreement flags, cached and
    memoized per (session, sf_dir): the pair frame feeds BOTH the weights
    report and the scoring pass — without the memo each query re-runs the
    levenshtein verification over every pair."""
    return memo(spark, sf_dir, "linkage_pairs", lambda: _blocked_pairs(spark, sf_dir))


def _blocked_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The $10 price bucket goes through an exact decimal cents cast (a
    double*100 truncation would misbucket the .99 boundary)."""
    u = _universe(spark, sf_dir)
    sides = {}
    for s in ("a", "b"):
        sides[s] = u.select(
            F.col("p_partkey").alias(f"key_{s}"),
            F.col("p_name").alias(f"name_{s}"),
            F.col("p_brand").alias(f"brand_{s}"),
            F.col("p_type").alias(f"type_{s}"),
            "p_size",
            F.expr(
                "CAST(CAST(p_retailprice AS DECIMAL(12,2)) * 100 AS BIGINT) div 1000"
            ).alias(f"pb_{s}"),
        )
    return (
        sides["a"]
        .join(sides["b"], "p_size")
        .filter(F.col("key_a") < F.col("key_b"))
        .select(
            "key_a",
            "key_b",
            (F.levenshtein("name_a", "name_b") <= LEV_MAX).cast("int").alias("ag_name"),
            (F.col("brand_a") == F.col("brand_b")).cast("int").alias("ag_brand"),
            (F.col("type_a") == F.col("type_b")).cast("int").alias("ag_type"),
            (F.col("pb_a") == F.col("pb_b")).cast("int").alias("ag_price"),
        )
        .cache()
    )


def _weights(pairs: DataFrame) -> DataFrame:
    """One row: pair count, per-field agreement counts, and the snapped
    integer micro log-odds weights."""
    agg = pairs.agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        *[F.sum(f"ag_{f}").cast("bigint").alias(f"na_{f}") for f in _FIELDS],
    )
    cols = ["n_pairs", *[f"na_{f}" for f in _FIELDS]]
    for f in _FIELDS:
        m = _M[f]
        u_expr = f"(CAST(na_{f} AS DOUBLE) / CAST(n_pairs AS DOUBLE))"
        cols.append(
            F.expr(
                f"CAST(ROUND(1000000 * LN(({m} / 1000.0) / {u_expr})) AS BIGINT)"
            ).alias(f"wa_{f}")
        )
        cols.append(
            F.expr(
                f"CAST(ROUND(1000000 * LN((1.0 - {m} / 1000.0) / (1.0 - {u_expr}))) AS BIGINT)"
            ).alias(f"wd_{f}")
        )
    return agg.select(*cols)


def er_fs_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The estimated model itself: one row with exact agreement counts and
    the four (agree, disagree) micro log-odds weights."""
    return _weights(_pairs(spark, sf_dir))


def er_fs_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs scored and classified; per decision class: pair count, plant
    (true-twin) count, and the exact score range."""
    pairs = _pairs(spark, sf_dir)
    w = _weights(pairs)
    score = " + ".join(
        f"CASE WHEN ag_{f} = 1 THEN wa_{f} ELSE wd_{f} END" for f in _FIELDS
    )
    scored = pairs.crossJoin(F.broadcast(w)).select(
        "key_a",
        "key_b",
        F.expr(f"CAST({score} AS BIGINT)").alias("score_micro"),
    )
    decision = (
        F.when(F.col("score_micro") >= LINK_MICRO, "link")
        .when(F.col("score_micro") >= POSSIBLE_MICRO, "possible")
        .otherwise("nonlink")
    )
    return (
        scored.withColumn("decision", decision)
        .withColumn(
            "is_plant",
            (F.col("key_b") - F.col("key_a") == PLANT_OFFSET).cast("int"),
        )
        .groupBy("decision")
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.sum("is_plant").cast("bigint").alias("n_plant_pairs"),
            F.min("score_micro").alias("min_score_micro"),
            F.max("score_micro").alias("max_score_micro"),
        )
    )


_SQL_PAIRS = f"""
  WITH universe AS (
    SELECT p_partkey, p_name, p_brand, p_type, p_size, p_retailprice FROM part
    UNION ALL
    SELECT p_partkey + {PLANT_OFFSET},
           substring(p_name, 1, CAST(p_partkey % 7 AS INTEGER))
             || substring(p_name, CAST(p_partkey % 7 AS INTEGER) + 2),
           p_brand, p_type, p_size, p_retailprice
    FROM part WHERE p_partkey % {PLANT_MOD} = 0
  ),
  sides AS (
    SELECT p_partkey AS key, p_name AS name, p_brand AS brand, p_type AS typ,
           p_size,
           CAST(CAST(p_retailprice AS DECIMAL(12,2)) * 100 AS BIGINT) // 1000 AS pb
    FROM universe
  )
  SELECT a.key AS key_a, b.key AS key_b,
         CAST(levenshtein(a.name, b.name) <= {LEV_MAX} AS INTEGER) AS ag_name,
         CAST(a.brand = b.brand AS INTEGER) AS ag_brand,
         CAST(a.typ = b.typ AS INTEGER) AS ag_type,
         CAST(a.pb = b.pb AS INTEGER) AS ag_price
  FROM sides a JOIN sides b ON a.p_size = b.p_size AND a.key < b.key
"""


def _sql_weight_cols() -> str:
    cols = []
    for f in _FIELDS:
        m = _M[f]
        u_expr = f"(CAST(SUM(ag_{f}) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE))"
        cols.append(
            f"CAST(ROUND(1000000 * LN(({m} / 1000.0) / {u_expr})) AS BIGINT) AS wa_{f}"
        )
        cols.append(
            f"CAST(ROUND(1000000 * LN((1.0 - {m} / 1000.0) / (1.0 - {u_expr}))) AS BIGINT) AS wd_{f}"
        )
    return ",\n         ".join(cols)


ORACLE_FS_WEIGHTS = f"""
WITH pairs AS ({_SQL_PAIRS})
SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
       {", ".join(f"CAST(SUM(ag_{f}) AS BIGINT) AS na_{f}" for f in _FIELDS)},
       {_sql_weight_cols()}
FROM pairs
"""

_SQL_SCORE = " + ".join(
    f"CASE WHEN ag_{f} = 1 THEN wa_{f} ELSE wd_{f} END" for f in _FIELDS
)

ORACLE_FS_LINKS = f"""
WITH pairs AS ({_SQL_PAIRS}),
w AS (SELECT {_sql_weight_cols()} FROM pairs),
scored AS (
  SELECT key_a, key_b, CAST({_SQL_SCORE} AS BIGINT) AS score_micro
  FROM pairs CROSS JOIN w
)
SELECT CASE WHEN score_micro >= {LINK_MICRO} THEN 'link'
            WHEN score_micro >= {POSSIBLE_MICRO} THEN 'possible'
            ELSE 'nonlink' END AS decision,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(CASE WHEN key_b - key_a = {PLANT_OFFSET} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_plant_pairs,
       CAST(MIN(score_micro) AS BIGINT) AS min_score_micro,
       CAST(MAX(score_micro) AS BIGINT) AS max_score_micro
FROM scored
GROUP BY 1
"""


QUERIES: dict[str, tuple] = {
    "er_fs_weights": (er_fs_weights, ORACLE_FS_WEIGHTS),
    "er_fs_links": (er_fs_links, ORACLE_FS_LINKS),
}
