"""Bradley-Terry preference-strength fitting (Bradley & Terry 1952,
Hunter 2004 MM algorithm) — the pairwise-preference primitive RLHF data
pipelines run over judgment logs: given "i beat j" match counts, fit a
strength p_i per item such that P(i beats j) = p_i / (p_i + p_j).

Here the match log is derived deterministically from the events table:
for every user and every unordered event-type pair, the type the user
engaged MORE is the winner of one match (ties produce no match) — the
"engagement preference" reading of the behavioral log. The corpus-sized
work is exactly that match mining (one groupBy + a per-user pair join
bounded by the type dimension); the MM fit itself runs over the K x K
win matrix — model-sized, the centroid-collect convention — with every
update in exact integer micro-units so the DuckDB chained-CTE twin
reproduces the whole trajectory bit-for-bit:

    d_i  = Σ_{j!=i} (n_ij * 1e9) div (p_i + p_j)
    p_i' = greatest(1, (W_i * 1e9) div d_i)        (d_i = 0 keeps p_i)
    p_i'' = greatest(1, (p_i' * K * 1e6) div Σ p')  (renormalize per round)

Overflow audit: n_ij <= users * K so n_ij * 1e9 <= ~1e14; after each
round's normalization p ~ 1e6, so d ~ n_total * 500 and every product
stays far under 2^63.

Reference parity: none (no preference surface in the reference); this
family is part of the mandated LLM-pipeline tier (preference modeling
for alignment data curation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .common import eager_cache, memo, t

BT_ITERS = 8
_S = 1_000_000_000  # per-pair contribution scale
_P0 = 1_000_000  # initial strength (micro-units)

def _win_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(ta, tb, w_a, w_b) with ta < tb: per unordered type pair, how many
    users preferred (engaged more with) each side. One events rollup plus
    a per-user self-join bounded by the type dimension; K^2-bounded
    output, cached eagerly (it is a model table, not corpus data).
    Memoized: the fit AND the calibration readout both consume it —
    without the memo each call re-ran the corpus-sized per-user pair
    rollup (ADVICE r7)."""

    def build():
        ev = t(spark, sf_dir, "events_ms")
        counts = ev.groupBy("user_id", "event_type").agg(
            F.count("*").cast("bigint").alias("c")
        )
        a = counts.select("user_id", F.col("event_type").alias("ta"), F.col("c").alias("ca"))
        b = counts.select("user_id", F.col("event_type").alias("tb"), F.col("c").alias("cb"))
        return eager_cache(
            a.join(b, ["user_id"])
            .filter(F.col("ta") < F.col("tb"))
            .groupBy("ta", "tb")
            .agg(
                F.sum((F.col("ca") > F.col("cb")).cast("bigint")).alias("w_a"),
                F.sum((F.col("cb") > F.col("ca")).cast("bigint")).alias("w_b"),
            )
        )

    return memo(spark, sf_dir, "preference_wins", build)


def users_bradley_terry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fitted Bradley-Terry strengths per event type after BT_ITERS exact
    integer MM rounds, with total wins/matches and the strength rank."""
    pair_rows = _win_matrix(spark, sf_dir).collect()  # K^2-bounded model table
    wins: dict[str, int] = {}
    matches: dict[str, int] = {}
    pairs: list[tuple[str, str, int]] = []
    for r in pair_rows:
        n = int(r.w_a) + int(r.w_b)
        wins[r.ta] = wins.get(r.ta, 0) + int(r.w_a)
        wins[r.tb] = wins.get(r.tb, 0) + int(r.w_b)
        matches[r.ta] = matches.get(r.ta, 0) + n
        matches[r.tb] = matches.get(r.tb, 0) + n
        if n:
            pairs.append((r.ta, r.tb, n))
    types = sorted(wins)
    k = len(types)
    p = {ty: _P0 for ty in types}
    for _ in range(BT_ITERS):
        d = {ty: 0 for ty in types}
        for ta, tb, n in pairs:
            contrib = (n * _S) // (p[ta] + p[tb])
            d[ta] += contrib
            d[tb] += contrib
        u = {
            ty: (p[ty] if d[ty] == 0 else max(1, (wins[ty] * _S) // d[ty]))
            for ty in types
        }
        tot = sum(u.values())
        p = {ty: max(1, (u[ty] * k * _P0) // tot) for ty in types}
    ranked = sorted(types, key=lambda ty: (-p[ty], ty))
    rank = {ty: i + 1 for i, ty in enumerate(ranked)}
    return spark.createDataFrame(
        [
            (ty, wins[ty], matches[ty], p[ty], rank[ty])
            for ty in types
        ],
        schema="event_type string, wins bigint, matches bigint, "
        "strength_micro bigint, rank int",
    )


def _oracle_bt() -> str:
    parts = [
        """bt_counts AS MATERIALIZED (
  SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS c
  FROM events_ms GROUP BY 1, 2
)""",
        """bt_pairs AS MATERIALIZED (
  SELECT a.event_type AS ta, b.event_type AS tb,
         CAST(SUM(CASE WHEN a.c > b.c THEN 1 ELSE 0 END) AS BIGINT) AS w_a,
         CAST(SUM(CASE WHEN b.c > a.c THEN 1 ELSE 0 END) AS BIGINT) AS w_b
  FROM bt_counts a
  JOIN bt_counts b ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2
)""",
        """bt_types AS MATERIALIZED (
  SELECT event_type, CAST(SUM(w) AS BIGINT) AS wins,
         CAST(SUM(m) AS BIGINT) AS matches
  FROM (SELECT ta AS event_type, w_a AS w, w_a + w_b AS m FROM bt_pairs
        UNION ALL
        SELECT tb, w_b, w_a + w_b FROM bt_pairs)
  GROUP BY 1
)""",
        "bt_k AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM bt_types)",
        f"bt_p0 AS (SELECT event_type, CAST({_P0} AS BIGINT) AS p FROM bt_types)",
    ]
    for e in range(1, BT_ITERS + 1):
        parts.append(
            f"""bt_d{e} AS MATERIALIZED (
  SELECT event_type, CAST(SUM(contrib) AS BIGINT) AS d FROM (
    SELECT pr.ta AS event_type,
           ((pr.w_a + pr.w_b) * {_S}) // (pa.p + pb.p) AS contrib
    FROM bt_pairs pr
    JOIN bt_p{e - 1} pa ON pa.event_type = pr.ta
    JOIN bt_p{e - 1} pb ON pb.event_type = pr.tb
    WHERE pr.w_a + pr.w_b > 0
    UNION ALL
    SELECT pr.tb, ((pr.w_a + pr.w_b) * {_S}) // (pa.p + pb.p)
    FROM bt_pairs pr
    JOIN bt_p{e - 1} pa ON pa.event_type = pr.ta
    JOIN bt_p{e - 1} pb ON pb.event_type = pr.tb
    WHERE pr.w_a + pr.w_b > 0
  ) GROUP BY 1
),
bt_u{e} AS MATERIALIZED (
  SELECT t.event_type,
         CASE WHEN COALESCE(d.d, 0) = 0 THEN p.p
              ELSE GREATEST(1, (t.wins * {_S}) // d.d) END AS p
  FROM bt_types t
  JOIN bt_p{e - 1} p USING (event_type)
  LEFT JOIN bt_d{e} d USING (event_type)
),
bt_p{e} AS MATERIALIZED (
  SELECT u.event_type,
         CAST(GREATEST(1, (u.p * k.k * {_P0})
              // (SELECT SUM(p) FROM bt_u{e})) AS BIGINT) AS p
  FROM bt_u{e} u CROSS JOIN bt_k k
)"""
        )
    return ",\n".join(parts)


ORACLE_BT = (
    "WITH "
    + _oracle_bt()
    + f"""
SELECT t.event_type, t.wins, t.matches,
       p.p AS strength_micro,
       CAST(row_number() OVER (ORDER BY p.p DESC, t.event_type) AS INTEGER)
         AS rank
FROM bt_types t JOIN bt_p{BT_ITERS} p USING (event_type)
"""
)


QUERIES: dict[str, tuple] = {
    "users_bradley_terry": (users_bradley_terry, ORACLE_BT),
}


def users_bt_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goodness-of-fit readout for the Bradley-Terry strengths: per type
    pair, the model-predicted win probability p_a/(p_a+p_b) vs the
    empirical win share w_a/n, both in exact milli units, plus the
    absolute gap — the calibration table a preference-data pipeline
    reads before trusting fitted strengths for sampling decisions.
    Corpus work is the same single match-mining rollup; the fitted
    strengths are the K-row model table."""
    fitted = {
        r.event_type: int(r.strength_micro)
        for r in users_bradley_terry(spark, sf_dir).collect()
    }
    pairs = _win_matrix(spark, sf_dir)
    p_map = F.create_map(
        *[x for ty, p in sorted(fitted.items()) for x in (F.lit(ty), F.lit(p))]
    )
    return (
        pairs.filter(F.col("w_a") + F.col("w_b") > 0)
        .select(
            "ta",
            "tb",
            (F.col("w_a") + F.col("w_b")).cast("bigint").alias("n_matches"),
            F.col("w_a").cast("bigint").alias("w_a"),
            p_map[F.col("ta")].alias("p_a"),
            p_map[F.col("tb")].alias("p_b"),
        )
        .select(
            "ta",
            "tb",
            "n_matches",
            "w_a",
            F.expr("CAST((1000 * p_a) div (p_a + p_b) AS BIGINT)").alias(
                "predicted_milli"
            ),
            F.expr("CAST((1000 * w_a) div n_matches AS BIGINT)").alias(
                "empirical_milli"
            ),
            F.expr(
                "CAST(abs((1000 * p_a) div (p_a + p_b)"
                " - (1000 * w_a) div n_matches) AS BIGINT)"
            ).alias("abs_gap_milli"),
        )
    )


ORACLE_BT_CALIBRATION = (
    "WITH "
    + _oracle_bt()
    + f"""
SELECT pr.ta, pr.tb,
       CAST(pr.w_a + pr.w_b AS BIGINT) AS n_matches,
       pr.w_a,
       CAST((1000 * pa.p) // (pa.p + pb.p) AS BIGINT) AS predicted_milli,
       CAST((1000 * pr.w_a) // (pr.w_a + pr.w_b) AS BIGINT) AS empirical_milli,
       CAST(ABS((1000 * pa.p) // (pa.p + pb.p)
            - (1000 * pr.w_a) // (pr.w_a + pr.w_b)) AS BIGINT) AS abs_gap_milli
FROM bt_pairs pr
JOIN bt_p{BT_ITERS} pa ON pa.event_type = pr.ta
JOIN bt_p{BT_ITERS} pb ON pb.event_type = pr.tb
WHERE pr.w_a + pr.w_b > 0
"""
)

QUERIES["users_bt_calibration"] = (users_bt_calibration, ORACLE_BT_CALIBRATION)
