"""Late-interaction multi-vector retrieval (ColBERT-style MaxSim, public
literature: Khattab & Zaharia 2020): each document carries multiple token
vectors; relevance is the sum over QUERY tokens of the best-matching
document token similarity — the retrieval family between single-vector
cosine (similarity.py) and full cross-encoders.

The fixture embeddings are 64-dim single vectors; the multi-vector view
reshapes them as MAXSIM_NTOK=8 token vectors of 8 dims (slices), the
same deterministic reinterpretation trick emb_matryoshka_recall uses for
prefix dims. Real token embeddings would arrive as array<array<float>>;
the operator shape (and the plan) is identical.

Determinism: every (query-token, doc-token) sub-dot is computed as a
fixed-order fold and SNAPPED to an integer once — CAST(ROUND(10000 *
dot) AS BIGINT) — so the max over doc tokens and the sum over query
tokens are pure bigint arithmetic: no float max/sum ordering anywhere
(the round-to-4 convention of similarity.py, hardened to ints before any
aggregation). Tie-breaks on vec_id.

Scale shape: queries are a broadcast dim; scoring is a corpus scan with
per-row NTOK^2 8-dim dots inside ONE whole-stage-codegen projection (no
shuffle until the per-query top-k window — which is TakeOrdered-sized).
Production pairs this exact scorer with the IVF prefilter
(kmeans_ivf.make_probe) for candidate generation; the brute-force form
here is the correctness baseline the pruned path would be recall-gated
against, exactly like sim_topk_bruteforce vs sim_topk_kmeans_ivf.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from .common import eager_cache, memo, spread, t
from .similarity import QUERY_STRIDE, TOP_K

MAXSIM_NTOK = 8  # token vectors per document
MAXSIM_TDIM = 8  # dims per token vector (8 x 8 = the 64-dim fixture)

def _flat_maxsim_expr() -> str:
    """The full MaxSim as ONE flat scalar expression with literal array
    indices — sum over qt of greatest over dt of the integer-snapped
    8-term dot. Higher-order functions (aggregate/transform/zip_with)
    run INTERPRETED per row in Spark; the nested-HOF form of this scorer
    measured 68s for a 2,500-pair scan. The flattened tree (512
    multiply-adds + 64 rounds + 8 greatest) stays inside whole-stage
    codegen (Spark auto-splits oversized generated methods) and the
    term order (k ascending within each dot) matches the oracle's
    list_inner_product loop, so the IEEE sequence is identical."""

    def dot(qt: int, dt: int) -> str:
        terms = " + ".join(
            f"CAST(q_emb[{MAXSIM_TDIM} * {qt} + {k}] AS DOUBLE) * "
            f"CAST(embedding[{MAXSIM_TDIM} * {dt} + {k}] AS DOUBLE)"
            for k in range(MAXSIM_TDIM)
        )
        return f"CAST(ROUND(10000 * ({terms})) AS BIGINT)"

    per_qt = [
        "greatest(" + ", ".join(dot(qt, dt) for dt in range(MAXSIM_NTOK)) + ")"
        for qt in range(MAXSIM_NTOK)
    ]
    return "(" + " + ".join(per_qt) + ")"


_MAXSIM = _flat_maxsim_expr()


def sim_maxsim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact MaxSim top-k: stride-100 queries against the full corpus,
    score = sum over 8 query tokens of the max over 8 doc tokens of the
    integer-snapped sub-dot (score_e4: similarity in 1e-4 units)."""
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % QUERY_STRIDE == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    # spread: the corpus probe side is FLOP-dense (512 multiply-adds per
    # scored pair) and a small corpus file scans as one partition, which
    # serialized the whole scorer on one core (guide §2.5; measured
    # 2.54 -> 0.48 s at sf0.1); no-op once the scan has >= cores splits
    scored = (
        F.broadcast(queries)
        .join(spread(spark, emb), F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", F.expr(_MAXSIM).alias("score_e4"))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("score_e4"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "rank", "vec_id", "score_e4")
    )


def exact_maxsim_memo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memo-cached `sim_maxsim_topk` for audit consumers (same rows) — the
    ground-truth side of the pruned-path recall audit (the
    similarity.exact_topk_memo pattern: the exact baseline is a stored
    audit artifact in production; the declared sim_maxsim_topk query
    stays unmemoized)."""
    return memo(spark, sf_dir, "exact_maxsim", lambda: eager_cache(sim_maxsim_topk(spark, sf_dir)))


ORACLE_MAXSIM = f"""
WITH queries AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS q_emb
  FROM embeddings WHERE vec_id % {QUERY_STRIDE} = 0
), scored AS (
  SELECT q.query_id, e.vec_id,
         list_sum(list_transform(generate_series(0, {MAXSIM_NTOK - 1}), qt ->
           list_max(list_transform(generate_series(0, {MAXSIM_NTOK - 1}), dt ->
             CAST(ROUND(10000 * list_inner_product(
               q.q_emb[{MAXSIM_TDIM} * qt + 1 : {MAXSIM_TDIM} * qt + {MAXSIM_TDIM}],
               CAST(e.embedding AS DOUBLE[])[{MAXSIM_TDIM} * dt + 1 : {MAXSIM_TDIM} * dt + {MAXSIM_TDIM}]
             )) AS BIGINT))))) AS score_e4
  FROM queries q JOIN embeddings e ON e.vec_id <> q.query_id
)
SELECT query_id, CAST(rank AS INT) AS rank, vec_id, CAST(score_e4 AS BIGINT) AS score_e4
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY score_e4 DESC, vec_id) AS rank
  FROM scored
) WHERE rank <= {TOP_K}
"""


MAXSIM_IVF_RECALL_FLOOR_MILLI = 800
N_PROBE_TOK = 2  # cells probed PER QUERY TOKEN (the union drives candidates)
TOKENS_PER_CELL = 512  # target quantizer cell size (K = n_tokens / this)
TOK_FIT_SAMPLE = 65536  # Lloyd's training-sample cap (md5-smallest tokens)
_TOK_ITERS = 5
# K at or below which the Lloyd rounds run driver-side over the collected
# sample instead of distributed: per-round driver cost is one
# sample x K x dim matmul (~2e9 flops and a ~1 GB score matrix at 2048),
# well under the ~0.6 s/round fixed overhead of a distributed round at
# local scale; above it the distributed path keeps the r6 scale fix.
_TOK_DRIVER_FIT_MAX_K = 2048


def _token_view(emb: DataFrame) -> DataFrame:
    """(vec_id, tok, tvec) — the 64-dim fixture exploded into its 8 token
    vectors (the array<array<float>> a real ColBERT corpus would carry)."""
    return emb.select(
        "vec_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {MAXSIM_NTOK - 1}), "
                f"t -> transform(slice(embedding, {MAXSIM_TDIM} * t + 1, {MAXSIM_TDIM}), "
                "x -> CAST(x AS DOUBLE)))"
            )
        ).alias("tok", "tvec"),
    )


def fit_token_cells(spark: SparkSession, sf_dir: str):
    """Memoized _fit_token_cells (one fit per (session, sf_dir))."""
    return memo(spark, sf_dir, "token_kmeans_fit", lambda: _fit_token_cells(spark, sf_dir))


def _fit_token_cells(spark: SparkSession, sf_dir: str):
    """Euclidean k-means over TOKEN vectors (not pooled doc vectors) — the
    quantizer real late-interaction indexes train (PLAID, public
    literature: Santhanam et al. 2022). A pooled-vector IVF is a poor
    MaxSim prefilter (measured 0.16 recall at the gate corpus); the
    token-level quantizer measured 1.0 under the same probe budget,
    because MaxSim relevance lives at token granularity.

    Build shape (the real PLAID one, and the only one that scales):
    Lloyd's runs DISTRIBUTED over a bounded deterministic sample (the
    TOK_FIT_SAMPLE md5-smallest tokens, selected by a distributed top-k —
    the sample never lands on the driver), then ONE distributed pass
    assigns the full corpus under the frozen centroids. Each Lloyd
    iteration is: broadcast the K x dim centroids (6 decimals), a
    mapInPandas pass that argmax-assigns its partition and emits
    PER-CELL integer partial sums (tvec snapped once to e9 bigints) plus
    counts, a groupBy(cell) integer-sum reduce, and a K-row collect for
    the mean update — so driver traffic is K x dim per iteration and
    NOTHING on the driver scales with the sample or the corpus. (The
    r6 build ran Lloyd single-threaded on the driver at O(sample x K);
    with K ∝ n_tok that leg measured 6.4 s -> 78.2 s across the 10x
    emb sweep — the one 100x scale-killer that round. Distributing the
    iteration splits the matmul across executors and shrinks the driver
    to the centroid update.)

    K itself grows LINEARLY (n_tok / TOKENS_PER_CELL, constant cell
    size): a doc posts to up to NTOK cells and a query probes
    NTOK x N_PROBE_TOK, so the candidate fraction is
    ~NTOK^2 x N_PROBE_TOK / K — only K ∝ n_tok keeps the per-query
    candidate COUNT constant as the corpus grows (the single-vector
    index kmeans_ivf wants K ~ sqrt(N) instead). K is still capped by
    the sample (seeds are sample prefixes), but raising TOK_FIT_SAMPLE
    is now a scale-out knob, not a driver-memory bet.

    Deterministic WITHOUT single-threading: the sample and the K seeds
    are md5-order prefixes; assignment argmax ties to the lower cell;
    partial sums are exact int64 (e9-snapped components, half-away), so
    the groupBy reduce is associative and partitioning-invariant; the
    mean update is one half-away-from-zero integer division per cell
    (== round to 9 decimals); centroids broadcast at 6 decimals.

    Returns (postings DataFrame [vec_id, cell] DISTINCT, centroids)."""
    import numpy as np

    from .kmeans_ivf import K_CELLS

    emb = t(spark, sf_dir, "embeddings")
    n_part = spark.sparkContext.defaultParallelism
    # exactly MAXSIM_NTOK token rows per embedding row (posexplode of a
    # fixed 8-element sequence), so the count is metadata arithmetic —
    # materializing the token cache just to size K cost a whole job at
    # small scale
    n_tok = emb.count() * MAXSIM_NTOK
    k_cells = min(max(K_CELLS, n_tok // TOKENS_PER_CELL), TOK_FIT_SAMPLE)
    # three regimes, outputs bit-identical across all of them:
    #   n_tok <= TOK_FIT_SAMPLE: the fit sample IS the whole token corpus,
    #     so fit AND assignment run on the driver over one collected top-k
    #     (no token cache, no second job — the sf0.1 memo's remaining cost
    #     was exactly those two);
    #   k_cells <= _TOK_DRIVER_FIT_MAX_K: driver fit, distributed assign;
    #   else: fully distributed (the 100x scale shape).
    whole_corpus_on_driver = n_tok <= TOK_FIT_SAMPLE
    if whole_corpus_on_driver:
        toks = _token_view(emb)  # single consumer: no repartition, no cache
    else:
        toks = _token_view(emb).repartition(n_part).cache()

    hashed = toks.withColumn(
        "h", F.md5(F.concat_ws(":", F.col("vec_id"), F.col("tok")))
    )

    dim = MAXSIM_TDIM
    sum_cols = [f"s{k}" for k in range(dim)]
    part_schema = "cell int, n long, " + ", ".join(f"{c} long" for c in sum_cols)

    def _snap_e9(X: "np.ndarray") -> "np.ndarray":
        V = X * 1e9
        return np.where(V >= 0, np.floor(V + 0.5), np.ceil(V - 0.5)).astype(
            np.int64
        )

    def _mean_update(C_prev: "np.ndarray", cells, ns, sums_e9) -> "np.ndarray":
        """The shared Lloyd mean step: half-away-from-zero integer
        division of exact e9 partial sums == round(mean, 9). One code
        path for BOTH fit strategies, so their centroids are
        bit-identical by construction (empty cells keep their centroid)."""
        C_new = C_prev.copy()
        for cell, n, s in zip(cells, ns, sums_e9):
            n = int(n)
            mean_e9 = np.array(
                [
                    (abs(int(v)) * 2 + n) // (2 * n) * (1 if int(v) >= 0 else -1)
                    for v in s
                ],
                dtype=np.int64,
            )
            C_new[cell] = mean_e9 / 1e9
        return C_new

    # Size-thresholded hybrid (VERDICT r7 task 4): the distributed Lloyd
    # round-trip (mapInPandas job + shuffle + K-row collect, x5 rounds)
    # costs ~3 s of fixed overhead that dwarfs the math at small K
    # (sf0.1 memo measured 1.47 s driver-side vs 4.52 s distributed).
    # Below the threshold the SAME iteration — identical rounded-centroid
    # broadcast value, identical argmax tie rule, identical e9 integer
    # partial sums, identical _mean_update — runs on the driver over the
    # collected sample (bounded: TOK_FIT_SAMPLE x dim doubles plus a
    # sample x K score matrix, ~1 GB at the threshold). Above it, the
    # distributed rounds keep the r6 scale fix (driver traffic K x dim
    # per round, matmul split across executors). Paths are bit-identical:
    # int64 partial sums are associative, so chunking cannot change them.
    driver_rows = None
    if k_cells <= _TOK_DRIVER_FIT_MAX_K:
        # ONE top-k job feeds the seeds, the training sample, AND (when the
        # corpus fits the sample bound) the assignment input — the earlier
        # separate seed job + distributed sample cache were two jobs of
        # pure overhead (measured ~1.2 s of the 4.9 s sf0.1 memo)
        driver_rows = (
            hashed.orderBy("h")
            .limit(TOK_FIT_SAMPLE)
            .select("h", "vec_id", "tvec")
            .collect()
        )
        driver_rows.sort(key=lambda r: r.h)
        C = np.stack(
            [np.asarray(r.tvec, dtype=np.float64) for r in driver_rows[:k_cells]]
        )
        Xs = np.stack([np.asarray(r.tvec, dtype=np.float64) for r in driver_rows])
        Xs_e9 = _snap_e9(Xs)
        for _ in range(_TOK_ITERS):
            Cb = np.round(C, 6)
            cn = (Cb * Cb).sum(axis=1)
            # argmin ||x-c||^2 == argmax (2 x.c - ||c||^2); ties low
            cell = (2.0 * (Xs @ Cb.T) - cn).argmax(axis=1)
            sums = np.zeros((k_cells, dim), dtype=np.int64)
            np.add.at(sums, cell, Xs_e9)
            counts = np.bincount(cell, minlength=k_cells)
            present = np.nonzero(counts)[0]
            C = _mean_update(C, present, counts[present], sums[present])
    else:
        # seeds: the md5-smallest k_cells tokens — the only sample-sized
        # collect on this path, exactly the K x dim the driver must hold
        seed_rows = (
            hashed.orderBy("h").limit(k_cells).select("h", "tvec").collect()
        )
        seed_rows.sort(key=lambda r: r.h)
        C = np.stack([np.asarray(r.tvec, dtype=np.float64) for r in seed_rows])
        # the training sample stays a DataFrame (limit -> single partition,
        # so spread it back out); row order inside partitions is irrelevant:
        # the per-iteration reduce is an integer sum
        sample = (
            hashed.orderBy("h")
            .limit(TOK_FIT_SAMPLE)
            .select("tvec")
            .repartition(n_part)
            .cache()
        )
        sample.count()
        for _ in range(_TOK_ITERS):
            bCr = spark.sparkContext.broadcast(np.round(C, 6))

            def part_sums(batches, _b=bCr):
                Cb = _b.value
                cn = (Cb * Cb).sum(axis=1)
                K = Cb.shape[0]
                sums = np.zeros((K, dim), dtype=np.int64)
                counts = np.zeros(K, dtype=np.int64)
                seen = False
                for pdf in batches:
                    if not len(pdf):
                        continue
                    seen = True
                    X = np.stack(
                        pdf["tvec"].map(lambda a: np.asarray(a, dtype=np.float64))
                    )
                    # argmin ||x-c||^2 == argmax (2 x.c - ||c||^2); ties low
                    cell = (2.0 * (X @ Cb.T) - cn).argmax(axis=1)
                    np.add.at(sums, cell, _snap_e9(X))
                    counts += np.bincount(cell, minlength=K)
                if not seen:
                    return
                present = np.nonzero(counts)[0]
                out = {"cell": present.astype("int32"), "n": counts[present]}
                for k, c in enumerate(sum_cols):
                    out[c] = sums[present, k]
                yield pd.DataFrame(out)

            agg_rows = (
                sample.mapInPandas(part_sums, schema=part_schema)
                .groupBy("cell")
                .agg(
                    F.sum("n").alias("n"),
                    *[F.sum(c).alias(c) for c in sum_cols],
                )
                .collect()
            )
            C = _mean_update(
                C,
                [r["cell"] for r in agg_rows],
                [r["n"] for r in agg_rows],
                [[r[c] for c in sum_cols] for r in agg_rows],
            )
            bCr.unpersist()
        sample.unpersist()

    Cr = np.round(C, 6)

    # --- hierarchical (two-level) corpus assignment -----------------------
    # The full-corpus pass was the measured quadratic leg: flat argmax over
    # K cells is O(n_tok x K) with K ∝ n_tok, and with an 8-deep inner dim
    # the (batch x K) score matrix makes it memory-bandwidth-bound on top
    # (profiled: 0.3-0.9 s per 10k-row batch at K=3125; 154 s total at the
    # 100x corpus, dwarfing the 9 s distributed Lloyd fit). The PLAID-style
    # fix: group the K centroids under G = ceil(sqrt(K)) coarse centroids
    # (a driver-side Lloyd over K x dim — bounded by the centroid table,
    # not the corpus), then assign each token by coarse argmax (O(G))
    # followed by exact argmax within the chosen group's member cells
    # (~K/G) — O(sqrt(K)) per token in place of O(K). The assignment is
    # approximate at group boundaries (the production trade every IVF
    # build makes); search quality stays floor-gated by the recall report.
    # Deterministic: coarse seeds are the first G cells in id order, fixed
    # iteration count, ties to the lower group / lower cell id (members
    # kept ascending so np.argmax's first-max rule lands on the lowest).
    G = max(1, int(len(Cr) ** 0.5 + 0.999999))
    Gc = Cr[:G].copy()
    for _ in range(_TOK_ITERS):
        gn_ = (Gc * Gc).sum(axis=1)
        gid_ = (2.0 * (Cr @ Gc.T) - gn_).argmax(axis=1)
        sums_ = np.zeros_like(Gc)
        np.add.at(sums_, gid_, Cr)
        cnt_ = np.bincount(gid_, minlength=G)
        nz_ = cnt_ > 0
        Gc_new = Gc.copy()
        Gc_new[nz_] = np.round(sums_[nz_] / cnt_[nz_, None], 9)
        Gc = Gc_new
    Gc = np.round(Gc, 6)
    gn_f = (Gc * Gc).sum(axis=1)
    final_gid = (2.0 * (Cr @ Gc.T) - gn_f).argmax(axis=1)
    members = [
        np.nonzero(final_gid == g)[0].astype(np.int64) for g in range(G)
    ]

    if whole_corpus_on_driver and driver_rows is not None:
        # the collected fit sample IS the whole token corpus: run the SAME
        # routing function on it here (per-token and batch-invariant, so
        # the postings are bit-identical to the distributed pass) and skip
        # the second distributed job entirely (driver_rows is None only
        # when the fit threshold is forced down, e.g. the bit-identity
        # test's monkeypatch — then the distributed pass below runs)
        cells = _route_tokens_top2(Xs, Cr, Gc, members)
        # distinct here too (it's one np.unique over rows already in hand;
        # a Spark .distinct() on driver-born rows would buy a shuffle job)
        pairs = np.unique(
            np.stack(
                [
                    np.array([r.vec_id for r in driver_rows], dtype=np.int64),
                    cells.astype(np.int64),
                ],
                axis=1,
            ),
            axis=0,
        )
        pdf = pd.DataFrame({"vec_id": pairs[:, 0], "cell": pairs[:, 1].astype("int32")})
        return eager_cache(spark.createDataFrame(pdf, schema="vec_id long, cell int")), Cr

    bC = spark.sparkContext.broadcast((Cr, Gc, members))

    def assign(batches):
        Cb, Gb, mem = bC.value
        for pdf in batches:
            X = np.stack(pdf["tvec"].map(lambda a: np.asarray(a, dtype=np.float64)))
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "cell": _route_tokens_top2(X, Cb, Gb, mem)}
            )

    # the doc-level posting list: DISTINCT (doc, cell) — a doc appears in a
    # cell once no matter how many of its tokens land there
    postings = eager_cache(
        toks.mapInPandas(assign, schema="vec_id long, cell int").distinct()
    )
    toks.unpersist()
    return postings, Cr


def _route_tokens_top2(X, Cb, Gb, mem):
    """Hierarchical token->cell routing shared by the driver-resident and
    distributed assignment paths (bit-identical by construction: per-token,
    batch-invariant, ties to the lower cell id).

    Top-2 coarse groups per token: boundary tokens see both sides'
    members — measured: top-1 routing agreed with the exact flat argmax on
    only ~58% of fixture tokens at tiny K; top-2 restores near-exact
    assignment while staying O(2*sqrt(K)) per token."""
    import numpy as np

    cn = (Cb * Cb).sum(axis=1)
    gn = (Gb * Gb).sum(axis=1)
    n_grp = Gb.shape[0]
    gs = 2.0 * (X @ Gb.T) - gn
    g1 = gs.argmax(axis=1)
    if n_grp > 1:
        gs[np.arange(len(X)), g1] = -np.inf
        g2 = gs.argmax(axis=1)
    else:
        g2 = g1
    best_v = np.full(len(X), -np.inf)
    best_c = np.full(len(X), np.iinfo(np.int32).max, dtype=np.int64)
    for gid in (g1, g2):
        for g in np.unique(gid):
            m = mem[g]
            idx = np.nonzero(gid == g)[0]
            if len(m) == 0:
                continue
            s = 2.0 * (X[idx] @ Cb[m].T) - cn[m]
            j = s.argmax(axis=1)
            v = s[np.arange(len(idx)), j]
            c = m[j]
            # max by value; exact ties keep the LOWER cell id (the flat
            # argmax convention)
            take = (v > best_v[idx]) | ((v == best_v[idx]) & (c < best_c[idx]))
            upd = idx[take]
            best_v[upd] = v[take]
            best_c[upd] = c[take]
    miss = np.nonzero(~np.isfinite(best_v))[0]
    if len(miss):  # both probed groups cell-less: flat fallback
        s = 2.0 * (X[miss] @ Cb.T) - cn
        best_c[miss] = s.argmax(axis=1)
    return best_c.astype(np.int32)


def sim_maxsim_ivf_pruned(
    spark: SparkSession, sf_dir: str, max_query_id: int | None = None
) -> DataFrame:
    """The SCALE path for late interaction: TOKEN-level IVF candidate
    generation + exact MaxSim re-ranking of candidates only — brute-force
    MaxSim over a 100 TB corpus is a non-starter, and this
    first-stage/re-rank split is exactly what production ColBERT systems
    run (PLAID: probe learned token-centroid cells with each query token,
    union the posting lists, score the shortlist). Candidates are the
    docs sharing a probed cell with ANY query token; constant cell size
    (fit_token_cells) keeps per-query candidate count ~constant as the
    corpus grows, so total probe work scales with the QUERY workload, not
    the corpus. Rows-only (learned index); recall vs the exact MaxSim
    baseline is floor-gated by sim_maxsim_pruned_recall_report.

    ``max_query_id`` caps the query set (the scale sweep measures a FIXED
    query workload against a growing corpus — the production retrieval
    shape; the default stride-derived set, which grows with the corpus,
    is what the gate and the recall report use)."""
    import numpy as np

    emb = t(spark, sf_dir, "embeddings")
    postings, C = fit_token_cells(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") % QUERY_STRIDE == 0)
    if max_query_id is not None:
        queries = queries.filter(F.col("vec_id") <= max_query_id)
    queries = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    bC = spark.sparkContext.broadcast(C)

    def probe(batches):
        """Each query emits its DISTINCT probed cells: nearest N_PROBE_TOK
        cells per token (Euclidean, ties to the lower cell), unioned."""
        Cb = bC.value
        cn = (Cb * Cb).sum(axis=1)
        for pdf in batches:
            if not len(pdf):
                continue
            rows = []
            for qid, q in zip(pdf["query_id"], pdf["q_emb"]):
                T = np.asarray(q, dtype=np.float64).reshape(MAXSIM_NTOK, MAXSIM_TDIM)
                # stable argsort of -(2 t.c - ||c||^2) = nearest-first
                near = np.argsort(-(2.0 * (T @ Cb.T) - cn), axis=1, kind="stable")
                cells = np.unique(near[:, :N_PROBE_TOK])
                rows.append(pd.DataFrame({"query_id": qid, "cell": cells.astype("int32")}))
            yield pd.concat(rows, ignore_index=True)

    probed = queries.select("query_id", "q_emb").mapInPandas(
        probe, schema="query_id long, cell int"
    )
    # The FLOP-dense _MAXSIM re-rank ran single-core: the candidate frame
    # is byte-light, so AQE coalesced its exchanges to one partition and
    # the unhinted embedding join then BROADCAST the corpus side, leaving
    # the scored stage on the candidates' single partition (guide §2.5;
    # measured 2.9 s for the scored stage at sf0.1). Flip the join: the
    # spread corpus scan is the STREAMING side (scale-correct — the
    # corpus is never shuffled OR broadcast) and the candidate keys ride
    # a broadcast, which is bounded by the query workload (queries x
    # probed-cell candidates), the same scaling class as the existing
    # `queries` broadcast.
    # localCheckpoint: pin the candidate keys BEFORE the broadcast so the
    # Python probe + distinct run as a normal job, not inside the
    # broadcast-build thread (sporadic 10s+ stalls observed there).
    # Broadcast ONLY the (query_id, vec_id) key pairs (ADVICE r11): the
    # r11 shape attached q_emb before the broadcast, replicating the
    # 512-float vector once per (query, candidate) pair — a broadcast
    # ~|candidates|x512x8 bytes, rebuilt every run, whose build/cleanup
    # churn was the measured in-suite variance source (2-23 s swings on
    # identical warm runs). q_emb re-attaches AFTER the corpus join via
    # the queries broadcast, which is |queries|-sized.
    cand_q = (
        probed.join(postings, "cell")
        .select("query_id", "vec_id")
        .distinct()
        .filter(F.col("vec_id") != F.col("query_id"))
        .localCheckpoint()
    )
    cand = (
        spread(spark, emb.select("vec_id", "embedding"))
        .join(F.broadcast(cand_q), "vec_id")
        .join(F.broadcast(queries), "query_id")
    )
    scored = cand.select("query_id", "vec_id", F.expr(_MAXSIM).alias("score_e4"))
    w = W.partitionBy("query_id").orderBy(F.desc("score_e4"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "rank", "vec_id", "score_e4")
    )


def sim_maxsim_pruned_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the IVF-pruned MaxSim path against the exact MaxSim
    baseline (which is itself fully oracle-backed), floor-asserted — the
    same proof contract every learned-ANN path in the repo carries."""
    from .simeval import _learned_recall_report

    return _learned_recall_report(
        exact_maxsim_memo(spark, sf_dir),
        sim_maxsim_ivf_pruned(spark, sf_dir),
        MAXSIM_IVF_RECALL_FLOOR_MILLI,
    )


def _oracle_pruned_recall() -> str:
    """Exact-side sizes recomputed from the (oracle-backed) exact MaxSim
    top-k; the recall boolean is the bounded-oracle TRUE assertion."""
    return f"""
WITH exact_tk AS ({ORACLE_MAXSIM})
SELECT CAST(COUNT(DISTINCT query_id) AS INTEGER) AS n_queries,
       CAST(COUNT(*) AS BIGINT) AS k_total,
       CAST({MAXSIM_IVF_RECALL_FLOOR_MILLI} AS INTEGER) AS recall_floor_milli,
       TRUE AS recall_ok
FROM exact_tk
"""


QUERIES: dict[str, tuple] = {
    "sim_maxsim_topk": (sim_maxsim_topk, ORACLE_MAXSIM),
    "sim_maxsim_ivf_pruned": (sim_maxsim_ivf_pruned, None),
    "sim_maxsim_pruned_recall_report": (
        sim_maxsim_pruned_recall_report,
        _oracle_pruned_recall(),
    ),
}
