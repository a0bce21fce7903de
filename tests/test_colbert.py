"""Late-interaction retrieval: the token-level IVF prefilter (PLAID shape)
must re-rank with the EXACT MaxSim scorer (scores on surviving pairs are
bit-identical to the brute-force baseline), hold its recall floor, and fit
deterministically."""

from __future__ import annotations

from kalytical_spark.operators.colbert import (
    MAXSIM_NTOK,
    N_PROBE_TOK,
    _fit_token_cells,
    fit_token_cells,
    sim_maxsim_ivf_pruned,
    sim_maxsim_pruned_recall_report,
    sim_maxsim_topk,
)
from kalytical_spark.operators.similarity import TOP_K
from tests.conftest import SF_SMALL


def test_recall_floor(spark):
    row = sim_maxsim_pruned_recall_report(spark, SF_SMALL).collect()[0]
    assert row.recall_ok
    assert row.k_total == row.n_queries * TOP_K


def test_pruned_scores_are_exact(spark):
    """The prefilter only prunes — any (query, doc) pair surviving into the
    pruned top-k must carry the same integer-snapped MaxSim score the
    brute-force baseline computed for it."""
    exact = {
        (r.query_id, r.vec_id): r.score_e4
        for r in sim_maxsim_topk(spark, SF_SMALL).collect()
    }
    for r in sim_maxsim_ivf_pruned(spark, SF_SMALL).collect():
        if (r.query_id, r.vec_id) in exact:
            assert exact[(r.query_id, r.vec_id)] == r.score_e4


def test_token_fit_deterministic(spark):
    import numpy as np

    postings1, C1 = fit_token_cells(spark, SF_SMALL)
    p1 = sorted((r.vec_id, r.cell) for r in postings1.collect())
    postings2, C2 = _fit_token_cells(spark, SF_SMALL)
    p2 = sorted((r.vec_id, r.cell) for r in postings2.collect())
    assert np.array_equal(C1, C2)
    assert p1 == p2
    # every doc posts at most NTOK cells (one per token, distinct)
    from collections import Counter

    per_doc = Counter(v for v, _ in p1)
    assert max(per_doc.values()) <= MAXSIM_NTOK
    assert N_PROBE_TOK * MAXSIM_NTOK < C1.shape[0] * MAXSIM_NTOK


def test_fit_paths_bit_identical(spark, monkeypatch):
    """The size-thresholded hybrid (VERDICT r7 task 4): the driver-side
    Lloyd rounds and the distributed rounds must produce BIT-IDENTICAL
    centroids and postings — same rounded-centroid broadcast, same argmax
    tie rule, same e9 integer partial sums, same half-away mean update.
    The fixture K is under the threshold, so the default run takes the
    driver path; forcing the threshold to -1 takes the distributed path."""
    import numpy as np

    from kalytical_spark.operators import colbert

    postings_d, C_d = _fit_token_cells(spark, SF_SMALL)
    pd_ = sorted((r.vec_id, r.cell) for r in postings_d.collect())
    monkeypatch.setattr(colbert, "_TOK_DRIVER_FIT_MAX_K", -1)
    postings_x, C_x = _fit_token_cells(spark, SF_SMALL)
    px = sorted((r.vec_id, r.cell) for r in postings_x.collect())
    assert np.array_equal(C_d, C_x)
    assert pd_ == px


def test_hierarchical_assignment_agrees_with_flat(spark):
    """The sqrt(K) two-level corpus assignment is approximate only at
    coarse-group boundaries. A STRUCTURAL bug (wrong member lists, wrong
    tie-break, routing to the wrong group) collapses agreement with the
    exact flat argmax toward 1/G (~0.25 at the fixture's G=4), which the
    recall floor alone could mask behind the 16-cell probe union — this
    gate pins against that. The measured fixture agreements are 0.58
    with top-1 coarse routing and 0.84 with the shipped top-2 (the
    fixture's 16-cell / 4-group quantizer is the WORST case for boundary
    loss; at sweep scale G=56 and the probed fraction is 3.6%); the
    floor sits between the structural-failure and healthy regimes, and
    search quality itself stays gated by
    sim_maxsim_pruned_recall_report."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from kalytical_spark.operators import colbert
    from tests.conftest import SF_ORACLE

    postings, C = colbert.fit_token_cells(spark, SF_ORACLE)
    emb_toks = colbert._token_view(
        __import__("kalytical_spark.operators.common", fromlist=["t"]).t(
            spark, SF_ORACLE, "embeddings"
        )
    )
    bC = spark.sparkContext.broadcast(C)

    def flat_assign(batches):
        Cb = bC.value
        cn = (Cb * Cb).sum(axis=1)
        for pdf in batches:
            X = np.stack(pdf["tvec"].map(lambda a: np.asarray(a, dtype=np.float64)))
            cell = (2.0 * (X @ Cb.T) - cn).argmax(axis=1).astype("int32")
            yield pd.DataFrame({"vec_id": pdf["vec_id"], "cell": cell})

    flat = (
        emb_toks.mapInPandas(flat_assign, schema="vec_id long, cell int")
        .distinct()
        .groupBy("vec_id")
        .agg(F.collect_set("cell").alias("flat_cells"))
    )
    hier = postings.groupBy("vec_id").agg(F.collect_set("cell").alias("hier_cells"))
    rows = flat.join(hier, "vec_id").select(
        F.size(F.array_intersect("flat_cells", "hier_cells")).alias("inter"),
        F.size(F.array_union("flat_cells", "hier_cells")).alias("union"),
    ).collect()
    agree = sum(r.inter for r in rows) / max(1, sum(r.union for r in rows))
    assert agree >= 0.75, agree
