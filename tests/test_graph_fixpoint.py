"""Executable loop-until-fixpoint contract for the iterative graph lane
(r10 verdict "Next round #2").

The gated queries run FIXED round counts so their SQL oracles are exact
unrolled replays; the docstrings prescribe convergence-stopping in
production.  These pins prove the ``until_fixpoint=True`` variants run
the IDENTICAL per-round plan: on the gated co-purchase substrate each
fixpoint result must equal the fixed-round result at the round count the
loop actually took (``rounds_out``), and must be STABLE — one more fixed
round changes nothing.
"""

import pytest
from pyspark.sql import functions as F

from hazelcast_jet_spark.operators.graph import (kcore_peel,
                                                 label_propagation,
                                                 pagerank)


@pytest.fixture(scope="module")
def copurchase_edges(spark, sf_dir):
    import __spark_entry__ as entry_mod

    return entry_mod._copurchase_edges(spark, sf_dir).localCheckpoint()


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_kcore_fixpoint_equals_fixed_round(copurchase_edges):
    """The true k-core (loop until the surviving edge count is stable)
    equals the unrolled fixed-round peel at the loop's own round count,
    and an extra round is a no-op — fixed-round == fixpoint, executably."""
    import __spark_entry__ as entry_mod

    k = entry_mod.KCORE_K
    ro: list = []
    fix = _rows(kcore_peel(copurchase_edges, k=k, until_fixpoint=True,
                           rounds_out=ro))
    n = ro[0]
    assert n >= 1
    assert fix == _rows(kcore_peel(copurchase_edges, k=k, iters=n))
    # monotone peel: the confirming round was a no-op, so n-1 rounds
    # already sat at the fixpoint and n+1 rounds stay there
    assert fix == _rows(kcore_peel(copurchase_edges, k=k, iters=n + 1))
    if n > 1:
        assert fix == _rows(kcore_peel(copurchase_edges, k=k, iters=n - 1))


def test_lpa_fixpoint_equals_fixed_round(copurchase_edges):
    ro: list = []
    fix = _rows(label_propagation(copurchase_edges, until_fixpoint=True,
                                  rounds_out=ro))
    n = ro[0]
    assert n >= 1
    assert fix == _rows(label_propagation(copurchase_edges, iters=n))
    if n > 1:  # round n confirmed round n-1's labels
        assert fix == _rows(label_propagation(copurchase_edges, iters=n - 1))


def test_pagerank_fixpoint_equals_fixed_round(copurchase_edges):
    """tol-stopped PageRank == the fixed-round run at the same count —
    the two code paths share one round body, bit-for-bit (DECIMAL
    contribution sums make each round order-independent)."""
    ro: list = []
    fix = _rows(pagerank(copurchase_edges, until_fixpoint=True, tol=1e-4,
                         rounds_out=ro))
    assert ro[0] >= 1
    assert fix == _rows(pagerank(copurchase_edges, iters=ro[0]))


def test_pagerank_uniform_is_exact_fixpoint(spark):
    """On a d-regular graph the uniform start IS the exact PageRank
    fixpoint (each node receives d · (r/d) = r), so the convergence loop
    must terminate after one confirming round and agree bit-exactly with
    any fixed round count — the analytically-known case."""
    cycle = spark.createDataFrame(
        [(i, (i + 1) % 6) for i in range(6)], "src INT, dst INT")
    ro: list = []
    fix = _rows(pagerank(cycle, until_fixpoint=True, rounds_out=ro))
    assert ro[0] == 1
    assert fix == _rows(pagerank(cycle, iters=3))
    assert all(r[1] == pytest.approx(1.0 / 6.0) for r in fix)


def test_fixpoint_max_rounds_guard(spark, monkeypatch):
    """Hitting max_rounds raises instead of returning a non-fixpoint."""
    from hazelcast_jet_spark.operators import dedup
    from hazelcast_jet_spark.operators.graph import hindex_coreness

    path = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], "src INT, dst INT")
    with pytest.raises(RuntimeError, match="fixpoint"):
        kcore_peel(path, k=2, until_fixpoint=True, max_rounds=1)
    with pytest.raises(RuntimeError, match="stabilize"):
        label_propagation(path, until_fixpoint=True, max_rounds=1)
    with pytest.raises(RuntimeError, match="converge"):
        pagerank(path, until_fixpoint=True, tol=1e-15, max_rounds=1)
    # the ends' neighbours fall from degree 2 to h-index 1 in round one
    with pytest.raises(RuntimeError, match="converge"):
        hindex_coreness(path, until_fixpoint=True, max_rounds=1)
    # the distributed min-label loop: round one still relabels the chain
    monkeypatch.setattr(dedup, "_PAIRS_COLLECT_THRESHOLD", 0)
    with pytest.raises(RuntimeError, match="fixpoint"):
        dedup.pairs_to_groups(path.select(F.col("src").alias("id_a"),
                                          F.col("dst").alias("id_b")),
                              max_iter=1)


def test_fixed_round_paths_unchanged(copurchase_edges):
    """The refactor to a shared round body must not move the gated
    fixed-round results (their oracles unroll these exact rounds)."""
    import __spark_entry__ as entry_mod

    kc = kcore_peel(copurchase_edges, k=entry_mod.KCORE_K,
                    iters=entry_mod.KCORE_ITERS)
    assert kc.columns == ["node", "degree"]
    assert kc.count() >= 0
    lp = label_propagation(copurchase_edges, iters=entry_mod.LPA_ITERS)
    assert lp.columns == ["node", "label"]
    pr = pagerank(copurchase_edges, iters=entry_mod.PAGERANK_ITERS)
    assert pr.columns == ["node", "pagerank"]
    total = pr.agg(F.sum("pagerank")).collect()[0][0]
    assert total == pytest.approx(1.0, abs=1e-6)


def test_hindex_coreness_fixpoint_cross_operator(copurchase_edges):
    """The converged h-index values are EXACT Seidman coreness (Lü et
    al. 2016 Thm 1), so on the gated substrate the coreness>=k node set
    must equal the k-core peel's own fixpoint survivors — two
    independently-built iterative operators agreeing on real data."""
    import __spark_entry__ as entry_mod

    from hazelcast_jet_spark.operators.graph import hindex_coreness

    ro: list = []
    core = hindex_coreness(copurchase_edges, until_fixpoint=True,
                           rounds_out=ro)
    n = ro[0]
    assert n >= 1
    # fixpoint == fixed-round at the loop's own count (shared body)
    fixed = _rows(hindex_coreness(copurchase_edges, iters=n))
    assert _rows(core) == fixed
    k = entry_mod.KCORE_K
    core_set = {r.node for r in core.collect() if r.coreness >= k}
    surv = {r.node for r in kcore_peel(copurchase_edges, k=k,
                                       until_fixpoint=True).collect()}
    assert core_set == surv


def test_wcc_star_contraction_log_rounds(spark):
    """Large-star/small-star WCC (Kiveris et al. 2014): a diameter-255
    chain converges in <= ceil(log2 255)+2 rounds — the O(log n) bound a
    one-hop label-propagation round cannot meet (it needs O(diameter)
    rounds on the same chain) — with exact components, side structures
    intact, and isolated pairs labeled by their own min."""
    import math

    from hazelcast_jet_spark.operators.graph import wcc

    edges = ([(i, i + 1) for i in range(255)]
             + [(1000, 1001), (1001, 1002), (1000, 1002), (2000, 2001)])
    df = spark.createDataFrame(edges, "src long, dst long")
    ro: list = []
    comp = {r.node: r.component for r in wcc(df, rounds_out=ro).collect()}
    assert ro[0] <= math.ceil(math.log2(255)) + 2
    assert all(comp[i] == 0 for i in range(256))
    assert all(comp[n] == 1000 for n in (1000, 1001, 1002))
    assert comp[2000] == comp[2001] == 2000
    assert len(comp) == 256 + 3 + 2


def test_wcc_equals_pairs_to_groups_on_gated_substrate(copurchase_edges):
    """Cross-operator pin: the star-contraction components equal
    pairs_to_groups' min-label fixpoint on the gated co-purchase graph —
    two independently-built CC algorithms agreeing on real data (the
    hindex/kcore pin convention)."""
    from hazelcast_jet_spark.operators.dedup import pairs_to_groups
    from hazelcast_jet_spark.operators.graph import wcc

    got = _rows(wcc(copurchase_edges))
    want = _rows(pairs_to_groups(
        copurchase_edges.select(F.col("src").alias("id_a"),
                                F.col("dst").alias("id_b"))))
    assert got == want


def test_wcc_raises_on_round_budget(spark, monkeypatch):
    # the round budget is a contract of the distributed star-contraction
    # loop; force past the size-adaptive small path to pin it
    from hazelcast_jet_spark.operators import dedup
    from hazelcast_jet_spark.operators.graph import wcc

    monkeypatch.setattr(dedup, "_PAIRS_COLLECT_THRESHOLD", 0)
    df = spark.createDataFrame([(i, i + 1) for i in range(64)],
                               "src long, dst long")
    with pytest.raises(RuntimeError, match="star fixpoint"):
        wcc(df, max_rounds=1)
