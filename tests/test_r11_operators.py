"""Analytic sanity pins for the r11-session operators — each checked
against a case whose answer is known in closed form (the oracle-parity
mirror covers the gated substrates; these pin the math itself).
"""

import math

import pytest
from pyspark.sql import functions as F


def test_t_closeness_uniform_classes_have_zero_tvd(spark):
    from hazelcast_jet_spark.operators.profile import t_closeness

    rows = [(c, v) for c in ("g1", "g2") for v in ("a", "b") for _ in range(5)]
    df = spark.createDataFrame(rows, "q string, s string")
    out = {r.t: r for r in t_closeness(df, ["q"], "s",
                                       ts=(0.1, 0.5)).collect()}
    assert out[0.1].n_weak_classes == 0 and out[0.1].weak_share == 0.0


def test_t_closeness_flags_skewed_class(spark):
    from hazelcast_jet_spark.operators.profile import t_closeness

    # g1 all 'a', g2 all 'b' -> each class TVD = 0.5 vs the 50/50 global
    rows = [("g1", "a")] * 6 + [("g2", "b")] * 6
    df = spark.createDataFrame(rows, "q string, s string")
    out = {r.t: r for r in t_closeness(df, ["q"], "s",
                                       ts=(0.4, 0.6)).collect()}
    assert out[0.4].n_weak_classes == 2 and out[0.4].weak_share == 1.0
    assert out[0.6].n_weak_classes == 0


def test_kalman_constant_series_locks_to_level(spark):
    from hazelcast_jet_spark.operators.timeseries import kalman_level

    df = spark.createDataFrame(
        [("k", i, 7.0) for i in range(1, 8)], "k string, t int, v double")
    out = kalman_level(df, "k", "t", "v", q=1.0, r=4.0).orderBy("t").collect()
    assert all(r.level == 7.0 for r in out)          # no innovation
    assert out[0].gain == 1.0
    gains = [r.gain for r in out]
    assert all(g1 >= g2 for g1, g2 in zip(gains[1:], gains[2:]))  # monotone
    # steady-state gain of the local-level model: K* solves
    # K = (P+q)/((P+q)+r) with P = (1-K)(P+q)  =>  quadratic in K
    kstar = (-1.0 + math.sqrt(1.0 + 4.0 * 4.0 / 1.0)) / (2.0 * 4.0 / 1.0)
    assert abs(gains[-1] - kstar) < 0.01


def test_kalman_matches_ewma_at_steady_gain(spark):
    """After convergence the filter IS an EWMA with alpha = gain."""
    from hazelcast_jet_spark.operators.timeseries import kalman_level

    vals = [(i, float(v)) for i, v in enumerate([5, 9, 2, 7, 4, 8, 6, 3], 1)]
    df = spark.createDataFrame([("k", i, v) for i, v in vals],
                               "k string, t int, v double")
    out = kalman_level(df, "k", "t", "v").orderBy("t").collect()
    for prev, cur, (_, v) in zip(out, out[1:], vals[1:]):
        assert cur.level == pytest.approx(
            prev.level + cur.gain * (v - prev.level), abs=1e-12)


def test_khop_reach_path_graph(spark):
    from hazelcast_jet_spark.operators.graph import khop_reach

    # path 1-2-3-4-5: reach2(3) = {1,2,4,5} = 4; reach2(1) = {2,3} = 2
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 5)], "src int, dst int")
    out = {r.node: r for r in khop_reach(edges).collect()}
    assert out[3].reach2 == 4 and out[3].degree == 2
    assert out[1].reach2 == 2 and out[1].degree == 1
    assert out[1].expansion == 2.0


def test_khop_reach_hub_cap_excludes_middle(spark):
    from hazelcast_jet_spark.operators.graph import khop_reach

    # star: center 0 with 5 leaves; cap below the hub degree -> leaves
    # cannot 2-hop through it, reach2 = direct neighbor only
    edges = spark.createDataFrame(
        [(0, i) for i in range(1, 6)], "src int, dst int")
    out = {r.node: r for r in khop_reach(edges, max_degree=3).collect()}
    assert all(out[i].reach2 == 1 for i in range(1, 6))
    # uncapped: each leaf reaches the hub + the 4 other leaves
    out2 = {r.node: r for r in khop_reach(edges, max_degree=10).collect()}
    assert all(out2[i].reach2 == 5 for i in range(1, 6))


def test_personalized_pagerank_concentrates_on_seed_component(spark):
    from hazelcast_jet_spark.operators.graph import personalized_pagerank

    # two disconnected triangles; seeds only in the first
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (11, 12), (12, 13), (13, 11)],
        "src int, dst int")
    seeds = spark.createDataFrame([(1,)], "node int")
    pr = {r.node: r.pagerank
          for r in personalized_pagerank(edges, seeds, iters=4).collect()}
    assert pr[11] == pr[12] == pr[13] == 0.0
    assert pr[1] > pr[2] > 0.0  # seed holds the teleport mass
    assert pr[2] == pr[3]       # symmetry


def test_personalized_pagerank_requires_seed_in_graph(spark):
    from hazelcast_jet_spark.operators.graph import personalized_pagerank

    edges = spark.createDataFrame([(1, 2)], "src int, dst int")
    seeds = spark.createDataFrame([(99,)], "node int")
    with pytest.raises(ValueError, match="no seed"):
        personalized_pagerank(edges, seeds)


def test_cvm_identical_samples_zero_and_shift_positive(spark):
    from hazelcast_jet_spark.operators.profile import cvm_drift

    a = spark.createDataFrame([(float(i),) for i in range(50)], "v double")
    out = cvm_drift(a, a, "v").collect()
    assert out[0].cvm_stat == 0.0
    b = spark.createDataFrame([(float(i + 30),) for i in range(50)],
                              "v double")
    shifted = cvm_drift(a, b, "v").collect()[0]
    assert shifted.cvm_stat > 0.461  # past the alpha=0.05 critical value


def test_ndcg_perfect_and_inverted(spark):
    from hazelcast_jet_spark.operators.similarity import (ndcg_at_k,
                                                          ndcg_discounts,
                                                          ndcg_ideal_prefix)

    k = 3
    truth = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2), (1, 12, 3)], "query_id int, corpus_id int, rank int")
    perfect = ndcg_at_k(truth, truth, k).collect()[0]
    assert perfect.ndcg == 1.0 and perfect.n_hits == 3
    inv = spark.createDataFrame(
        [(1, 12, 1), (1, 11, 2), (1, 10, 3)], "query_id int, corpus_id int, rank int")
    disc, ideal = ndcg_discounts(k), ndcg_ideal_prefix(k)
    want = (1.0 * disc[0] + 2.0 * disc[1] + 3.0 * disc[2]) / ideal[2]
    got = ndcg_at_k(inv, truth, k).collect()[0]
    assert got.ndcg == pytest.approx(want, abs=1e-6)
    miss = spark.createDataFrame(
        [(1, 99, 1), (1, 98, 2), (1, 97, 3)], "query_id int, corpus_id int, rank int")
    assert ndcg_at_k(miss, truth, k).collect()[0].ndcg == 0.0


def test_ndcg_ignores_out_of_contract_ranks(spark):
    """ADVICE r11: ranks outside [1, k] are ignored per the @k contract
    instead of surfacing as an ANSI ARRAY_INDEX_OUT_OF_BOUNDS."""
    from hazelcast_jet_spark.operators.similarity import ndcg_at_k

    k = 3
    truth = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2), (1, 12, 3), (1, 13, 4)],
        "query_id int, corpus_id int, rank int")
    cands = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2), (1, 12, 3), (1, 13, 4), (1, 14, 0)],
        "query_id int, corpus_id int, rank int")
    got = ndcg_at_k(cands, truth, k).collect()[0]
    # truth rank 4 and candidate ranks 4/0 dropped: a perfect top-3
    assert got.n_truth == 3 and got.n_hits == 3 and got.ndcg == 1.0
    with pytest.raises(ValueError, match="k >= 1"):
        ndcg_at_k(cands, truth, 0)


def test_t_closeness_hundredth_grain_thresholds(spark):
    """ADVICE r11: thresholds equal at the hundredth grain must not
    collide into duplicate internal aliases."""
    from hazelcast_jet_spark.operators.profile import t_closeness

    rows = [("g1", "a")] * 6 + [("g2", "b")] * 6
    df = spark.createDataFrame(rows, "q string, s string")
    out = {r.t: r for r in t_closeness(df, ["q"], "s",
                                       ts=(0.005, 0.008)).collect()}
    # each class TVD = 0.5 > both thresholds
    assert out[0.005].n_weak_classes == 2
    assert out[0.008].n_weak_classes == 2


def test_vocab_richness_closed_form(spark):
    from hazelcast_jet_spark.operators.text import vocab_richness

    # tokens: a a a b b c d -> N=7, D=4, f1=2 (c,d), f2=1 (b)
    df = spark.createDataFrame([("g", "a a a b b c d")],
                               "lang string, text string")
    r = vocab_richness(df, group_cols=["lang"]).collect()[0]
    assert (r.n_tokens, r.d_obs, r.f1, r.f2) == (7, 4, 2, 1)
    assert r.chao1 == pytest.approx(4 + 2 * 1 / (2 * 2), abs=1e-9)
    assert r.coverage == pytest.approx(1 - 2 / 7, abs=1e-6)


def test_spearman_monotone_and_ties(spark):
    from hazelcast_jet_spark.operators.profile import spearman_corr

    mono = spark.createDataFrame(
        [(float(i), float(i * i)) for i in range(1, 11)],
        "x double, y double")
    assert spearman_corr(mono, "x", "y").collect()[0].spearman == 1.0
    anti = spark.createDataFrame(
        [(float(i), float(-i)) for i in range(1, 11)], "x double, y double")
    assert spearman_corr(anti, "x", "y").collect()[0].spearman == -1.0
    # hand-checked tie case: x=[1,1,2,3] -> midranks [1.5,1.5,3,4];
    # y=[10,20,20,30] -> [1,2.5,2.5,4]; Pearson on those = 5/6
    ties = spark.createDataFrame(
        [(1.0, 10.0), (1.0, 20.0), (2.0, 20.0), (3.0, 30.0)],
        "x double, y double")
    assert spearman_corr(ties, "x", "y").collect()[0].spearman == \
        pytest.approx(5.0 / 6.0, abs=1e-6)


def test_post_stratified_ate_removes_imbalance(spark):
    from hazelcast_jet_spark.operators.experiment import post_stratified_ate

    # two strata with very different outcome levels; arm B oversampled
    # in the high stratum -> raw contrast inflated, post-strat ~ true 0
    rows = (
        [("A", "hi", 100.0 + i) for i in range(4)]
        + [("B", "hi", 100.0 + i) for i in range(8)]
        + [("A", "lo", 10.0 + i) for i in range(8)]
        + [("B", "lo", 10.0 + i) for i in range(4)]
    )
    df = spark.createDataFrame(rows, "arm string, s string, y double")
    r = post_stratified_ate(df, "arm", "y", "s").collect()[0]
    assert r.n_strata_used == 2 and r.n_units_used == 24
    assert abs(r.ate_ps) < 2.0 < abs(r.ate_raw)


def test_fellegi_sunter_identifying_field_gets_positive_weight(spark):
    from hazelcast_jet_spark.operators.joins import fellegi_sunter_weights

    # 20 entities x 2 records; 'tag' identifies the entity (m=1 for
    # matches, rarely agrees for random pairs); 'noise' is constant
    # (agrees everywhere -> weight ~ 0)
    rows = []
    for e in range(20):
        for c in range(2):
            rows.append((e * 2 + c, f"mk{e}", f"tag{e}", "same"))
    df = spark.createDataFrame(rows, "id int, mk string, tag string, "
                                     "noise string")
    out = {r.field: r for r in fellegi_sunter_weights(
        df, "id", "mk", ["tag", "noise"]).collect()}
    assert out["tag"].m_prob == 1.0 and out["tag"].u_prob < 0.2
    assert out["tag"].w_agree is None or out["tag"].w_agree > 2.0
    assert out["noise"].m_prob == 1.0 and out["noise"].u_prob == 1.0
    assert out["noise"].w_agree == 0.0


def test_stream_kalman_rejects_out_of_order(spark, tmp_path):
    import os

    from pyspark.sql.streaming import StreamingQueryException

    from hazelcast_jet_spark.streaming.kalman import stream_kalman_level
    from hazelcast_jet_spark.streaming.run import run_to_batch

    schema = "k string, day date, n bigint"
    src = str(tmp_path / "src"); os.makedirs(src)
    spark.createDataFrame([("a", "2024-01-05", 3)], "k string, day string, n bigint") \
        .select("k", F.to_date("day").alias("day"), "n") \
        .coalesce(1).write.parquet(src + "/f0")
    spark.createDataFrame([("a", "2024-01-02", 5)], "k string, day string, n bigint") \
        .select("k", F.to_date("day").alias("day"), "n") \
        .coalesce(1).write.parquet(src + "/f1")
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(src + "/f*"))
    out = stream_kalman_level(stream, "k", "day", "n")
    with pytest.raises(StreamingQueryException,
                       match="in-order delivery violated"):
        name_df = out.writeStream.format("memory") \
            .queryName("kal_ooo").outputMode("update") \
            .trigger(availableNow=True).start()
        name_df.awaitTermination()
    # drop mode: late row discarded, first row's filter state kept
    out2 = stream_kalman_level(stream, "k", "day", "n",
                               on_out_of_order="drop")
    res = run_to_batch(out2, "update").collect()
    assert len(res) == 1 and res[0].level == 3.0


def test_stream_kalman_rejects_same_batch_duplicate(spark, tmp_path):
    """ADVICE r11: a duplicate (key, day) must be policed identically
    whether it shares a micro-batch with its twin or arrives later —
    previously only the split case raised."""
    import os

    from pyspark.sql.streaming import StreamingQueryException

    from hazelcast_jet_spark.streaming.kalman import stream_kalman_level
    from hazelcast_jet_spark.streaming.run import run_to_batch

    schema = "k string, day date, n bigint"
    src = str(tmp_path / "src"); os.makedirs(src)
    spark.createDataFrame(
        [("a", "2024-01-05", 3), ("a", "2024-01-05", 9)],
        "k string, day string, n bigint") \
        .select("k", F.to_date("day").alias("day"), "n") \
        .coalesce(1).write.parquet(src + "/f0")
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(src + "/f*"))
    out = stream_kalman_level(stream, "k", "day", "n")
    with pytest.raises(StreamingQueryException,
                       match="in-order delivery violated"):
        q = out.writeStream.format("memory") \
            .queryName("kal_dup").outputMode("update") \
            .trigger(availableNow=True).start()
        q.awaitTermination()
    # drop mode: first occurrence kept, duplicate discarded
    out2 = stream_kalman_level(stream, "k", "day", "n",
                               on_out_of_order="drop")
    res = run_to_batch(out2, "update").collect()
    assert len(res) == 1 and res[0].level == 3.0


def test_stream_kalman_equals_batch(spark, tmp_path):
    """The carried-posterior streaming filter replays the batch
    ``kalman_level`` bit-for-bit across three micro-batches (one file
    per trigger), whatever the split of each key's series."""
    import os

    from hazelcast_jet_spark.operators.timeseries import kalman_level
    from hazelcast_jet_spark.streaming.kalman import stream_kalman_level
    from hazelcast_jet_spark.streaming.run import run_to_batch

    daily = spark.createDataFrame(
        [("a", f"2024-01-{d:02d}", v) for d, v in
         enumerate([5, 9, 2, 7, 4, 8, 6, 3], start=1)]
        + [("b", f"2024-01-{d:02d}", v) for d, v in
           enumerate([11, 13, 12], start=3)],
        "k string, day string, n bigint") \
        .select("k", F.to_date("day").alias("day"), "n")
    want = sorted((r.k, str(r.day), r.level, r.gain) for r in
                  kalman_level(daily, "k", "day", "n", q=0.7, r=3.1)
                  .collect())

    src = str(tmp_path / "src"); os.makedirs(src)
    for i, pred in enumerate([F.dayofmonth("day") <= 3,
                              (F.dayofmonth("day") > 3)
                              & (F.dayofmonth("day") <= 6),
                              F.dayofmonth("day") > 6]):
        daily.filter(pred).coalesce(1).write.parquet(f"{src}/f{i}")
    stream = (spark.readStream.schema("k string, day date, n bigint")
              .option("maxFilesPerTrigger", 1).parquet(src + "/f*"))
    out = stream_kalman_level(stream, "k", "day", "n", q=0.7, r=3.1)
    got = sorted((r.k, str(r.day), r.level, r.gain)
                 for r in run_to_batch(out, "update").collect())
    assert got == want and len(got) == 11


def test_hindex_coreness_exact_on_known_graph(spark):
    from hazelcast_jet_spark.operators.graph import (hindex_coreness,
                                                     kcore_peel)

    # triangle {1,2,3} with a tail 3-4-5: coreness 2,2,2,1,1
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5)], "src int, dst int")
    core = {r.node: r.coreness
            for r in hindex_coreness(edges, iters=3).collect()}
    assert core == {1: 2, 2: 2, 3: 2, 4: 1, 5: 1}
    # consistency with the fixed-k peel at its fixpoint: the 2-core IS
    # the coreness>=2 node set
    surv = {r.node for r in kcore_peel(edges, k=2,
                                       until_fixpoint=True).collect()}
    assert surv == {n for n, c in core.items() if c >= 2}


def test_theil_decomposition_identity_and_zero(spark):
    from hazelcast_jet_spark.operators.profile import theil_decomposition

    # equal values -> zero inequality everywhere
    eq = spark.createDataFrame([("a", 5.0)] * 4 + [("b", 5.0)] * 4,
                               "g string, x double")
    r = theil_decomposition(eq, "g", "x").collect()[0]
    assert (r.theil_total, r.theil_between, r.theil_within) == (0.0, 0.0, 0.0)
    # identical within-group distributions, different means ->
    # within = 0 per group is false here, but total = between + within
    # must hold, and between dominates
    df = spark.createDataFrame(
        [("a", 1.0), ("a", 1.0), ("b", 10.0), ("b", 10.0)],
        "g string, x double")
    r2 = theil_decomposition(df, "g", "x").collect()[0]
    assert r2.theil_within == 0.0          # each group internally equal
    assert r2.theil_between == pytest.approx(r2.theil_total, abs=1e-6)
    assert r2.theil_total > 0.3
    # non-positive rows are dropped and counted
    df3 = spark.createDataFrame(
        [("a", 1.0), ("a", 0.0), ("b", -2.0), ("b", 3.0)],
        "g string, x double")
    r3 = theil_decomposition(df3, "g", "x").collect()[0]
    assert r3.n == 2 and r3.n_dropped == 2


def test_ratio_delta_matches_hand_computation(spark):
    from hazelcast_jet_spark.operators.experiment import ratio_metric_delta

    rows = [("A", 10.0, 2.0), ("A", 20.0, 4.0), ("A", 30.0, 4.0),
            ("B", 40.0, 4.0), ("B", 10.0, 1.0), ("B", 25.0, 5.0)]
    df = spark.createDataFrame(rows, "arm string, x double, y double")
    r = ratio_metric_delta(df, "arm", "x", "y").collect()[0]
    assert r.ratio_a == pytest.approx(60.0 / 10.0, abs=1e-9)
    assert r.ratio_b == pytest.approx(75.0 / 10.0, abs=1e-9)
    assert r.diff == pytest.approx(1.5, abs=1e-9)
    assert r.se is not None and r.se > 0.0


def test_croston_constant_demand_locks_to_rate(spark):
    from hazelcast_jet_spark.operators.timeseries import croston

    # size 6 every 3 periods: z locks to 6, p to 3, forecast to 2/period
    df = spark.createDataFrame(
        [("k", 3 * i, 6.0) for i in range(1, 9)], "k string, t int, v double")
    out = croston(df, "k", "t", "v").orderBy("t").collect()
    assert out[0].z == 6.0 and out[0].p == 1.0
    assert out[-1].z == 6.0
    assert out[-1].p == pytest.approx(3.0, abs=0.02)  # converges from 1
    assert out[-1].forecast == pytest.approx(2.0, rel=0.01)
    # irregular gaps: p tracks the interval EWMA exactly (alpha=0.5)
    df2 = spark.createDataFrame(
        [("k", t, 4.0) for t in (0, 1, 5)], "k string, t int, v double")
    o2 = croston(df2, "k", "t", "v").orderBy("t").collect()
    assert o2[1].p == 0.5 * 1.0 + 0.5 * 1.0
    assert o2[2].p == 0.5 * 4.0 + 0.5 * o2[1].p
