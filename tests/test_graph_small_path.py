"""The size-adaptive iterative-graph small paths (bounded driver-side
replay, operators/graph_local.py) must be ROW- and BIT-IDENTICAL to the
distributed loops they replace below the threshold — the equality pins
that keep the r13 optimization from being a semantic fork.  Float
outputs (pagerank/ppr/hits) compare by exact equality of the collected
Python floats, i.e. IEEE bit patterns."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from hazelcast_jet_spark.operators import graph_local
from hazelcast_jet_spark.operators.graph import (hindex_coreness, hits,
                                                 kcore_peel, khop_reach,
                                                 label_propagation,
                                                 pagerank,
                                                 personalized_pagerank, wcc)


@pytest.fixture(scope="module")
def edges(spark):
    # two dense-ish communities joined by a bridge, a chain, a hub, a
    # duplicate edge (multiplicity counts toward degree in pagerank),
    # and asymmetric degrees so L-inf normalizers and h-indexes move
    rows = (
        [(1, 2), (1, 3), (2, 3), (3, 4), (2, 4), (1, 4)]        # K4
        + [(10, 11), (10, 12), (11, 12), (12, 13), (11, 13)]    # dense-5
        + [(4, 10)]                                             # bridge
        + [(20, 21), (21, 22), (22, 23), (23, 24)]              # chain
        + [(30, i) for i in range(31, 40)]                      # hub
        + [(1, 2)]                                              # dup row
    )
    return spark.createDataFrame(rows, "src long, dst long")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _both_paths(monkeypatch, fn):
    small = _rows(fn())
    monkeypatch.setattr(graph_local, "GRAPH_COLLECT_THRESHOLD", 0)
    dist = _rows(fn())
    monkeypatch.setattr(graph_local, "GRAPH_COLLECT_THRESHOLD", 2_000_000)
    assert len(small) > 0
    return small, dist


def test_pagerank_small_equals_distributed(spark, edges, monkeypatch):
    small, dist = _both_paths(
        monkeypatch, lambda: pagerank(edges, iters=3))
    assert small == dist
    total = sum(r[1] for r in small)
    assert total == pytest.approx(1.0, abs=1e-6)


def test_pagerank_fixpoint_small_equals_distributed(spark, edges,
                                                    monkeypatch):
    small, dist = _both_paths(
        monkeypatch,
        lambda: pagerank(edges, until_fixpoint=True, max_rounds=256))
    assert small == dist


def test_ppr_small_equals_distributed(spark, edges, monkeypatch):
    seeds = spark.createDataFrame([(1,), (10,), (999,)], "node long")
    small, dist = _both_paths(
        monkeypatch,
        lambda: personalized_pagerank(edges, seeds, iters=3))
    assert small == dist
    # unreachable chain/hub nodes keep rank rows (possibly 0.0)
    assert {r[0] for r in small} >= {20, 24, 30, 39}


def test_lpa_small_equals_distributed(spark, edges, monkeypatch):
    small, dist = _both_paths(
        monkeypatch, lambda: label_propagation(edges, iters=2))
    assert small == dist


def test_kcore_small_equals_distributed(spark, edges, monkeypatch):
    for k in (2, 3):
        small, dist = _both_paths(
            monkeypatch, lambda: kcore_peel(edges, k=k, iters=4))
        assert small == dist
    # k high enough to peel everything: both paths return 0 rows
    assert kcore_peel(edges, k=50, iters=4).count() == 0
    monkeypatch.setattr(graph_local, "GRAPH_COLLECT_THRESHOLD", 0)
    assert kcore_peel(edges, k=50, iters=4).count() == 0


def test_hindex_small_equals_distributed(spark, edges, monkeypatch):
    small, dist = _both_paths(
        monkeypatch, lambda: hindex_coreness(edges, iters=3))
    assert small == dist
    # hub center's neighbors are leaves: coreness 1 everywhere there
    d = dict(small)
    assert d[31] == 1


def test_hits_small_equals_distributed(spark, edges, monkeypatch):
    # directed bipartite-ish view: the raw edge rows as src->dst
    small, dist = _both_paths(
        monkeypatch, lambda: hits(edges, iters=2, round_digits=9))
    assert small == dist
    # top hub and top authority pinned at exactly 1.0 by L-inf
    assert max(r[2] for r in small if r[0] == "hub") == 1.0
    assert max(r[2] for r in small if r[0] == "auth") == 1.0


def test_hits_unrounded_small_equals_distributed(spark, edges,
                                                 monkeypatch):
    small, dist = _both_paths(
        monkeypatch, lambda: hits(edges, iters=2, round_digits=None))
    assert small == dist


def test_khop_small_equals_distributed(spark, edges, monkeypatch):
    from hazelcast_jet_spark.operators.graph import khop_reach

    for md in (3, 256):
        small, dist = _both_paths(
            monkeypatch, lambda: khop_reach(edges, max_degree=md))
        assert small == dist


def test_small_path_declines_non_integral(spark, monkeypatch):
    df = spark.createDataFrame(
        [("a", "b"), ("b", "c")], "src string, dst string")
    assert graph_local.collect_int_edges(df) is None
    # string-keyed graphs still work via the distributed loop
    out = _rows(label_propagation(df, iters=2))
    assert len(out) == 3


def test_small_path_declines_nulls(spark):
    df = spark.createDataFrame(
        [(1, 2), (None, 3)], "src long, dst long")
    assert graph_local.collect_int_edges(df) is None


def _spy(monkeypatch, module, name):
    """Count the calls of ``module.name`` (the driver-local replay)."""
    calls = []
    real = getattr(module, name)

    def wrapped(*a, **kw):
        calls.append(1)
        return real(*a, **kw)

    monkeypatch.setattr(module, name, wrapped)
    return calls


@pytest.mark.parametrize("op, replay, n_edges", [
    # pagerank, ppr, kcore, hindex and lpa collect the raw rows (the
    # duplicate row included); hits and khop collect the deduped /
    # canonical set their probe plan builds
    pytest.param(lambda e: pagerank(e, iters=3), "pagerank_local",
                 lambda e: e.count(), id="pagerank"),
    pytest.param(lambda e: _ppr(e), "pagerank_local", lambda e: e.count(),
                 id="ppr"),
    pytest.param(lambda e: kcore_peel(e, k=2, iters=4), "kcore_local",
                 lambda e: e.count(), id="kcore"),
    pytest.param(lambda e: hindex_coreness(e, iters=3), "hindex_local",
                 lambda e: e.count(), id="hindex"),
    (lambda e: label_propagation(e, iters=2), "lpa_local",
     lambda e: e.count()),
    (lambda e: hits(e, iters=2), "hits_local",
     lambda e: e.distinct().count()),
    (khop_reach, "khop_local",
     lambda e: e.select(F.least("src", "dst"), F.greatest("src", "dst"))
     .distinct().count()),
])
def test_threshold_boundary(spark, edges, monkeypatch, op, replay, n_edges):
    """At exactly the probed edge count the small path runs; one below,
    the probe sees T+1 rows and declines.  Both give the same rows."""
    n = n_edges(edges)
    calls = _spy(monkeypatch, graph_local, replay)
    monkeypatch.setattr(graph_local, "GRAPH_COLLECT_THRESHOLD", n)
    at = _rows(op(edges))
    assert len(calls) == 1
    monkeypatch.setattr(graph_local, "GRAPH_COLLECT_THRESHOLD", n - 1)
    below = _rows(op(edges))
    assert len(calls) == 1  # declined: the distributed loop ran
    assert at == below and len(at) > 0


def test_wcc_threshold_boundary(spark, edges, monkeypatch):
    from hazelcast_jet_spark.operators import dedup
    from hazelcast_jet_spark.operators.graph import wcc

    # wcc probes the self-loop-free edge rows, duplicates included
    n = edges.filter(F.col("src") != F.col("dst")).count()
    calls = _spy(monkeypatch, graph_local, "min_root_components")
    monkeypatch.setattr(dedup, "_PAIRS_COLLECT_THRESHOLD", n)
    at = _rows(wcc(edges))
    assert len(calls) == 1
    monkeypatch.setattr(dedup, "_PAIRS_COLLECT_THRESHOLD", n - 1)
    below = _rows(wcc(edges))
    assert len(calls) == 1
    assert at == below and len(at) > 0


def test_pairs_to_groups_threshold_boundary(spark, edges, monkeypatch):
    from hazelcast_jet_spark.operators import dedup

    # pairs_to_groups probes the raw pair rows, duplicates included
    n = edges.count()
    calls = _spy(monkeypatch, dedup, "min_root_components")
    monkeypatch.setattr(dedup, "_PAIRS_COLLECT_THRESHOLD", n)
    at = _rows(_pairs_to_groups(edges))
    assert len(calls) == 1
    monkeypatch.setattr(dedup, "_PAIRS_COLLECT_THRESHOLD", n - 1)
    below = _rows(_pairs_to_groups(edges))
    assert len(calls) == 1
    assert at == below and len(at) > 0


def test_khop_wedge_bound_boundary(spark, monkeypatch):
    """A star's centre makes d**2 wedge pairs from d edges, so the edge
    bound alone would admit it.  With the wedge count exactly at
    ``KHOP_WEDGES_PER_EDGE * GRAPH_COLLECT_THRESHOLD`` the replay runs;
    lowering the threshold by one puts the count just above the bound
    (the edge probe still passes), the replay declines, and the
    distributed plan gives the same rows."""
    k = graph_local.KHOP_WEDGES_PER_EDGE
    d = next(d for d in range(8, 8 + 2 * k) if d * (d + 1) % k == 0)
    star = spark.createDataFrame([(0, i) for i in range(1, d + 1)],
                                 "src long, dst long")
    wedges = d * d + d  # the centre's d**2, plus 1 per leaf
    replays = []
    real = graph_local.khop_local

    def spy(*a, **kw):
        out = real(*a, **kw)
        replays.append(out is not None)
        return out

    monkeypatch.setattr(graph_local, "khop_local", spy)
    monkeypatch.setattr(graph_local, "GRAPH_COLLECT_THRESHOLD", wedges // k)
    at = _rows(khop_reach(star, max_degree=d))
    monkeypatch.setattr(graph_local, "GRAPH_COLLECT_THRESHOLD",
                        wedges // k - 1)
    above = _rows(khop_reach(star, max_degree=d))
    assert wedges // k - 1 >= d  # the edge probe passed both times
    assert replays == [True, False]
    assert at == above and len(at) == d + 1
    assert at[0] == (0, d, d, 1.0)


def test_small_path_declines_empty(spark):
    df = spark.createDataFrame([], "src long, dst long")
    assert graph_local.collect_int_edges(df) is None


def _jobs_fired(spark, fn, group):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("derive, jobs", [
    pytest.param(lambda e: e, 0, id="scan"),
    pytest.param(lambda e: e.filter("src >= 0"), 1, id="derived"),
])
@pytest.mark.parametrize("name", ["pagerank", "label_propagation", "wcc"])
def test_small_path_job_count(spark, tmp_path, name, derive, jobs):
    """Building the small-path result fires no job for a bare local
    parquet scan, which the collect reads on the driver, and exactly ONE
    for a derived frame — the bounded Arrow probe.  A returning
    ``count()`` or eager checkpoint before the sink shows up here as one
    job more."""
    from hazelcast_jet_spark.operators import graph

    path = str(tmp_path / "edges")
    spark.createDataFrame([(i, i + 1) for i in range(40)] + [(5, 20)],
                          "src long, dst long").write.parquet(path)
    e = derive(spark.read.parquet(path))
    out = []
    n = _jobs_fired(spark, lambda: out.append(getattr(graph, name)(e)),
                    f"small-path-jobs-{name}-{jobs}")
    assert n == jobs
    assert out[0].count() > 0


def _pairs_to_groups(e):
    from hazelcast_jet_spark.operators.dedup import pairs_to_groups

    return pairs_to_groups(e.select(F.col("src").alias("id_a"),
                                    F.col("dst").alias("id_b")))


def _ppr(e):
    seeds = e.sparkSession.createDataFrame([(1,), (10,)], "node long")
    return personalized_pagerank(e, seeds, iters=3)


@pytest.mark.parametrize("build, jobs", [
    pytest.param(lambda e: pagerank(e, iters=3), 16, id="pagerank-fixed"),
    # the fixpoint cases of pagerank and lpa run on the K4 and its
    # bridge: the fixture's hub star is bipartite, where synchronous LPA
    # 2-cycles and pagerank converges slowly
    pytest.param(lambda e: pagerank(e.filter("src < 10"),
                                    until_fixpoint=True, tol=1e-3),
                 73, id="pagerank-fixpoint"),
    pytest.param(_ppr, 20, id="ppr"),
    pytest.param(lambda e: label_propagation(e, iters=2), 2,
                 id="lpa-fixed"),
    pytest.param(lambda e: label_propagation(
        e.filter("src < 10"), until_fixpoint=True), 37, id="lpa-fixpoint"),
    pytest.param(lambda e: kcore_peel(e, k=2, iters=4), 25,
                 id="kcore-fixed"),
    pytest.param(lambda e: kcore_peel(e, k=2, until_fixpoint=True), 27,
                 id="kcore-fixpoint"),
    pytest.param(lambda e: hindex_coreness(e, iters=3), 19,
                 id="hindex-fixed"),
    pytest.param(lambda e: hindex_coreness(e, until_fixpoint=True), 34,
                 id="hindex-fixpoint"),
    pytest.param(lambda e: hits(e, iters=2), 31, id="hits"),
    pytest.param(wcc, 39, id="wcc"),
    pytest.param(_pairs_to_groups, 31, id="pairs_to_groups"),
])
def test_distributed_path_job_count(spark, edges, monkeypatch, request,
                                    build, jobs):
    """Jobs fired while building each iterative operator's distributed
    result, with the small paths switched off (so no probe runs): the
    checkpoints, the scalar counts and the convergence probes.  A round
    loop that gains an eager job shows up here.

    The counts were taken at ``spark.sql.shuffle.partitions`` = 4, which
    ``get_spark`` sets from the core count, and they move with it
    (pagerank-fixpoint fires 67 jobs at 32 partitions), so the test
    pins the setting rather than the machine."""
    from hazelcast_jet_spark.operators import dedup

    monkeypatch.setattr(graph_local, "GRAPH_COLLECT_THRESHOLD", 0)
    monkeypatch.setattr(dedup, "_PAIRS_COLLECT_THRESHOLD", 0)
    key = "spark.sql.shuffle.partitions"
    partitions = spark.conf.get(key)
    spark.conf.set(key, "4")
    try:
        out = []
        n = _jobs_fired(spark, lambda: out.append(build(edges)),
                        f"distributed-jobs-{request.node.callspec.id}")
    finally:
        spark.conf.set(key, partitions)
    assert n == jobs
    assert out[0].count() > 0


FRACTIONS = st.one_of(
    st.floats(0.0, 1.0, exclude_min=True, exclude_max=True),
    # rank/deg-style quotients, and values whose shortest repr has more
    # than 18 fractional digits (the quantize step rounds there)
    st.integers(1, 10 ** 7).map(lambda d: 1.0 / d),
    st.builds(lambda m, k: m * 10.0 ** -k,
              st.floats(0.1, 1.0, exclude_max=True), st.integers(1, 20)),
)


@given(xs=st.lists(FRACTIONS, min_size=1, max_size=200))
@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
# HALF_UP ties at the 18th digit (5e-19 rounds up, its predecessor down)
@example(xs=[0.1, 1 / 3, 2 / 3, 0.9999999999999999, 5e-19,
             4.999999999999999e-19, 1.5e-18, 1.2345678901234567e-05])
def test_dec18_matches_spark_cast(spark, xs):
    """graph_local._dec18 is Spark's cast(double AS decimal(28,18)) as a
    scale-18 integer; the pagerank, ppr and hits small paths are
    bit-identical to Spark only while this holds (Double.toString on the
    JVM vs repr in Python)."""
    df = spark.createDataFrame([(i, x) for i, x in enumerate(xs)],
                               "i int, x double")
    got = {r["i"]: r["d"] for r in df.select(
        "i", F.col("x").cast("decimal(28,18)").alias("d")).collect()}
    for i, x in enumerate(xs):
        assert graph_local._dec18(x) == int(got[i].scaleb(18)), x


def test_distributed_rounds_free_their_checkpoints(spark):
    """Each distributed round frees the checkpoint of the round before it
    once its own result is materialized, so the persisted RDDs a
    distributed pagerank or wcc leaves behind do not grow with the number
    of rounds (``rounds_out`` selects the distributed loops)."""
    def persisted():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet()
                   .toArray())

    def left_behind(build):
        before, rounds = persisted(), []
        out = build(rounds)
        assert out.count() > 0    # the result does not read a freed block
        return len(persisted() - before), rounds[0]

    e = spark.createDataFrame([(i, i + 1) for i in range(40)],
                              "src long, dst long")
    short = left_behind(lambda r: pagerank(e, iters=2, rounds_out=r))
    long = left_behind(lambda r: pagerank(e, iters=6, rounds_out=r))
    assert long[1] > short[1] and long[0] == short[0]

    def chain(n):
        return spark.createDataFrame([(i, i + 1) for i in range(n)],
                                     "src long, dst long")

    short = left_behind(lambda r: wcc(chain(4), rounds_out=r))
    long = left_behind(lambda r: wcc(chain(64), rounds_out=r))
    assert long[1] > short[1] and long[0] == short[0]
