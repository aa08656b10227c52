"""Graph analytics over co-occurrence graphs — degree/wedge/triangle
structure and fixed-iteration PageRank, Spark-first.

The reference ships no graph operators; these are the standard
large-corpus companions of the dedup suite: the near-dup pair graph's
structure (``dedup.pairs_to_groups`` consumes the same edge shape),
market-basket co-occurrence, and link-analysis weighting of a crawled
corpus (PageRank as a document-quality prior, the classic
Page/Brin/Motwani/Winograd 1999 formulation).

Design notes for 100 TB:

- Edges are canonical undirected ``(src < dst)`` BIGINT pairs — the
  shuffles carry two longs per edge, never payloads.
- :func:`cooccurrence_edges` enumerates pairs INSIDE a task from a
  per-group sorted node list (one exchange), with an explicit
  ``max_group`` cap: a hot group of size g yields g·(g−1)/2 pairs, so
  unbounded groups are the quadratic blowup to refuse, exactly like the
  hot-bucket caps in the LSH probes.
- :func:`triangle_count` is the ordered-edge join (node-iterator):
  every triangle ``a<b<c`` is counted exactly once via
  ``e(a,b) ⋈ e(b,c) ⋈ e(a,c)`` — two equi-joins, no explosion beyond
  the wedge set.
- :func:`pagerank` runs a FIXED iteration count (the deterministic,
  gate-friendly form): ranks are (node, double) rows; each iteration is
  one shuffle join ranks⋈edges on ``src`` plus a ``dst`` aggregate with
  DECIMAL(28,18) contribution accumulation, so the sum is
  order-independent and the result bit-identical across engines and
  partitionings.  Edges are hash-partitioned on ``src`` once and
  persisted; only the (small) rank table moves between iterations.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from hazelcast_jet_spark.operators import graph_local


def cooccurrence_edges(df: DataFrame, group_col: str, node_col: str,
                       max_group: int = 1024) -> DataFrame:
    """Distinct undirected edges ``(src < dst)`` between nodes sharing a
    group (order ⇒ co-purchased parts, document ⇒ co-occurring terms,
    session ⇒ co-visited pages).

    Plan: distinct ``(group, node)`` compacts duplicates map-side; one
    groupBy collects the per-group sorted node list (bounded by
    ``max_group`` — larger groups are DROPPED, the standard
    market-basket guard against quadratic hot groups); pairs explode
    in-task from the sorted list; a final distinct dedups edges seen in
    many groups.
    """
    if max_group < 2:
        raise ValueError("max_group must be >= 2")
    nodes = (
        df.select(F.col(group_col).alias("__g"),
                  F.col(node_col).alias("__n"))
        .filter(F.col("__n").isNotNull())
    )
    # collect_set fuses the per-group distinct into the aggregation
    # buffers — one exchange on the group instead of distinct + regroup
    grouped = (
        nodes.groupBy("__g")
        .agg(F.sort_array(F.collect_set("__n")).alias("__ns"))
        .filter((F.size("__ns") >= 2) & (F.size("__ns") <= max_group))
    )
    # pairs (ns[i], ns[j]) for i<j, generated inside the task; the list
    # is sorted-distinct so `dst > src` keeps exactly the i<j pairs.
    # Two chained explodes + a codegen filter instead of nested
    # transform/slice lambdas: higher-order collection expressions are
    # CodegenFallback (interpreted per element), while Generate+Filter
    # stay in whole-stage codegen — ~25% faster at equal output.
    return (
        grouped.select(F.explode("__ns").alias("src"), "__ns")
        .select("src", F.explode("__ns").alias("dst"))
        .where(F.col("dst") > F.col("src"))
        .distinct()
    )


def degrees(edges: DataFrame) -> DataFrame:
    """Per-node degree of a canonical undirected edge list."""
    ends = edges.select(F.col("src").alias("node")).unionAll(
        edges.select(F.col("dst").alias("node")))
    return ends.groupBy("node").agg(F.count(F.lit(1)).alias("degree"))


#: node-count ceiling under which the per-node rank table is broadcast —
#: ~16 B/node; 2 M nodes is tens of MB, comfortably under executor
#: memory, while billion-node graphs fall back to shuffle joins
BROADCAST_NODES_MAX = 2_000_000

#: edge-count ceiling under which degree/adjacency tables are broadcast
#: in triangle_count — total adjacency payload is ~16 B/edge, so this is
#: the size that actually bounds the broadcast, not the node count
BROADCAST_ADJ_EDGES_MAX = 10_000_000


def triangle_count(edges: DataFrame,
                   broadcast_adjacency: bool | None = None) -> DataFrame:
    """Triangles ``(a < b < c)`` of a canonical undirected edge list,
    each exactly once — degree-ordered orientation + adjacency-list
    intersection (the "forward" / Chiba–Nishizeki edge-iterator):
    every edge is directed from its lower-``(degree, node)`` endpoint
    to the higher one, and for each oriented edge u→v the common
    out-neighbors ``w ∈ out(u) ∩ out(v)`` close a triangle.

    Why not the naive ordered-edge join: its wedge set is
    ``Σ d(d−1)/2`` over RAW degrees — 148 M join rows on the sf0.1
    co-purchase graph (1.2 M edges) and quadratic in hub degree at
    100 TB.  Here wedges are NEVER materialized as rows: the
    intersection runs in-task over two sorted arrays whose length is
    bounded by the post-orientation out-degree O(√m), and the exploded
    output is exactly the triangle set.  Total work is the
    theoretical-minimum O(m^1.5); the only shuffles are the two
    adjacency equi-joins.  Output triples are re-sorted to
    ``a < b < c`` by node id, identical to the naive join's result set.

    ``broadcast_adjacency``: the adjacency table has one row per node
    but Catalyst cannot estimate its size (collect_list), so left to
    itself it shuffle-joins — and the SECOND join then shuffles
    edge rows already carrying their u-side arrays, Σ d² bytes (the
    wedge blowup smuggled back in as row width; measured 7.9 s on the
    sf0.1 co-purchase gate).  True broadcasts the degree AND adjacency
    joins map-side (zero array movement); None (default) auto-decides
    by edge count vs :data:`BROADCAST_ADJ_EDGES_MAX` (~16 B/edge of
    adjacency payload is what the broadcast actually costs); False
    forces shuffle joins for graphs whose adjacency exceeds memory.
    """
    if broadcast_adjacency is None:
        # The auto-decide needs a count; checkpoint FIRST so the count
        # doesn't execute the full upstream lineage of an un-materialized
        # edge frame once for itself and again for the real job (the
        # checkpoint also feeds the degree join and orientation below).
        edges = edges.localCheckpoint(eager=True)
        broadcast_adjacency = edges.count() <= BROADCAST_ADJ_EDGES_MAX
    deg = degrees(edges)
    if broadcast_adjacency:
        deg = deg.localCheckpoint()  # build once, ship to both joins
    d_src = deg.select(F.col("node").alias("src"),
                       F.col("degree").alias("__ds"))
    d_dst = deg.select(F.col("node").alias("dst"),
                       F.col("degree").alias("__dd"))
    if broadcast_adjacency:
        d_src, d_dst = F.broadcast(d_src), F.broadcast(d_dst)
    e = edges.join(d_src, "src").join(d_dst, "dst")
    fwd = (F.col("__ds") < F.col("__dd")) | (
        (F.col("__ds") == F.col("__dd")) & (F.col("src") < F.col("dst")))
    oriented = e.select(
        F.when(fwd, F.col("src")).otherwise(F.col("dst")).alias("u"),
        F.when(fwd, F.col("dst")).otherwise(F.col("src")).alias("v"),
    ).localCheckpoint()  # feeds the edge scan and both adjacency joins
    # per-node sorted out-neighbor lists; post-orientation out-degree is
    # O(√m), so each array is bounded even at hub nodes
    adj = oriented.groupBy("u").agg(
        F.sort_array(F.collect_list("v")).alias("__nbrs"))
    if broadcast_adjacency:
        adj = adj.localCheckpoint()  # build once, ship to both joins
    adj_v = adj.select(F.col("u").alias("v"),
                       F.col("__nbrs").alias("__nbrs_v"))
    if broadcast_adjacency:
        adj, adj_v = F.broadcast(adj), F.broadcast(adj_v)
    # edge-iterator with intersection: for oriented edge u→v the common
    # out-neighbors w close the triangle u<v<w in rank order — each
    # triangle is found exactly once, at its two rank-lowest vertices.
    # Wedges are never materialized as rows: the intersection runs
    # in-task over the two bounded arrays, and the exploded output is
    # exactly the triangle set.
    probe = (
        oriented
        .join(adj, "u")
        .join(adj_v, "v")
        .select("u", "v", F.explode(
            F.array_intersect("__nbrs", "__nbrs_v")).alias("w"))
    )
    tri = F.array_sort(F.array("u", "v", "w"))
    return probe.select(
        tri[0].alias("a"), tri[1].alias("b"), tri[2].alias("c"))


def graph_summary(edges: DataFrame, round_digits: int = 6) -> DataFrame:
    """One-row structural summary: node/edge counts, degree extremes,
    wedge and triangle counts, and the global clustering coefficient
    ``3·triangles / wedges`` (NULL when the graph has no wedges).

    Exact integer counts; the two doubles (avg degree, clustering) are
    fixed-order IEEE quotients of exact integers — engine-portable.

    The edge list feeds five plan branches (degrees, the edge count, and
    all three sides of the triangle join), so it is materialized ONCE via
    localCheckpoint — without it the whole upstream derivation executes
    five times (measured 2.5× wall-clock on the co-purchase gate).
    """
    edges = edges.localCheckpoint()
    deg = degrees(edges)
    dstats = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.max("degree").alias("max_degree"),
        F.sum("degree").alias("__deg_sum"),
        F.sum(F.expr("CAST(degree AS BIGINT) * (degree - 1) DIV 2"))
        .alias("n_wedges"),
    )
    ecount = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    tcount = triangle_count(edges).agg(
        F.count(F.lit(1)).alias("n_triangles"))
    row = dstats.crossJoin(F.broadcast(ecount)).crossJoin(F.broadcast(tcount))
    avg_deg = F.col("__deg_sum").cast("double") / F.col("n_nodes").cast("double")
    clust = F.when(
        F.col("n_wedges") > 0,
        F.lit(3.0) * F.col("n_triangles") / F.col("n_wedges").cast("double"))
    return row.select(
        "n_nodes", "n_edges", "max_degree",
        F.round(avg_deg, round_digits).alias("avg_degree"),
        "n_wedges", "n_triangles",
        F.round(clust, round_digits).alias("clustering_coeff"),
    )


def _replayed(edges: DataFrame, replay, ddl: str) -> DataFrame | None:
    """An iterative operator's bounded small path (guide §1.2 #1; the
    wcc/pairs_to_groups r12 precedent): below the threshold the
    per-round checkpoint and aggregate jobs cost more in
    driver-synchronized scheduling than ONE bounded collect plus an
    exact in-driver replay.  The collect (:func:`graph_local.
    collect_int_edges`) fires no job for a bare local parquet scan and
    one for any other frame; nothing is checkpointed before it.
    ``replay(src, dst)`` reruns the operator's rounds bit-identically
    (operators/graph_local.py) and returns one array per ``ddl`` column,
    or None to decline.  Returns the local table, or None when the
    distributed loop must run."""
    arrs = graph_local.collect_int_edges(edges)
    cols = None if arrs is None else replay(*arrs)
    if cols is None:
        return None
    names = [c.split()[0] for c in ddl.split(",")]
    return edges.sparkSession.createDataFrame(
        pa.table(dict(zip(names, cols))), ddl)


def pagerank(edges: DataFrame, iters: int = 3, damping: float = 0.85,
             round_digits: int = 9,
             broadcast_ranks: bool | None = None,
             until_fixpoint: bool = False, tol: float | None = None,
             max_rounds: int = 64,
             rounds_out: list | None = None) -> DataFrame:
    """PageRank over a canonical undirected edge list, FIXED ``iters``
    power iterations from the uniform start — the deterministic form a
    corpus pipeline uses as a link-quality prior.  ``until_fixpoint=
    True`` makes the documented convergence-stopping contract
    executable: :func:`graph_local.fixpoint` loops the IDENTICAL round
    until no node's rank moves by more than ``tol`` (default: half an
    ulp at the ``round_digits`` reporting grain, 0.5·10^-round_digits),
    checked as a join-on-node + ``count()`` of still-moving rows over
    the two checkpointed rank tables, and raises at ``max_rounds``
    rather than return a non-converged table.  ``rounds_out`` receives
    the executed round count when given a list — tests/
    test_graph_fixpoint.py uses it to pin ``until_fixpoint`` ==
    ``iters=<rounds taken>`` exactly; it also skips the small path.

    r_{t+1}(v) = (1−d)/N + d · Σ_{u→v} r_t(u)/deg(u)

    Undirected edges are expanded to both directions, so every node has
    degree ≥ 1 and the dangling-mass term vanishes by construction.

    Determinism: per-edge contributions ``r/deg`` are IEEE doubles cast
    to DECIMAL(28,18) before the dst-sum (order-independent), and the
    new rank is a fixed-order double expression — bit-identical across
    engines, partition counts, and join orders.  Returns
    ``(node, pagerank)`` with the rank rounded to ``round_digits``.

    Plan: directed edges are materialized once and persisted; the rank
    table (one row per node) is broadcast into each iteration's
    contribution join (``broadcast_ranks=None`` auto-decides by node
    count vs :data:`BROADCAST_NODES_MAX`; a per-iteration sort-merge
    join against the persisted edges is the billion-node fallback), so
    an iteration is one map-side join plus one thin ``dst`` aggregate.
    The node count is a single driver-side scalar (bounded: one long),
    and each rank table is localCheckpoint()ed so lineage stays O(1)
    per iteration.
    """
    if iters < 1:
        raise ValueError("iters must be >= 1")
    if not 0.0 < damping < 1.0:
        raise ValueError("damping must be in (0, 1)")
    if tol is None:
        tol = 0.5 * 10.0 ** (-round_digits)
    ranks = _ranks(edges, None, iters, damping, broadcast_ranks,
                   until_fixpoint, tol, max_rounds, rounds_out)
    return ranks.select(
        "node", F.round("rank", round_digits).alias("pagerank"))


def _ranks(edges: DataFrame, seeds: DataFrame | None, iters: int,
           damping: float, broadcast_ranks: bool | None,
           until_fixpoint: bool = False, tol: float = 0.0,
           max_rounds: int = 64,
           rounds_out: list | None = None) -> DataFrame:
    """The unrounded ``(node, rank)`` table behind :func:`pagerank`
    (``seeds`` None: uniform teleport) and
    :func:`personalized_pagerank` (teleport onto the ``seeds`` nodes):
    one small path, one distributed round body."""

    def _replay(src, dst):
        seed_ids = None
        if seeds is not None:
            # the seed collect is bounded by the same collect as the edges
            if dict(seeds.dtypes).get("node") != "bigint":
                return None
            tbl = graph_local.bounded_arrow(
                seeds.select("node"), graph_local.GRAPH_COLLECT_THRESHOLD)
            if tbl is None or tbl.column("node").null_count:
                return None
            seed_ids = np.unique(tbl.column("node").to_numpy())
        return graph_local.pagerank_local(
            src, dst, iters=iters, damping=damping,
            until_fixpoint=until_fixpoint, tol=tol, max_rounds=max_rounds,
            seeds=seed_ids)

    if rounds_out is None:
        local = _replayed(edges, _replay, "node bigint, rank double")
        if local is not None:
            return local
    edges = edges.localCheckpoint()  # one materialization feeds both directions
    # hash-partitioned by dst: each round's contribution aggregate is
    # keyed on dst, so the persisted partitioning serves every
    # iteration (guide §2.4 — one exchange for the whole loop); the
    # degree init reads the SAME key because the symmetric expansion
    # has deg(v) rows with src=v and deg(v) rows with dst=v
    directed = (
        edges.select("src", "dst")
        .unionAll(edges.select(F.col("dst").alias("src"),
                               F.col("src").alias("dst")))
        .repartition(F.col("dst"))
        .persist()
    )
    nodes = (directed.groupBy("dst").agg(F.count(F.lit(1)).alias("__deg"))
             .select(F.col("dst").alias("node"), "__deg"))
    if seeds is not None:
        nodes = (nodes.join(seeds.select("node").distinct()
                            .withColumn("__seed", F.lit(True)),
                            "node", "left")
                 .select("node", "__deg",
                         F.coalesce("__seed", F.lit(False)).alias("__seed")))
    nodes = nodes.localCheckpoint()
    # the teleport set's size: a single driver-side scalar (one long)
    n = (nodes if seeds is None else nodes.filter(F.col("__seed"))).count()
    if seeds is not None and n == 0:
        raise ValueError("no seed appears in the edge list")
    if broadcast_ranks is None:
        broadcast_ranks = (n if seeds is None
                           else nodes.count()) <= BROADCAST_NODES_MAX
    # Python doubles: IEEE-identical to the same divisions done
    # in-engine (and in the SQL oracle), so ranks stay bit-portable
    start, base = F.lit(1.0 / float(n)), F.lit((1.0 - damping) / float(n))
    if seeds is not None:
        start = F.when(F.col("__seed"), start).otherwise(F.lit(0.0))
        base = F.when(F.col("__seed"), base).otherwise(F.lit(0.0))
    ranks = nodes.select(*nodes.columns, start.alias("rank")).localCheckpoint()

    def _round(cur: DataFrame) -> DataFrame:
        side = cur.select(
            F.col("node").alias("src"),
            (F.col("rank") / F.col("__deg").cast("double")).alias("__c"))
        if broadcast_ranks:
            side = F.broadcast(side)
        contrib = (
            directed.join(side, "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.col("__c").cast("decimal(28,18)"))
                 .cast("double").alias("__in"))
        )
        # NOTE (r12 optimization round): lazily chaining the bounded
        # rounds (skipping this localCheckpoint) was tried and REVERTED —
        # deterministic job/stage/task counts got WORSE (24→28 jobs,
        # 286→415 tasks): the checkpoint is what lets AQE plan each
        # round's nodes⋈contrib join with the runtime size of the
        # previous round (broadcast), while the lazy chain plans the
        # whole tree statically as sort-merge joins.
        return (
            nodes.join(contrib, "node", "left")
            .select(*nodes.columns,
                    (base + F.lit(damping)
                     * F.coalesce(F.col("__in"), F.lit(0.0))).alias("rank"))
            .localCheckpoint()
        )

    def _moving(new: DataFrame, old: DataFrame) -> bool:
        return (new.join(old.select("node", F.col("rank").alias("__pr")),
                         "node")
                .filter(F.abs(F.col("rank") - F.col("__pr")) > F.lit(tol))
                .count() > 0)

    ranks, rounds = graph_local.fixpoint(
        ranks, _round, iters=iters, until_fixpoint=until_fixpoint,
        max_rounds=max_rounds, changed=_moving,
        release=graph_local.unpersist_checkpoint,
        what=graph_local.PAGERANK_GUARD.format(tol=tol,
                                               max_rounds=max_rounds))
    # the ranks are materialized: the edge expansion's blocks can go
    directed.unpersist(False)
    if rounds_out is not None:
        rounds_out.append(rounds)
    return ranks


def personalized_pagerank(edges: DataFrame, seeds: DataFrame,
                          iters: int = 3, damping: float = 0.85,
                          round_digits: int = 9,
                          broadcast_ranks: bool | None = None) -> DataFrame:
    """Personalized PageRank (Page et al. 1999 §6 'personalized' teleport;
    Jeh & Widom 2003): the teleport lands on the SEED set instead of
    uniformly, so rank measures proximity TO the seeds — the
    related-items / seed-expansion primitive ("parts relevant to this
    catalog section", "docs near these known-good examples") that global
    pagerank cannot express.

        r_{{t+1}}(v) = (1−d)·[v ∈ S]/|S| + d · Σ_{{u→v}} r_t(u)/deg(u)

    from the seed-uniform start r_0 = [v ∈ S]/|S|.  The execution body
    IS :func:`pagerank`'s (small path, directed expansion persisted
    once, broadcast-or-SMJ contribution join, DECIMAL(28,18) order-free
    contribution sums, per-iteration localCheckpoint) with the start and
    base terms restricted to the seed rows — bit-portable to an
    unrolled SQL oracle.

    ``seeds`` is a 1-column ``node`` frame; seeds not present in the
    edge list are ignored (they have no outgoing mass and receive no
    teleport — the standard restrict-to-graph convention).  Returns
    ``(node, pagerank)``; rows with rank 0 (unreachable from the seeds)
    are retained so the output is a full node table.
    """
    if iters < 1:
        raise ValueError("iters must be >= 1")
    if not 0.0 < damping < 1.0:
        raise ValueError("damping must be in (0, 1)")
    ranks = _ranks(edges, seeds, iters, damping, broadcast_ranks)
    return ranks.select(
        "node", (F.round("rank", round_digits) + F.lit(0.0))
        .alias("pagerank"))


def association_rules(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_pair_count: int = 5,
    max_basket: int = 1024,
    top_k: int = 20,
    round_digits: int = 6,
) -> DataFrame:
    """Market-basket association rules (Agrawal/Imielinski/Swami 1993):
    for every co-occurring item pair seen in >= min_pair_count baskets,
    both directed rules ``antecedent -> consequent`` with

        support    = n_pair / n_baskets
        confidence = n_pair / n_antecedent
        lift       = n_pair * n_baskets / (n_ante * n_cons)

    ranked by (lift desc, confidence desc, antecedent, consequent),
    top_k rows.  The length-2-itemset core of Apriori — at 100 TB the
    pair tier is where basket mining lives (higher arities explode and
    are mined on the pair survivors).

    Plan at scale: one exchange collects each basket's sorted distinct
    item set (``max_basket`` drops quadratic hot baskets, the
    :func:`cooccurrence_edges` guard — dropped baskets leave BOTH the
    pair counts and the support base, keeping the probabilities
    consistent); pairs explode in-task; one pair-keyed aggregate, one
    item-keyed aggregate off the same kept-basket frame; item supports
    and the scalar basket count join back broadcast.  All ratios are
    fixed-order double quotients of exact counts — the statistic
    replays bit-for-bit on a SQL oracle.

    Returns ``(antecedent, consequent, n_pair, n_ante, n_cons,
    support, confidence, lift)``.
    """
    if max_basket < 2:
        raise ValueError("max_basket must be >= 2")
    bi = (
        df.select(F.col(basket_col).alias("__b"), F.col(item_col).alias("__i"))
        .filter(F.col("__i").isNotNull())
    )
    baskets = (
        bi.groupBy("__b")
        .agg(F.sort_array(F.collect_set("__i")).alias("__items"))
        .filter(F.size("__items") <= max_basket)
        .persist()
    )
    n_baskets = baskets.groupBy().agg(
        F.count(F.lit(1)).alias("__nb"))
    item_counts = (
        baskets.select(F.explode("__items").alias("__i"))
        .groupBy("__i").agg(F.count(F.lit(1)).alias("__ni"))
    )
    # pairs a<b enumerated in-task from the sorted set (no self-join);
    # chained explodes + codegen filter, not interpreted transform
    # lambdas (see cooccurrence_edges)
    pairs = (
        baskets.select(F.explode("__items").alias("__a"), "__items")
        .select("__a", F.explode("__items").alias("__c"))
        .where(F.col("__c") > F.col("__a"))
        .groupBy("__a", "__c")
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .filter(F.col("n_pair") >= min_pair_count)
    )
    # both rule directions from each undirected pair
    directed = pairs.select(
        F.explode(F.array(
            F.struct(F.col("__a").alias("ante"), F.col("__c").alias("cons"),
                     F.col("n_pair")),
            F.struct(F.col("__c").alias("ante"), F.col("__a").alias("cons"),
                     F.col("n_pair")),
        )).alias("__r")
    ).select("__r.ante", "__r.cons", "__r.n_pair")
    ia = item_counts.select(F.col("__i").alias("ante"),
                            F.col("__ni").alias("n_ante"))
    ic = item_counts.select(F.col("__i").alias("cons"),
                            F.col("__ni").alias("n_cons"))
    j = (directed.join(F.broadcast(ia), "ante")
         .join(F.broadcast(ic), "cons")
         .crossJoin(F.broadcast(n_baskets)))
    npair_d = F.col("n_pair").cast("double")
    nb_d = F.col("__nb").cast("double")
    support = F.round(npair_d / nb_d, round_digits)
    confidence = F.round(npair_d / F.col("n_ante").cast("double"),
                         round_digits)
    lift = F.round(npair_d * nb_d
                   / (F.col("n_ante").cast("double")
                      * F.col("n_cons").cast("double")), round_digits)
    ranked = j.select(
        F.col("ante").alias("antecedent"), F.col("cons").alias("consequent"),
        "n_pair", "n_ante", "n_cons",
        support.alias("support"), confidence.alias("confidence"),
        lift.alias("lift"))
    # top-k via TakeOrdered (parallel per-partition partial top-k), not a
    # global row_number window (which funnels EVERY ranked pair through a
    # single-partition sort).  The order key is a total order (antecedent,
    # consequent tie-break), so the selected row set is identical.
    return ranked.orderBy(
        F.col("lift").desc(), F.col("confidence").desc(),
        "antecedent", "consequent").limit(top_k)


def item_similarity_topk(
    df: DataFrame,
    group_col: str,
    node_col: str,
    k: int = 3,
    max_group: int = 64,
    min_co: int = 2,
    round_digits: int = 6,
) -> DataFrame:
    """Item-item Jaccard similarity with top-k neighbors per item —
    basket-level collaborative filtering ("customers who bought X"):
    ``sim(a,b) = co(a,b) / (n_a + n_b - co(a,b))`` where ``co`` counts
    groups containing both items and ``n_x`` counts groups containing
    the item, BOTH computed after the hot-group cap so numerator and
    denominators describe the same basket population.

    Plan: distinct (group, item) once; groups over ``max_group`` items
    are dropped (the market-basket quadratic guard); pairs explode
    in-task from each group's sorted item list and aggregate to co
    counts; per-item group counts broadcast back; ranking runs on the
    pair table only.  ``min_co`` prunes noise neighbors (a single
    shared basket is not evidence).

    Returns ``(item, neighbor, n_co, sim, rank)`` with ``rank <= k``
    per item, ordered by (item, rank).
    """
    if k < 1 or max_group < 2 or min_co < 1:
        raise ValueError("need k >= 1, max_group >= 2, min_co >= 1")
    nodes = (df.select(F.col(group_col).alias("__g"),
                       F.col(node_col).alias("__n"))
             .filter(F.col("__n").isNotNull()).distinct())
    # capped basket table feeds BOTH the per-item counts and the pair
    # enumeration: materialize once (distinct + collect_set otherwise
    # re-execute per consumer)
    grouped = (nodes.groupBy("__g")
               .agg(F.sort_array(F.collect_set("__n")).alias("__ns"))
               .filter((F.size("__ns") >= 2) & (F.size("__ns") <= max_group))
               .localCheckpoint())
    kept = grouped.select("__g", F.explode("__ns").alias("__n"))
    item_n = kept.groupBy("__n").agg(F.count(F.lit(1)).alias("__ng"))
    # chained explodes + codegen filter, not interpreted transform
    # lambdas (see cooccurrence_edges); materialized because the
    # directed union below reads it in both orientations
    co = (grouped.select(F.explode("__ns").alias("__a"), "__ns")
          .select("__a", F.explode("__ns").alias("__b"))
          .where(F.col("__b") > F.col("__a"))
          .groupBy("__a", "__b")
          .agg(F.count(F.lit(1)).alias("n_co"))
          .filter(F.col("n_co") >= min_co)
          .localCheckpoint())
    directed = co.unionByName(
        co.select(F.col("__b").alias("__a"), F.col("__a").alias("__b"),
                  "n_co"))
    sim = (directed
           .join(F.broadcast(item_n.withColumnRenamed("__ng", "__na")),
                 directed["__a"] == item_n["__n"]).drop("__n")
           .join(F.broadcast(item_n.withColumnRenamed("__ng", "__nb")),
                 directed["__b"] == item_n["__n"]).drop("__n")
           .withColumn(
               "sim",
               F.round(F.col("n_co").cast("double")
                       / (F.col("__na") + F.col("__nb") - F.col("n_co"))
                       .cast("double"), round_digits)))
    rw = Window.partitionBy("__a").orderBy(
        F.col("sim").desc(), F.col("__b"))
    return (sim.withColumn("rank", F.row_number().over(rw))
            .filter(F.col("rank") <= k)
            .select(F.col("__a").alias("item"),
                    F.col("__b").alias("neighbor"),
                    "n_co", "sim", "rank")
            .orderBy("item", "rank"))


def kcore_peel(edges: DataFrame, k: int, iters: int = 4,
               until_fixpoint: bool = False, max_rounds: int = 64,
               rounds_out: list | None = None) -> DataFrame:
    """Fixed-round k-core peel (Seidman 1983 coreness, Batagelj &
    Zaveršnik 2003 peeling): each round drops every node whose degree
    in the CURRENT subgraph is below ``k``, together with its edges —
    the dense-backbone extraction behind community seeding, spam-ring
    detection and graph sparsification (a node in the k-core has ≥ k
    neighbors who each have ≥ k surviving neighbors, recursively —
    degree alone cannot fake it).

    After ``iters`` rounds the survivors are a SUPERSET of the true
    k-core, equal as soon as one round removes nothing; peeling is
    monotone, so extra rounds only shrink toward the fixpoint.  The
    FIXED round count is what makes a SQL oracle an exact unrolled
    replay; ``until_fixpoint=True`` runs the IDENTICAL round under
    :func:`graph_local.fixpoint` until the surviving edge count stops
    changing (a cached-scan ``count()`` of each checkpointed round).
    Edge-count-stable ⟺ no node dropped, because any dropped node has
    degree ≥ 1 in the current subgraph (degree-0 nodes don't appear in
    an edge-derived frame) and takes its edges with it.  Peeling is
    monotone, so the ``max_rounds`` raise is a misconfiguration guard.
    ``rounds_out``, if given a list, receives the number of peel
    rounds executed (the no-op confirming round included) — the hook
    the equality pin in tests/test_graph_fixpoint.py uses to prove
    fixed-round == fixpoint on the gated substrate.

    Per-round plan: one degree aggregate (two map-side-combined count
    shuffles over the edge list) and two LEFT SEMI joins of the edge
    list against the survivor set (broadcastable — survivors are
    nodes, orders of magnitude smaller than edges); the edge list is
    localCheckpointed per round (O(1) plan depth).

    Returns ``(node, degree)`` — each survivor with its degree in the
    peeled subgraph (≥ k only at the fixpoint; one round short of it a
    freshly-exposed low-degree node may remain, which is the honest
    superset semantics).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    # small path: the peel is integer-only, so the replay is exact;
    # ``rounds_out`` asks for the distributed contract instead
    if rounds_out is None:
        local = _replayed(edges, lambda src, dst: graph_local.kcore_local(
            src, dst, k=k, iters=iters, until_fixpoint=until_fixpoint,
            max_rounds=max_rounds), "node bigint, degree bigint")
        if local is not None:
            return local
    e = edges.select("src", "dst").localCheckpoint(eager=True)

    def _round(cur: DataFrame) -> DataFrame:
        # materialize the (tiny) survivor set ONCE per round: the two
        # semi joins each build their own broadcast, and a LAZY
        # survivors plan would re-execute the full-edge degree
        # aggregate per broadcast build — checkpointing the node list
        # halves the per-round aggregate work (r12: kcore gate 11.2 →
        # 8.9 s warm, rounds 2-4 ~2× faster)
        survivors = (degrees(cur).filter(F.col("degree") >= k)
                     .select("node").localCheckpoint(eager=True))
        new = (cur.join(survivors.withColumnRenamed("node", "src"),
                        "src", "left_semi")
               .join(survivors.withColumnRenamed("node", "dst"),
                     "dst", "left_semi")
               .localCheckpoint(eager=True))
        graph_local.unpersist_checkpoint(survivors)
        return new

    # surviving edge counts, one cached-scan scalar per fixpoint round
    sizes = [e.count()] if until_fixpoint else []

    def _shrank(new: DataFrame, old: DataFrame) -> bool:
        sizes.append(new.count())
        return sizes[-1] != sizes[-2]

    e, rounds = graph_local.fixpoint(
        e, _round, iters=iters, until_fixpoint=until_fixpoint,
        max_rounds=max_rounds, changed=_shrank,
        release=graph_local.unpersist_checkpoint,
        what=graph_local.KCORE_GUARD.format(max_rounds=max_rounds))
    if rounds_out is not None:
        rounds_out.append(rounds)
    return degrees(e)


def hindex_coreness(edges: DataFrame, iters: int = 3,
                    until_fixpoint: bool = False, max_rounds: int = 64,
                    rounds_out: list | None = None) -> DataFrame:
    """Per-node coreness via the h-index iteration (Lü, Zhou, Zhang &
    Stanley 2016): start every node at its degree and repeatedly replace
    each node's value with the H-INDEX of its neighbors' values (the
    largest h such that ≥ h neighbors hold value ≥ h); the sequence is
    monotone non-increasing and converges to the node's exact coreness
    (Seidman 1983) — the PER-NODE decomposition :func:`kcore_peel` only
    answers for one fixed k.

    The FIXED ``iters`` makes a SQL oracle an exact unrolled replay
    (the :func:`pagerank` convention); after convergence the values ARE
    coreness, before it they are a monotone upper bound (documented
    honest semantics — on small-diameter graphs 2–3 rounds reach the
    fixpoint).  ``until_fixpoint=True`` runs the IDENTICAL round under
    :func:`graph_local.fixpoint` until no node's value changes (one
    join-on-node + ``count()`` of changed rows per round); the h-index
    sequence is monotone non-increasing and integer-bounded, so
    ``max_rounds`` raising is a misconfiguration guard, and the
    converged values are EXACT Seidman coreness (Lü et al. 2016,
    Theorem 1).

    Per-round plan: one equi-join of the directed edge list against the
    (node, value) table, one per-node descending window (in-partition
    sort after the join's key exchange — no global barrier) computing
    ``max(least(row_number, value))`` ≡ the h-index (tie order cannot
    change an h-index; the dst tie-break is engine-determinism only),
    one keyed aggregate; values localCheckpoint per round (O(1)
    lineage).  Returns ``(node, coreness)``.
    """
    if iters < 1:
        raise ValueError("iters must be >= 1")
    # small path: the h-index rounds are integer-only, so the replay is
    # exact; ``rounds_out`` asks for the distributed contract instead
    if rounds_out is None:
        local = _replayed(edges, lambda src, dst: graph_local.hindex_local(
            src, dst, iters=iters, until_fixpoint=until_fixpoint,
            max_rounds=max_rounds), "node bigint, coreness bigint")
        if local is not None:
            return local
    # hash-partitioned by src before the checkpoint: the per-round
    # window (partitionBy src), the h-index aggregate (groupBy src) and
    # the degree init all reuse it — one exchange for the whole loop
    # (guide §2.4; the label_propagation discipline)
    both = (edges.select("src", "dst").unionAll(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .repartition(F.col("src")).localCheckpoint())
    vals = (both.groupBy(F.col("src").alias("node"))
            .agg(F.count(F.lit(1)).alias("val")).localCheckpoint())

    def _round(cur: DataFrame) -> DataFrame:
        nb = (both.join(cur.withColumnRenamed("node", "dst")
                        .withColumnRenamed("val", "__nv"), "dst")
              .select("src", "__nv", "dst"))
        w = Window.partitionBy("src").orderBy(F.desc("__nv"), "dst")
        return (nb.withColumn("__rn", F.row_number().over(w))
                .groupBy(F.col("src").alias("node"))
                .agg(F.max(F.least(F.col("__rn").cast("bigint"),
                                   F.col("__nv"))).alias("val"))
                .localCheckpoint())

    vals, rounds = graph_local.fixpoint(
        vals, _round, iters=iters, until_fixpoint=until_fixpoint,
        max_rounds=max_rounds,
        release=graph_local.unpersist_checkpoint,
        changed=lambda new, old: (
            new.alias("n").join(old.alias("o"), "node")
            .filter(F.expr("n.val <> o.val")).count() > 0),
        what=graph_local.HINDEX_GUARD.format(max_rounds=max_rounds))
    # the values are materialized; release the edge expansion
    graph_local.unpersist_checkpoint(both)
    if rounds_out is not None:
        rounds_out.append(rounds)
    return vals.select("node", F.col("val").alias("coreness"))


def label_propagation(edges: DataFrame, iters: int = 2,
                      until_fixpoint: bool = False, max_rounds: int = 64,
                      rounds_out: list | None = None) -> DataFrame:
    """Synchronous label propagation communities (Raghavan, Albert &
    Kumara 2007) with deterministic tie-breaks: every node starts as its
    own label; each round it adopts the most frequent label among its
    neighbors, ties resolved to the SMALLEST label — so the result is a
    pure function of the graph, replayable by an unrolled SQL oracle
    (async/random LPA is not).

    Plan per round: one equi-join of the directed edge list against the
    (node, label) table + two aggregates ((node, label) counts, then a
    per-node ``max_by(label, (count, -label))`` argmax) — all keyed on
    the node, so one partitioning serves the whole loop.  ``iters`` is
    fixed and small (community structure stabilizes in a few rounds;
    this is the bounded-iteration convention of graph.pagerank).

    ``until_fixpoint=True`` runs the IDENTICAL round under
    :func:`graph_local.fixpoint` until no node changes label (a
    per-round join-on-node + ``count()`` of changed rows over two
    localCheckpointed one-row-per-node tables).  Synchronous LPA can
    2-cycle on bipartite-ish structure, so non-termination raises at
    ``max_rounds`` instead of returning a non-fixpoint; deterministic
    min-label tie-breaks make oscillation rare in practice (and absent
    on the gated substrate — see tests/test_graph_fixpoint.py, which
    pins fixpoint == the equivalent fixed-round result).  ``rounds_out``
    receives the executed round count (the no-change confirming round
    included) when given a list.

    Returns ``(node, label)`` after ``iters`` rounds (or the fixpoint).
    """
    # small path: the count+argmax rounds are integer-only, so the
    # replay is exact; ``rounds_out`` asks for the distributed contract
    if rounds_out is None:
        local = _replayed(edges, lambda src, dst: graph_local.lpa_local(
            src, dst, iters=iters, until_fixpoint=until_fixpoint,
            max_rounds=max_rounds), "node bigint, label bigint")
        if local is not None:
            return local
    # materialize the directed expansion ONCE: it feeds the label init
    # plus one join per round, and without the checkpoint each of those
    # subtrees re-executes the full upstream edge derivation (the
    # co-occurrence gate's before-plan: 12 lineitem scans, 36 Exchanges
    # for 2 rounds) — the same shared-subtree discipline as pagerank /
    # hindex_coreness.  Hash-partitioned by src BEFORE the checkpoint
    # (guide §2.4 "two operations keyed the same way share one
    # exchange"): every per-round consumer is keyed on src — the
    # (node=src, label) count, the per-node argmax, and the label init's
    # distinct — so the checkpointed partitioning serves the whole loop
    # and each round's aggregates reduce fully map-side (measured 2.8×
    # on the co-purchase gate vs the unpartitioned checkpoint; a
    # round-robin repartition at the same width shows no such win, so
    # it is the KEY, not the parallelism).
    both = edges.select("src", "dst").unionAll(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).repartition(F.col("src")).localCheckpoint()
    labels = (both.select(F.col("src").alias("node")).distinct()
              .withColumn("label", F.col("node")))

    def _round(cur: DataFrame) -> DataFrame:
        nbr = (both.join(cur.withColumnRenamed("node", "dst"), "dst")
               .groupBy(F.col("src").alias("node"), "label")
               .agg(F.count(F.lit(1)).alias("__c")))
        # argmax by (count desc, label asc) via min_by over
        # struct(-count, label): negating the COUNT (always numeric)
        # keeps the smallest-label tie-break correct for ANY orderable
        # label type — negating the label itself silently cast string
        # node ids to NULL and broke determinism (ADVICE r8)
        new = (nbr.groupBy("node")
               .agg(F.min_by("label",
                             F.struct((-F.col("__c")).alias("__nc"),
                                      F.col("label")))
                    .alias("label")))
        # fixed rounds stay a LAZY chain; fixpoint rounds are
        # materialized so the change probe reads them
        return new.localCheckpoint(eager=True) if until_fixpoint else new

    if until_fixpoint:
        labels = labels.localCheckpoint(eager=True)
    labels, rounds = graph_local.fixpoint(
        labels, _round, iters=iters, until_fixpoint=until_fixpoint,
        max_rounds=max_rounds,
        release=(graph_local.unpersist_checkpoint if until_fixpoint
                 else None),
        changed=lambda new, old: (
            new.alias("n").join(old.alias("o"), "node")
            .filter(F.expr("n.label <> o.label")).count() > 0),
        what=graph_local.LPA_GUARD.format(max_rounds=max_rounds))
    if until_fixpoint:
        # fixpoint labels are materialized, so the edge expansion's
        # checkpoint blocks can be released here; the fixed-iters form
        # returns a LAZY plan over `both` and must keep them
        graph_local.unpersist_checkpoint(both)
    if rounds_out is not None:
        rounds_out.append(rounds)
    return labels


def _components(edges: DataFrame, tbl) -> DataFrame:
    """wcc's small-path result: the union-find labeling of the (src,
    dst) Arrow table ``tbl``, handed back as an Arrow table so the sink
    reads it in the JVM."""
    nodes, comps = graph_local.min_root_components(tbl)
    return edges.sparkSession.createDataFrame(
        pa.table({"node": pa.array(nodes, pa.int64()),
                  "component": pa.array(comps, pa.int64())}),
        "node long, component long")


def wcc(edges: DataFrame, max_rounds: int = 50,
        rounds_out: list | None = None) -> DataFrame:
    """Weakly-connected components by large-star/small-star alternation
    (Kiveris, Lattanzi, Mirrokni, Rastogi & Vassilvitskii 2014,
    "Connected Components in MapReduce and Beyond", Alg. 3) — the
    at-scale replacement for :func:`~..operators.dedup.pairs_to_groups`'
    min-label propagation on HIGH-DIAMETER graphs: star contraction
    converges in O(log n) rounds regardless of component diameter,
    where a label-propagation round only moves information one hop.

    Per round, two keyed passes over the edge list (nothing else ever
    shuffles):

    * **large-star**: per node u, every strictly-larger neighbor
      re-attaches to ``min(Γ(u) ∪ {u})`` — one groupBy(min) + one
      equi-join back.
    * **small-star**: edges oriented (max, min); per node u, u and its
      smaller neighbors all attach to the smallest — same two-op shape.

    Both emit (child, parent) with child > parent, so edge count never
    grows beyond the input and the component minimum is a fixpoint
    magnet.  Termination = the small-star output equals its input as a
    set (two distinct-``EXCEPT`` probes per round, each over the
    star-shrunk edge list); star graphs rooted at component minima are
    the unique fixpoint (Kiveris et al., Lemma 3).  Each round
    ``localCheckpoint``\\ s (O(1) lineage); :func:`graph_local.fixpoint`
    runs the rounds and raises at ``max_rounds``.

    Returns ``(node, component)`` — component = min node id reachable,
    bit-identical to ``pairs_to_groups``' converged labeling (both are
    the reachable-minimum; see tests/test_graph_fixpoint.py's
    cross-operator pin).  ``rounds_out`` receives the executed
    large+small round count (the confirming round included).
    """
    from hazelcast_jet_spark.operators.dedup import _PAIRS_COLLECT_THRESHOLD

    # Size-adaptive small path (the pairs_to_groups discipline, r12
    # optimization round): below the threshold the star-contraction loop
    # costs more in driver-synchronized jobs (2 keyed passes + probe per
    # round) than one bounded Arrow collect + union-find, which returns
    # the IDENTICAL reachable-minimum labeling.  The collect reads the
    # edge rows as they come (union-find needs neither orientation nor
    # dedup), and the threshold bounds those rows.  When ``edges`` is a
    # bare local parquet scan of bigint endpoints, its raw rows are read
    # on the driver with no job and the NULL and self-loop rows dropped
    # there (``src != dst`` is NULL or false for exactly the rows the
    # ``e0`` filter below drops); otherwise, and when the raw rows
    # exceed the threshold, ``e0`` is probed in ONE job with no shuffle.
    # Skipped when the caller asks for ``rounds_out`` — that is a request
    # for the distributed contraction contract (tests pin its round
    # counts).
    if rounds_out is None:
        dt = dict(edges.dtypes)
        if dt.get("src") == "bigint" and dt.get("dst") == "bigint":
            tbl = graph_local.driver_arrow(graph_local.src_dst(edges),
                                           _PAIRS_COLLECT_THRESHOLD)
            if isinstance(tbl, pa.Table):
                return _components(edges, tbl.filter(
                    pc.not_equal(tbl["src"], tbl["dst"])))
    e0 = (edges.select(F.col("src").cast("long").alias("src"),
                       F.col("dst").cast("long").alias("dst"))
          .filter(F.col("src") != F.col("dst")))
    if rounds_out is None:
        tbl = graph_local.bounded_arrow(e0, _PAIRS_COLLECT_THRESHOLD)
        if tbl is not None:
            return _components(edges, tbl)
    # canonical child>parent orientation; dedup before iterating
    e = (e0.select(F.greatest("src", "dst").alias("src"),
                   F.least("src", "dst").alias("dst"))
         .dropDuplicates(["src", "dst"]).localCheckpoint())
    # node set off the CHECKPOINTED canonical edges (canonicalization
    # preserves the node set), so the upstream edge derivation is not
    # re-executed a second time for the node table
    nodes = (e.select(F.col("src").alias("node"))
             .unionAll(e.select(F.col("dst").alias("node")))
             .distinct().localCheckpoint())

    def _large_star(cur: DataFrame) -> DataFrame:
        both = cur.unionAll(cur.select(F.col("dst").alias("src"),
                                       F.col("src").alias("dst")))
        m = (both.groupBy("src")
             .agg(F.least(F.min("dst"), F.first("src")).alias("__m")))
        return (both.join(m, "src")
                .filter(F.col("dst") > F.col("src"))
                .select(F.col("dst").alias("src"),
                        F.col("__m").alias("dst"))
                .filter(F.col("src") != F.col("dst"))
                .dropDuplicates(["src", "dst"]))

    def _small_star(cur: DataFrame) -> DataFrame:
        # cur is already (max, min)-oriented: every dst < src
        m = cur.groupBy("src").agg(F.min("dst").alias("__m"))
        j = cur.join(m, "src")
        re_children = (j.filter(F.col("dst") != F.col("__m"))
                       .select(F.col("dst").alias("src"),
                               F.col("__m").alias("dst")))
        re_self = m.select("src", F.col("__m").alias("dst"))
        return (re_children.unionAll(re_self)
                .filter(F.col("src") != F.col("dst"))
                .dropDuplicates(["src", "dst"]))

    sizes = [e.count()]  # the one edge count: a cached-scan scalar

    def _changed(new: DataFrame, old: DataFrame) -> bool:
        # both sides are DEDUPED sets, so |new| == |old| plus ONE empty
        # set-difference proves equality — the count is a cached-RDD
        # scalar, so most rounds skip the exceptAll probe entirely and
        # the confirming round pays one anti-join instead of two
        sizes.append(new.count())
        return (sizes[-1] != sizes[-2]
                or new.exceptAll(old).limit(1).count() > 0)

    e, rounds = graph_local.fixpoint(
        e, lambda cur: _small_star(_large_star(cur)).localCheckpoint(),
        until_fixpoint=True, max_rounds=max_rounds, changed=_changed,
        release=graph_local.unpersist_checkpoint,
        what=f"wcc did not reach the star fixpoint in {max_rounds} "
             "rounds (O(log n) expected: raise max_rounds)")
    out = (nodes.join(e.select(F.col("src").alias("node"),
                               F.col("dst").alias("__c")), "node", "left")
           .select("node", F.coalesce("__c", "node").alias("component")))
    if rounds_out is not None:
        rounds_out.append(rounds)
    return out


def khop_reach(edges: DataFrame, max_degree: int = 256,
               round_digits: int = 6) -> DataFrame:
    """Two-hop reach per node: degree (1-hop reach) and the number of
    DISTINCT nodes reachable in ≤ 2 hops — the local influence/blast-
    radius metric behind "how far does this product's co-purchase
    neighborhood extend" and expansion-quality checks on near-dup
    graphs (a high reach2/degree ratio marks bridge nodes; ≈ degree²
    marks tree-like sprawl, ≪ degree² marks dense clustering).

    Semantics: the graph is undirected (canonicalized like
    :func:`jaccard_link_prediction` — duplicates/orientation-free);
    2-hop paths are counted only through MIDDLE nodes with degree ≤
    ``max_degree`` (the wedge-center hub guard — a celebrity middle
    makes everyone 2-hop-adjacent, which is quadratic and a useless
    signal), direct neighbors always count; self is excluded.

    Plan at scale: both wedge legs are the directed edge list joined on
    the capped middle (shuffle-hinted — the static estimator would
    broadcast an |edges|-sized side, the link-prediction lesson), then
    ONE distinct over (node, reached) unioned with the 1-hop rows —
    the distinct is the real cost and is exactly the candidate set any
    2-hop algorithm must materialize; degrees reuse the same edge
    partitioning.

    Returns ``(node, degree, reach2, expansion)`` where ``expansion``
    = reach2 / degree (rounded) — ordered by (reach2 desc, node),
    callers limit as needed.
    """
    canon = (edges.select(F.least("src", "dst").alias("src"),
                          F.greatest("src", "dst").alias("dst"))
             .filter(F.col("src") != F.col("dst"))
             .distinct())
    expansion = (F.round(F.col("reach2").cast("double")
                         / F.col("degree").cast("double"),
                         round_digits) + F.lit(0.0)).alias("expansion")
    # small path: integer-only wedge counting, exact by construction;
    # the probe runs the canonicalizing distinct, so the collected pairs
    # are exactly the ``canon`` set the distributed plan iterates.  The
    # replay declines (None) when its wedge work is over its bound.
    local = _replayed(canon, lambda src, dst: graph_local.khop_local(
        src, dst, max_degree=max_degree),
        "node bigint, degree bigint, reach2 bigint")
    if local is not None:
        return (local.select("node", "degree", "reach2", expansion)
                .orderBy(F.desc("reach2"), "node"))
    both = canon.unionAll(
        canon.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    # feeds degrees + both wedge legs; hash(src) so the degree aggregate
    # reuses the stored partitioning and the wedge self-join's two legs
    # (keyed on the middle = src) sort in place instead of re-exchanging
    # the edge list twice (guide §2.4)
    both = both.repartition(F.col("src")).localCheckpoint()
    deg = both.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("degree"))
    ctr = both.join(
        deg.filter(F.col("degree") <= max_degree)
        .select(F.col("node").alias("src")), "src")
    a = ctr.select(F.col("src").alias("__m"), F.col("dst").alias("node"))
    b = ctr.select(F.col("src").alias("__m"), F.col("dst").alias("reached"))
    two = (a.join(b.hint("shuffle_merge"), "__m")
           .filter(F.col("node") != F.col("reached"))
           .select("node", "reached"))
    one = both.select(F.col("src").alias("node"),
                      F.col("dst").alias("reached"))
    reach = (two.unionAll(one).distinct()
             .groupBy("node").agg(F.count(F.lit(1)).alias("reach2")))
    return (deg.join(reach, "node")
            .select("node", "degree", "reach2", expansion)
            .orderBy(F.desc("reach2"), "node"))


def jaccard_link_prediction(edges: DataFrame, top_k: int = 20,
                            max_degree: int = 256,
                            round_digits: int = 6,
                            materialize: bool = True) -> DataFrame:
    """Jaccard-coefficient link prediction (Liben-Nowell & Kleinberg
    2003): for non-adjacent pairs sharing neighbors, score
    ``|N(a) ∩ N(b)| / |N(a) ∪ N(b)|`` — the "customers who bought these
    also bought together" candidate edge list.

    Plan: wedge enumeration (two directed copies joined on the shared
    neighbor, ``a < b`` canonical) counts common neighbors; existing
    edges drop via one left_anti; degrees join back for the union size.
    Hub nodes above ``max_degree`` are excluded from wedge CENTERS (the
    degree² guard — a celebrity node makes every fan pair a candidate,
    which is both quadratic and a useless signal), the market-basket
    hot-group convention.

    Input contract: an UNDIRECTED edge list in ANY representation —
    arbitrary orientation, duplicates, and bidirectional rows are all
    accepted because the first step canonicalizes to distinct
    ``least/greatest`` pairs (self-loops drop).  Before r9 the existing-
    edge anti-join compared raw ``(src, dst)`` rows, so an edge stored
    as ``(b, a)`` with ``b > a`` survived as a "predicted" link and
    duplicate rows inflated degrees (ADVICE r8).

    Returns the ``top_k`` rows ``(src, dst, n_common, jaccard)`` by
    (jaccard desc, src, dst) — deterministic, materialized eagerly
    (bounded: ``top_k`` rows) so the persisted wedge-center table can be
    unpersisted before returning.  ``materialize=False`` returns the
    LAZY plan instead (no persist, no checkpoint — the center table
    recomputes once per wedge leg): for plan inspection or composition
    into a larger lazily-executed pipeline.
    """
    canon = (edges.select(F.least("src", "dst").alias("src"),
                          F.greatest("src", "dst").alias("dst"))
             .filter(F.col("src") != F.col("dst"))
             .distinct())
    if materialize:
        # canon feeds both union directions, the degree table and the
        # existing-edge anti-join: one materialization stops the
        # upstream edge enumeration re-executing per subtree (lazy
        # contract of materialize=False preserved)
        canon = canon.localCheckpoint()
    both = canon.unionAll(
        canon.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    deg = both.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("degree"))
    # hub filter: AQE sizes the eligible-node side at runtime (broadcast
    # when small); persisted because BOTH wedge legs read it
    centers = both.join(deg.filter(F.col("degree") <= max_degree)
                        .select(F.col("node").alias("src")), "src")
    if materialize:
        centers = centers.persist()
    a = centers.select(F.col("src").alias("__w"), F.col("dst").alias("a"))
    b = centers.select(F.col("src").alias("__w"), F.col("dst").alias("b"))
    # the wedge self-join is |edges|-sized on BOTH sides — force the
    # shuffle path (the static estimator under-sizes the aggregated leg
    # and tries to broadcast the whole directed edge list: OOMs a
    # default-memory driver at sf0.1 already, let alone 100 TB)
    common = (a.join(b.hint("shuffle_merge"), "__w")
              .filter(F.col("a") < F.col("b"))
              .groupBy("a", "b").agg(F.count(F.lit(1)).alias("n_common")))
    # anti-join against the CANONICAL edge set: wedge pairs are (a < b)
    # canonical, so the comparison set must be too
    cand = common.join(
        canon.select(F.col("src").alias("a"), F.col("dst").alias("b")),
        ["a", "b"], "left_anti")
    da = deg.select(F.col("node").alias("a"), F.col("degree").alias("__da"))
    db = deg.select(F.col("node").alias("b"), F.col("degree").alias("__db"))
    scored = (cand.join(da, "a").join(db, "b")
              .select(F.col("a").alias("src"), F.col("b").alias("dst"),
                      "n_common",
                      (F.round(F.col("n_common").cast("double")
                               / (F.col("__da") + F.col("__db")
                                  - F.col("n_common")).cast("double"),
                               round_digits) + F.lit(0.0)).alias("jaccard")))
    out = scored.orderBy(F.desc("jaccard"), "src", "dst").limit(top_k)
    if not materialize:
        return out
    # materialize the bounded result (top_k rows) so the persisted
    # centers table can be released instead of leaking executor storage
    # across repeated invocations in a long session (ADVICE r8)
    out = out.localCheckpoint()
    centers.unpersist()
    return out


def resource_allocation_links(edges: DataFrame, top_k: int = 20,
                              max_degree: int = 256,
                              round_digits: int = 6) -> DataFrame:
    """Resource-allocation link prediction (Zhou, Lü & Zhang 2009): for
    non-adjacent pairs, score ``Σ_{z ∈ N(a)∩N(b)} 1/deg(z)`` — each
    common neighbor contributes the fraction of its "resource" it would
    route to either endpoint.  RA consistently beats the Jaccard and
    Adamic–Adar indices on co-occurrence graphs (op. cit. Table 1), and
    unlike Adamic–Adar's ``1/log deg(z)`` it involves NO transcendental:
    every contribution is an exact rational, so DECIMAL(28,18)
    accumulation makes the score order-free and engine-replayable (the
    pagerank contribution convention — no float sum-order divergence).

    Same wedge plan as :func:`jaccard_link_prediction` (two directed
    copies joined on the shared neighbor, hub centers above
    ``max_degree`` excluded, existing canonical edges anti-joined) with
    one difference: the center's degree rides the wedge rows so the
    score is a single keyed decimal SUM — no degree join-back needed
    for the score itself.

    Returns ``top_k`` rows ``(src, dst, n_common, ra_score)`` by
    (ra_score desc, src, dst), materialized (bounded) via
    localCheckpoint so repeated calls don't grow one lineage.
    """
    # canon feeds both union directions, the degree table and the
    # existing-edge anti-join: checkpoint so the upstream edge
    # enumeration runs once, not once per subtree (degree_assortativity
    # comment — same shape)
    canon = (edges.select(F.least("src", "dst").alias("src"),
                          F.greatest("src", "dst").alias("dst"))
             .filter(F.col("src") != F.col("dst"))
             .distinct().localCheckpoint())
    both = canon.unionAll(
        canon.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    deg = both.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("degree"))
    centers = (both.join(deg.filter(F.col("degree") <= max_degree)
                         .select(F.col("node").alias("src"), "degree"),
                         "src")
               .persist())
    a = centers.select(F.col("src").alias("__w"), "degree",
                       F.col("dst").alias("a"))
    b = centers.select(F.col("src").alias("__w"), F.col("dst").alias("b"))
    # |edges|-sized on both sides: force the shuffle path (the jaccard
    # lane's broadcast-OOM guard)
    common = (a.join(b.hint("shuffle_merge"), "__w")
              .filter(F.col("a") < F.col("b"))
              .groupBy("a", "b")
              .agg(F.count(F.lit(1)).alias("n_common"),
                   F.sum((F.lit(1.0) / F.col("degree").cast("double"))
                         .cast("decimal(28,18)")).alias("__ra")))
    cand = common.join(
        canon.select(F.col("src").alias("a"), F.col("dst").alias("b")),
        ["a", "b"], "left_anti")
    scored = cand.select(
        F.col("a").alias("src"), F.col("b").alias("dst"), "n_common",
        (F.round(F.col("__ra").cast("double"), round_digits)
         + F.lit(0.0)).alias("ra_score"))
    out = (scored.orderBy(F.desc("ra_score"), "src", "dst").limit(top_k)
           .localCheckpoint())
    centers.unpersist()
    return out


def degree_assortativity(edges: DataFrame,
                         round_digits: int = 6) -> DataFrame:
    """Degree assortativity coefficient (Newman 2002): the Pearson
    correlation of endpoint degrees over the symmetric directed edge
    list — positive = hubs attach to hubs (social shape), negative =
    hubs attach to leaves (technological/co-purchase shape).  The ONE
    scalar that says which skew-handling strategy a graph workload
    needs before you run it.

    Plan: degree table (one keyed count), both edge directions join
    their endpoint degrees, then a single moment aggregate — sums in
    DECIMAL(38,6) so the correlation is engine-exact (the corr-matrix
    convention); the final covariance/variance arithmetic is a fixed
    chain of double ops.  Returns one row
    ``(n_edges, n_nodes, assortativity)``.
    """
    # materialize the canonical edge table ONCE: it feeds four subtrees
    # (both directions of the union, the degree table, and the moment
    # join) and without the checkpoint the upstream edge derivation —
    # for the gated graph an explode-heavy co-occurrence enumeration —
    # re-executes per subtree (34 Exchanges in the r12-before plan)
    canon = (edges.select(F.least("src", "dst").alias("src"),
                          F.greatest("src", "dst").alias("dst"))
             .filter(F.col("src") != F.col("dst"))
             .distinct().localCheckpoint())
    both = canon.unionAll(
        canon.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    deg = both.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("degree"))
    dx = deg.select(F.col("node").alias("src"),
                    F.col("degree").alias("__dx"))
    dy = deg.select(F.col("node").alias("dst"),
                    F.col("degree").alias("__dy"))
    pairs = both.join(dx, "src").join(dy, "dst")
    m = pairs.agg(
        F.count(F.lit(1)).alias("__m"),
        F.sum(F.col("__dx").cast("decimal(38,6)")).alias("__sx"),
        F.sum(F.col("__dy").cast("decimal(38,6)")).alias("__sy"),
        F.sum((F.col("__dx") * F.col("__dy")).cast("decimal(38,6)"))
        .alias("__sxy"),
        F.sum((F.col("__dx") * F.col("__dx")).cast("decimal(38,6)"))
        .alias("__sxx"),
        F.sum((F.col("__dy") * F.col("__dy")).cast("decimal(38,6)"))
        .alias("__syy"))
    nn = canon.select("src").unionAll(canon.select("dst")).distinct().count()
    mm = F.col("__m").cast("double")
    sx = F.col("__sx").cast("double")
    sy = F.col("__sy").cast("double")
    cov = F.col("__sxy").cast("double") - sx * sy / mm
    vx = F.col("__sxx").cast("double") - sx * sx / mm
    vy = F.col("__syy").cast("double") - sy * sy / mm
    return m.select(
        (F.col("__m") / F.lit(2)).cast("long").alias("n_edges"),
        F.lit(nn).cast("long").alias("n_nodes"),
        (F.round(cov / F.sqrt(vx * vy), round_digits)
         + F.lit(0.0)).alias("assortativity"))


def hits(edges: DataFrame, iters: int = 2,
         round_digits: int | None = 9) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999) over a DIRECTED edge
    list ``(src → dst)`` — src-side nodes earn HUB scores, dst-side
    nodes AUTHORITY scores; on a bipartite graph (customers → parts)
    the two sides stay disjoint and the iteration is the classic
    co-ranking of buyers and products.

    Per iteration (mutual reinforcement, from ``h₀ = 1``):

    * ``a(v) = Σ_{u→v} h(u)``, then ``a ← a / max(a)``
    * ``h(u) = Σ_{u→v} a(v)``, then ``h ← h / max(h)``

    Normalization is **L∞ (divide by the maximum)** rather than the
    textbook L2: the max of a column of doubles is EXACT (no rounding,
    no square root of an order-dependent sum), so every score is a
    fixed chain of IEEE ops both engines replay bit-identically —
    the same eigenvector direction, a different (deterministic) scale,
    with the top hub/authority pinned at exactly 1.0.

    Plan shape: the edge list localCheckpoints once; each half-step is
    ONE keyed equi-join plus one thin aggregate with
    DECIMAL(28,18)-accumulated contribution sums (order-free); the
    normalizing max is a global-window max.  Score tables are one row
    per node and localCheckpoint each round (O(1) lineage); the rounds
    run under :func:`graph_local.fixpoint` with ``(auths, hubs)`` as
    the state.

    Returns ``(side, node, score)`` — side ∈ {'hub', 'auth'}.
    """
    if iters < 1:
        raise ValueError("iters must be >= 1")
    # TWO checkpointed copies of the deduped edge list, one per
    # half-step key (guide §2.4): the auth half joins scores on src
    # (broadcast) and aggregates on dst, the hub half the reverse — a
    # copy hash-partitioned on its aggregate key makes every half-step
    # exchange-free (the contribution sum reduces fully map-side).
    # e_src derives from the MATERIALIZED e_dst so the upstream edge
    # derivation and dedup run once.
    deduped = (edges.select(F.col("src").cast("long").alias("src"),
                            F.col("dst").cast("long").alias("dst"))
               .dropDuplicates(["src", "dst"]))
    # bounded small path (the pagerank discipline): exact in-driver
    # replay of the half-steps below the edge threshold — same
    # DECIMAL(28,18) sums, same IEEE max/divide; rounding stays in Spark.
    # The probe collects the DEDUPED edges; their order is irrelevant
    # (exact integer sums, exact max)
    # round_digits=None emits the raw doubles: every score is already a
    # fixed chain of IEEE ops, and L∞ ratios CAN land on exact binary
    # rationals (2^-k) where decimal rounding hits the engines'
    # halfway-rule divergence — exactness prefers no rounding at all
    score = (F.col("score") if round_digits is None
             else F.round("score", round_digits))
    score = (score + F.lit(0.0)).alias("score")
    arrs = graph_local.collect_int_edges(deduped)
    if arrs is not None:
        s_nodes, hub_s, d_nodes, auth_s = graph_local.hits_local(
            *arrs, iters=iters)
        pdf = pd.DataFrame({
            "side": ["hub"] * len(s_nodes) + ["auth"] * len(d_nodes),
            "node": list(s_nodes) + list(d_nodes),
            "score": list(hub_s) + list(auth_s)})
        out = edges.sparkSession.createDataFrame(
            pdf, "side string, node bigint, score double")
        return out.select("side", "node", score)
    e_dst = deduped.repartition(F.col("dst")).localCheckpoint()
    e_src = e_dst.repartition(F.col("src")).localCheckpoint()
    hubs = (e_src.select(F.col("src").alias("node")).distinct()
            .select("node", F.lit(1.0).alias("score")).localCheckpoint())

    def _half(scores: DataFrame, key: str, out: str) -> DataFrame:
        """One half-step: pull scores across edges onto `out`-side
        nodes, decimal-sum, L∞-normalize."""
        e = e_src if out == "src" else e_dst
        raw = (e.join(scores.select(F.col("node").alias(key), "score"),
                      key)
               .groupBy(F.col(out).alias("node"))
               .agg(F.sum(F.col("score").cast("decimal(28,18)"))
                    .cast("double").alias("__raw")))
        # L∞ normalizer as a global-window max over the per-node
        # aggregate (one row per node, bounded): the join+aggregate runs
        # once and the half-step is ONE job — the prior
        # checkpoint(raw) + max-agg job + crossJoin(broadcast) chain
        # cost three.  Same exact max, same per-row IEEE division.
        mx = F.max("__raw").over(Window.partitionBy())
        return (raw.select("node", (F.col("__raw") / mx).alias("score"))
                .localCheckpoint())

    def _round(state: tuple) -> tuple:
        auths = _half(state[1], "src", "dst")
        return auths, _half(auths, "dst", "src")

    def _release(state: tuple) -> None:
        for p in state:
            if p is not None:
                graph_local.unpersist_checkpoint(p)

    (auths, hubs), _ = graph_local.fixpoint(
        (None, hubs), _round, iters=iters, release=_release)
    out = (hubs.select(F.lit("hub").alias("side"), "node", "score")
           .unionAll(auths.select(F.lit("auth").alias("side"),
                                  "node", "score")))
    return out.select("side", "node", score)
