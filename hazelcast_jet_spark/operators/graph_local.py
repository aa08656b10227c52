"""Bounded driver-local executors for the iterative graph operators.

Size-adaptive small path (optimization guide §1.2 #1 / §3 "pick the
strategy deliberately", the r12 connected-components precedent,
dedup.pairs_to_groups / graph.wcc): below a bounded edge count the
distributed fixed-round loops cost far more in driver-synchronized jobs
(one localCheckpoint job + one aggregate join per round, each a full
scheduler round-trip) than ONE bounded collect plus an exact in-driver
replay.  Every function here reproduces its distributed twin's result
BIT-IDENTICALLY — same integer counts, same IEEE double ops in the same
order, same DECIMAL(28,18) contribution quantization — so the declared
gate results (and their DuckDB oracles) are unchanged; the equality is
pinned by tests/test_graph_small_path.py and the cross-path fixpoint
pins in tests/test_graph_fixpoint.py.

Scale safety: :func:`bounded_arrow` is the one bounded driver collect.
It runs ONE job, ``df.limit(T+1).toArrow()``, with no ``count()`` and no
checkpoint before it: at most T+1 rows (~16 B per edge) reach the driver.
Callers consult :data:`GRAPH_COLLECT_THRESHOLD` (edges; the default 2M
edges is ≈32 MB on the driver, comfortably inside default driver memory
and ``spark.driver.maxResultSize``) through :func:`collect_int_edges`,
and fall back to the distributed loop above it.  A declined probe costs
that one job plus the checkpoint the distributed loop starts with — the
probe takes the place of the ``count()`` the decision used to need.  A
100 TB co-occurrence graph never takes this path.

Exactness notes (what "bit-identical" rests on):

* ``cast(double AS decimal(28,18))`` in Spark goes through
  ``BigDecimal.valueOf(d)`` = ``new BigDecimal(Double.toString(d))``
  then ``setScale(18, HALF_UP)``.  Python's ``repr(float)`` produces the
  same shortest round-trip decimal string, so
  ``Decimal(repr(d)).quantize(1e-18, ROUND_HALF_UP)`` replays it.
* ``SUM(decimal(28,18))`` is exact integer arithmetic at scale 18 —
  replayed as exact (hi/lo-split int64 segment sums, recombined into
  Python ints).
* ``cast(decimal AS double)`` (``BigDecimal.doubleValue``) is the
  correctly-rounded quotient unscaled/10^18 — replayed as CPython's
  correctly-rounded ``int / int`` true division.
* All remaining per-node arithmetic (``rank/deg``, ``base + d*in``,
  ``raw/max``) is plain IEEE binary64 in the identical operation order,
  which numpy/CPython and the JVM share.
* Final decimal roundings (``F.round``) are NOT replayed in Python —
  callers apply them in Spark on the returned (tiny) local table, so
  the one JVM-vs-CPython divergence risk class is off the table.
"""

from __future__ import annotations

import os
from decimal import ROUND_HALF_UP, Decimal

GRAPH_COLLECT_THRESHOLD = int(os.environ.get(
    "SPARK_GRAFT_GRAPH_COLLECT_THRESHOLD", "2000000"))

_E18 = Decimal("1e-18")
_SCALE = 10 ** 18


def bounded_arrow(df, max_rows: int):
    """``df`` as an Arrow table, or ``None`` when it has more than
    ``max_rows`` rows (or ``max_rows`` <= 0, which disables the small
    paths).  One job: ``limit(max_rows + 1)`` bounds what reaches the
    driver, and one row more than the bound is how an oversized input
    shows without a ``count()``."""
    if max_rows <= 0:
        return None
    tbl = df.limit(max_rows + 1).toArrow()
    return None if tbl.num_rows > max_rows else tbl


def collect_int_edges(e):
    """Collect a (src, dst) ``bigint`` edge frame into two int64 numpy
    arrays with :func:`bounded_arrow`, or return ``None`` when the small
    path must not run: non-``bigint`` endpoint types (decided from the
    schema, before any job), no edges, more edges than
    :data:`GRAPH_COLLECT_THRESHOLD`, or NULL endpoints.
    ``e`` need not be materialized: the probe is the only job, and a
    caller checkpoints only after it declines."""
    dt = dict(e.dtypes)
    if dt.get("src") != "bigint" or dt.get("dst") != "bigint":
        return None
    tbl = bounded_arrow(e.select("src", "dst"), GRAPH_COLLECT_THRESHOLD)
    if tbl is None or tbl.num_rows == 0:
        return None
    src, dst = tbl.column("src"), tbl.column("dst")
    if src.null_count or dst.null_count:
        return None
    return src.to_numpy(), dst.to_numpy()


def _pylist(col) -> list:
    """An Arrow column as a Python list: integral ids through numpy (one
    C pass), any other id type through ``to_pylist``."""
    import pyarrow as pa

    if pa.types.is_integer(col.type):
        return col.to_numpy().tolist()
    return col.to_pylist()


def min_root_components(tbl):
    """Union-find over the (src, dst) rows of the Arrow table ``tbl``
    with the smaller root winning every union, so each root IS its
    component's minimum — the reachable-minimum labeling of ``graph.wcc``
    and ``dedup.pairs_to_groups``.  Ids may be of any orderable type.
    Returns (nodes, roots) as lists, nodes in first-seen order."""
    parent: dict = {}

    def _find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for x, y in zip(_pylist(tbl.column("src")),
                    _pylist(tbl.column("dst"))):
        parent.setdefault(x, x)
        parent.setdefault(y, y)
        rx, ry = _find(x), _find(y)
        if rx != ry:
            if ry < rx:
                rx, ry = ry, rx
            parent[ry] = rx
    nodes = list(parent)
    return nodes, [_find(n) for n in nodes]


def _dec18(x) -> int:
    """Spark's ``cast(double AS decimal(28,18))`` as a scale-18 integer.
    ``float(x)`` first: CPython's ``repr(float)`` is the shortest
    round-trip decimal — the same digits ``Double.toString`` feeds
    ``BigDecimal.valueOf`` on the JVM side."""
    return int(Decimal(repr(float(x))).quantize(_E18, rounding=ROUND_HALF_UP)
               .scaleb(18))


class _SegLayout:
    """Precomputed grouped layout for repeated exact per-segment sums:
    a stable permutation ordering rows by segment plus the segment start
    offsets.  Built once per graph; reused by every round (the sort is
    the expensive part, the per-round reduceat is linear)."""

    def __init__(self, seg_idx, n_segments):
        import numpy as np

        self.perm = np.argsort(seg_idx, kind="stable")
        seg_sorted = seg_idx[self.perm]
        self.starts = np.flatnonzero(
            np.concatenate([[True], seg_sorted[1:] != seg_sorted[:-1]]))
        self.seg_ids = seg_sorted[self.starts]
        self.n_segments = n_segments

    def exact_sums(self, row_vals):
        """Exact per-segment sums of non-negative scale-18 int64 values
        (hi/lo split keeps int64 arithmetic overflow-free; recombined
        into Python ints — the SUM(decimal) replay).  Segments with no
        rows sum to 0."""
        if len(self.perm) == 0:
            return [0] * self.n_segments
        return self.exact_sums_pre(row_vals[self.perm])

    def exact_sums_pre(self, vals):
        """exact_sums over values ALREADY in segment-sorted row order
        (callers that pre-gather with a fused index skip one pass)."""
        import numpy as np

        if len(vals) == 0:
            return [0] * self.n_segments
        hi = np.add.reduceat(vals >> np.int64(32), self.starts)
        lo = np.add.reduceat(vals & np.int64(0xFFFFFFFF), self.starts)
        out = [0] * self.n_segments
        for s, h, lo_ in zip(self.seg_ids, hi, lo):
            out[s] = (int(h) << 32) + int(lo_)
        return out


def _decimal_sum_to_double(totals):
    """``cast(SUM(decimal(28,18)) AS double)`` per segment: correctly
    rounded unscaled/10^18 — CPython int/int division is exactly that."""
    import numpy as np

    return np.array([t / _SCALE for t in totals], dtype=np.float64)


def pagerank_local(src, dst, iters: int, damping: float,
                   until_fixpoint: bool = False, tol: float | None = None,
                   max_rounds: int = 64, seeds=None):
    """Driver replay of graph.pagerank / personalized_pagerank's round
    body.  ``seeds``: None for uniform pagerank; else a numpy int64
    array of seed node ids (PPR).  Returns (nodes int64 array,
    ranks float64 array, rounds executed)."""
    import numpy as np

    s_all = np.concatenate([src, dst])
    d_all = np.concatenate([dst, src])
    nodes = np.unique(np.concatenate([np.unique(src), np.unique(dst)]))
    n = len(nodes)
    inv_d = np.searchsorted(nodes, d_all)
    deg = np.bincount(inv_d, minlength=n).astype(np.int64)
    inv_s = np.searchsorted(nodes, s_all)
    deg_f = deg.astype(np.float64)

    if seeds is None:
        n_base = n
        is_seed = None
    else:
        is_seed = np.isin(nodes, seeds)
        n_base = int(is_seed.sum())
        if n_base == 0:
            raise ValueError("no seed appears in the edge list")
    r0 = 1.0 / float(n_base)
    base_term = (1.0 - damping) / float(n_base)
    if is_seed is None:
        rank = np.full(n, r0, dtype=np.float64)
        base = np.full(n, base_term, dtype=np.float64)
    else:
        rank = np.where(is_seed, r0, 0.0)
        base = np.where(is_seed, base_term, 0.0)

    layout = _SegLayout(inv_d, n)
    take = inv_s[layout.perm]  # pre-gathered: one fancy index per round

    def _round(cur):
        c = cur / deg_f                       # rank / cast(deg as double)
        q = np.fromiter((_dec18(x) for x in c), dtype=np.int64, count=n)
        totals = layout.exact_sums_pre(q[take])
        contrib = _decimal_sum_to_double(totals)
        return base + damping * contrib       # lit(base) + lit(d) * __in

    rounds = 0
    if until_fixpoint:
        if tol is None:
            tol = 0.5 * 10.0 ** (-9)
        while True:
            if rounds >= max_rounds:
                raise RuntimeError(
                    f"pagerank did not converge to tol={tol} in "
                    f"{max_rounds} rounds (raise max_rounds or loosen "
                    "tol)")
            new = _round(rank)
            rounds += 1
            moving = int((np.abs(new - rank) > tol).sum())
            rank = new
            if moving == 0:
                break
    else:
        for _ in range(iters):
            rank = _round(rank)
            rounds += 1
    return nodes, rank, rounds


def lpa_local(src, dst, iters: int, until_fixpoint: bool = False,
              max_rounds: int = 64):
    """Driver replay of graph.label_propagation: per round each node
    adopts its neighbors' most frequent label, ties to the SMALLEST
    label.  Returns (nodes, labels, rounds) — exact integers only."""
    import numpy as np

    s_all = np.concatenate([src, dst])
    d_all = np.concatenate([dst, src])
    nodes, inv_s = np.unique(s_all, return_inverse=True)
    n = len(nodes)
    inv_d = np.searchsorted(nodes, d_all)
    lab_idx = np.arange(n, dtype=np.int64)   # label == own node id

    def _round(cur):
        # count per (node=src, label of dst); argmax (count desc, label
        # asc) — label INDEX order == label VALUE order (nodes sorted).
        # One global sort of the composite key, then linear passes: the
        # sorted uniques group by node with labels ASCENDING, so the
        # winner is the FIRST label in its node segment hitting the
        # segment's max count.
        comp = np.sort(inv_s * np.int64(n) + cur[inv_d])
        uniq_at = np.flatnonzero(
            np.concatenate([[True], comp[1:] != comp[:-1]]))
        counts = np.diff(np.concatenate([uniq_at, [len(comp)]]))
        uniq = comp[uniq_at]
        node_i = uniq // n
        label_i = uniq % n
        node_at = np.flatnonzero(
            np.concatenate([[True], node_i[1:] != node_i[:-1]]))
        seg_len = np.diff(np.concatenate([node_at, [len(node_i)]]))
        max_c = np.maximum.reduceat(counts, node_at)
        cand = np.flatnonzero(counts == np.repeat(max_c, seg_len))
        cn = node_i[cand]
        first = np.ones(len(cand), dtype=bool)
        first[1:] = cn[1:] != cn[:-1]
        out = np.empty(n, dtype=np.int64)
        out[cn[first]] = label_i[cand[first]]
        return out

    rounds = 0
    if until_fixpoint:
        while True:
            if rounds >= max_rounds:
                raise RuntimeError(
                    f"label_propagation did not stabilize in {max_rounds} "
                    "rounds (synchronous LPA can oscillate; raise "
                    "max_rounds or use the fixed-iters form)")
            new = _round(lab_idx)
            rounds += 1
            changed = int((new != lab_idx).sum())
            lab_idx = new
            if changed == 0:
                break
    else:
        for _ in range(iters):
            lab_idx = _round(lab_idx)
            rounds += 1
    return nodes, nodes[lab_idx], rounds


def kcore_local(src, dst, k: int, iters: int,
                until_fixpoint: bool = False, max_rounds: int = 64):
    """Driver replay of graph.kcore_peel.  Returns (nodes, degrees,
    rounds) for the surviving subgraph — exact integers only."""
    import numpy as np

    # index the node space ONCE; each peel round is two bincounts and a
    # mask — no per-round sort
    all_nodes = np.unique(np.concatenate([src, dst]))
    n = len(all_nodes)
    i_s = np.searchsorted(all_nodes, src)
    i_d = np.searchsorted(all_nodes, dst)
    rounds = 0

    def _peel(is_, id_):
        degv = (np.bincount(is_, minlength=n)
                + np.bincount(id_, minlength=n))
        alive = degv >= k
        keep = alive[is_] & alive[id_]
        return is_[keep], id_[keep]

    if until_fixpoint:
        prev = len(i_s)
        while True:
            if rounds >= max_rounds:
                raise RuntimeError(
                    f"kcore_peel did not reach fixpoint in {max_rounds} "
                    "rounds (monotone peel: raise max_rounds)")
            i_s, i_d = _peel(i_s, i_d)
            rounds += 1
            cur = len(i_s)
            if cur == prev:
                break
            prev = cur
    else:
        for _ in range(iters):
            i_s, i_d = _peel(i_s, i_d)
            rounds += 1
    deg = (np.bincount(i_s, minlength=n)
           + np.bincount(i_d, minlength=n)).astype(np.int64)
    keepn = deg > 0
    return all_nodes[keepn], deg[keepn], rounds


def hindex_local(src, dst, iters: int, until_fixpoint: bool = False,
                 max_rounds: int = 64):
    """Driver replay of graph.hindex_coreness: every node starts at its
    degree; each round its value becomes the h-index of its neighbors'
    values.  Returns (nodes, coreness, rounds) — exact integers."""
    import numpy as np

    s_all = np.concatenate([src, dst])
    d_all = np.concatenate([dst, src])
    nodes, inv_s = np.unique(s_all, return_inverse=True)
    n = len(nodes)
    inv_d = np.searchsorted(nodes, d_all)
    vals = np.bincount(inv_s, minlength=n).astype(np.int64)
    # per-src segment layout, computed once: rows sorted by src
    perm = np.argsort(inv_s, kind="stable")
    seg_src = inv_s[perm]
    seg_dst_idx = inv_d[perm]
    starts = np.flatnonzero(
        np.concatenate([[True], seg_src[1:] != seg_src[:-1]]))
    seg_nodes = seg_src[starts]

    def _round(cur):
        nv = cur[seg_dst_idx]
        # h-index per segment: sort each segment's values desc, then
        # max(min(row_number, value)) — tie order cannot change it
        order = np.lexsort((-nv, seg_src))
        nv_sorted = nv[order]
        rn = np.arange(len(nv_sorted), dtype=np.int64)
        rn -= np.repeat(starts, np.diff(
            np.concatenate([starts, [len(nv_sorted)]])))
        h_terms = np.minimum(rn + 1, nv_sorted)
        h = np.maximum.reduceat(h_terms, starts)
        out = np.zeros(n, dtype=np.int64)
        out[seg_nodes] = h
        return out

    rounds = 0
    if until_fixpoint:
        while True:
            if rounds >= max_rounds:
                raise RuntimeError(
                    f"hindex_coreness did not converge in {max_rounds} "
                    "rounds (monotone integer descent: raise max_rounds)")
            new = _round(vals)
            rounds += 1
            changed = int((new != vals).sum())
            vals = new
            if changed == 0:
                break
    else:
        for _ in range(iters):
            vals = _round(vals)
            rounds += 1
    return nodes, vals, rounds


def khop_local(src, dst, max_degree: int):
    """Driver replay of graph.khop_reach: canonical undirected graph,
    2-hop reach through middles with degree <= ``max_degree``, direct
    neighbors always counted, self excluded.  Returns (nodes, degree,
    reach2) — exact integers (the expansion ratio is computed by the
    caller in Spark, same expression as the distributed path)."""
    import numpy as np

    lo = np.minimum(src, dst)
    hi = np.maximum(src, dst)
    keep = lo != hi
    lo, hi = lo[keep], hi[keep]
    nodes = np.unique(np.concatenate([lo, hi]))
    n = len(nodes)
    il = np.searchsorted(nodes, lo)
    ih = np.searchsorted(nodes, hi)
    # distinct canonical pairs
    canon = np.unique(il.astype(np.int64) * n + ih)
    cl, ch = canon // n, canon % n
    # symmetric expansion: middle -> neighbor
    mid = np.concatenate([cl, ch])
    nbr = np.concatenate([ch, cl])
    deg = np.bincount(mid, minlength=n).astype(np.int64)
    # group neighbors by middle, capped middles only
    order = np.argsort(mid, kind="stable")
    mid_s, nbr_s = mid[order], nbr[order]
    starts = np.flatnonzero(
        np.concatenate([[True], mid_s[1:] != mid_s[:-1]]))
    sizes = np.diff(np.concatenate([starts, [len(mid_s)]]))
    capped = deg[mid_s[starts]] <= max_degree
    c_sizes = sizes[capped]
    flat = nbr_s[np.repeat(capped, sizes)]  # capped groups, compacted
    c_off = np.cumsum(c_sizes) - c_sizes    # group offsets into flat
    # all ordered neighbor pairs within each capped middle's list:
    # element i of a size-s group pairs with all s elements
    blocks = c_sizes * c_sizes
    tot = int(blocks.sum())
    left = np.repeat(flat, np.repeat(c_sizes, c_sizes))
    grp = np.repeat(np.arange(len(c_sizes)), blocks)
    block_off = np.cumsum(blocks) - blocks
    pos = np.arange(tot, dtype=np.int64) - block_off[grp]
    right = flat[c_off[grp] + pos % c_sizes[grp]]
    sel = left != right
    two = left[sel].astype(np.int64) * n + right[sel]
    one = mid.astype(np.int64) * n + nbr
    reached = np.unique(np.concatenate([two, one]))
    reach2 = np.bincount(reached // n, minlength=n).astype(np.int64)
    return nodes, deg, reach2


def hits_local(src, dst, iters: int):
    """Driver replay of graph.hits over an already-DEDUPED directed edge
    list: per half-step pull scores across edges, DECIMAL(28,18)-sum,
    L∞-normalize.  Returns (hub_nodes, hub_scores, auth_nodes,
    auth_scores) with UNROUNDED doubles (caller rounds in Spark)."""
    import numpy as np

    s_nodes, s_inv = np.unique(src, return_inverse=True)
    d_nodes, d_inv = np.unique(dst, return_inverse=True)
    hubs = np.ones(len(s_nodes), dtype=np.float64)
    auths = None
    lay_d = _SegLayout(d_inv, len(d_nodes))
    lay_s = _SegLayout(s_inv, len(s_nodes))
    take_sd = s_inv[lay_d.perm]  # hub scores gathered into dst order
    take_ds = d_inv[lay_s.perm]  # auth scores gathered into src order

    def _half(scores, take, layout):
        q = np.fromiter((_dec18(x) for x in scores), dtype=np.int64,
                        count=len(scores))
        totals = layout.exact_sums_pre(q[take])
        raw = _decimal_sum_to_double(totals)
        return raw / raw.max()

    for _ in range(iters):
        auths = _half(hubs, take_sd, lay_d)
        hubs = _half(auths, take_ds, lay_s)
    return s_nodes, hubs, d_nodes, auths
