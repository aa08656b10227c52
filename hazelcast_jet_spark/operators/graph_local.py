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

Scale safety: :func:`bounded_arrow` is the one bounded driver collect,
with no ``count()`` and no checkpoint before it: at most T+1 rows (~16 B
per edge) reach the driver.  A bare local parquet scan is read on the
driver with pyarrow and fires no job (:func:`driver_arrow`: the footers
give the exact row count before any row is read, the way Jet's file
source reads a local file inside the processor that consumes it); any
other frame costs ONE job, ``df.limit(T+1).toArrow()``.  Callers
consult :data:`GRAPH_COLLECT_THRESHOLD` (edges; the default 2M edges is
≈32 MB on the driver, comfortably inside default driver memory and
``spark.driver.maxResultSize``) through :func:`collect_int_edges`, and
fall back to the distributed loop above it.  A declined file-backed
graph costs no job before the checkpoint the distributed loop starts
with; a declined derived frame costs the probe job too — the probe takes
the place of the ``count()`` the decision used to need.  A 100 TB
co-occurrence graph never takes this path.

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

import logging
import os
from contextlib import ExitStack
from decimal import ROUND_HALF_UP, Decimal

_log = logging.getLogger(__name__)

GRAPH_COLLECT_THRESHOLD = int(os.environ.get(
    "SPARK_GRAFT_GRAPH_COLLECT_THRESHOLD", "2000000"))

#: :func:`khop_local` builds one int64 row per ordered wedge pair, so its
#: work grows with ``sum(deg**2)`` over the capped middles, not with the
#: edge count the collect bound checks.  It declines above this many
#: wedges per collectable edge (8 M wedges, a few hundred MB of
#: transient arrays, at the default edge bound).
KHOP_WEDGES_PER_EDGE = 4

#: the round-budget error of each iterative operator, shared by its
#: distributed loop and its driver replay (``str.format`` fills them)
PAGERANK_GUARD = ("pagerank did not converge to tol={tol} in {max_rounds} "
                  "rounds (raise max_rounds or loosen tol)")
LPA_GUARD = ("label_propagation did not stabilize in {max_rounds} rounds "
             "(synchronous LPA can oscillate; raise max_rounds or use the "
             "fixed-iters form)")
KCORE_GUARD = ("kcore_peel did not reach fixpoint in {max_rounds} rounds "
               "(monotone peel: raise max_rounds)")
HINDEX_GUARD = ("hindex_coreness did not converge in {max_rounds} rounds "
                "(monotone integer descent: raise max_rounds)")

_E18 = Decimal("1e-18")
_SCALE = 10 ** 18


#: :func:`driver_arrow`'s answer for a frame it cannot read exactly on
#: the driver: the caller runs the Spark probe instead
NOT_LOCAL = object()

#: relation options that only choose the files or merge their schemas;
#: any other option (a rebase mode, a field-id read, ...) may change
#: what the rows contain
_FILE_OPTIONS = frozenset({
    "path", "paths", "mergeschema", "recursivefilelookup",
    "pathglobfilter", "modifiedbefore", "modifiedafter"})


def bounded_arrow(df, max_rows: int):
    """``df`` as an Arrow table, or ``None`` when it has more than
    ``max_rows`` rows (or ``max_rows`` <= 0, which disables the small
    paths).  A bare local parquet scan is read on the driver with no job
    (:func:`driver_arrow`).  Any other frame costs one job:
    ``limit(max_rows + 1)`` bounds what reaches the driver, and one row
    more than the bound is how an oversized input shows without a
    ``count()``."""
    tbl = driver_arrow(df, max_rows)
    if tbl is not NOT_LOCAL:
        return tbl
    tbl = df.limit(max_rows + 1).toArrow()
    return None if tbl.num_rows > max_rows else tbl


def driver_arrow(df, max_rows: int):
    """``df`` read on the driver with pyarrow, as the table
    ``df.toArrow()`` gives (same column names and schema; rows in
    ``inputFiles()`` order, the same multiset), or ``None`` when the
    parquet footers count more than ``max_rows`` rows (no row is read)
    or ``max_rows`` <= 0.  Returns :data:`NOT_LOCAL` unless the read is
    exact: ``df``'s analyzed plan must be a local parquet scan with no
    partition columns, no bucket spec, no metadata column and no option
    beyond :data:`_FILE_OPTIONS`, under at most one ``Project`` of its
    columns or renames of them; the session must not read parquet field
    ids; every column must exist under its exact name in every file
    with the Arrow type ``toArrow()`` gives, and that type must be an
    integer, floating point, boolean, string, binary or decimal one
    (temporal values can be rebased on read).  Anything pyarrow raises
    also gives :data:`NOT_LOCAL`."""
    if max_rows <= 0:
        return None
    try:
        scan = _parquet_scan(df)
        if scan is None:
            return NOT_LOCAL
        return _read_footed(df, *scan, max_rows)
    except Exception:  # noqa: BLE001 - the Spark probe is always exact
        _log.debug("driver read declined; running the Spark probe",
                   exc_info=True)
        return NOT_LOCAL


def _parquet_scan(df):
    """``(local file paths, file column per output column,
    case-sensitive?)`` when ``df`` qualifies for :func:`driver_arrow`
    by its plan and session, else None."""
    from urllib.parse import unquote

    from hazelcast_jet_spark.sources import local_path

    conf = df.sparkSession._jsparkSession.sessionState().conf()
    if conf.parquetFieldIdReadEnabled():
        return None
    top = plan = df._jdf.queryExecution().analyzed()
    if _kind(plan) == "Project":
        plan = plan.child()
    if _kind(plan) != "LogicalRelation" or plan.isStreaming():
        return None
    rel = plan.relation()
    if (_kind(rel) != "HadoopFsRelation"
            or _kind(rel.fileFormat()) != "ParquetFileFormat"
            or rel.partitionSchema().size()
            or rel.bucketSpec().isDefined()
            or not {k.lower() for k in
                    rel.options().keySet().mkString("\n").split("\n")
                    if k} <= _FILE_OPTIONS):
        return None
    out = plan.output()
    if out.size() != rel.schema().size():  # a metadata column
        return None
    names = {}
    for i in range(out.size()):
        a = out.apply(i)
        names[a.exprId().id()] = a.name()
    if top is plan:
        cols = list(names.values())
    else:
        cols = []
        items = top.projectList()
        for i in range(items.size()):
            e = items.apply(i)
            if _kind(e) == "Alias":
                e = e.child()
            if _kind(e) != "AttributeReference":
                return None
            name = names.get(e.exprId().id())
            if name is None:
                return None
            cols.append(name)
    paths = []
    for f in rel.inputFiles():
        p = local_path(f)
        if p is None:
            return None
        paths.append(unquote(p))
    return paths, cols, conf.caseSensitiveAnalysis()


def _kind(node) -> str:
    return node.getClass().getSimpleName()


def _read_footed(df, paths, cols, case_sensitive, max_rows):
    """The read behind :func:`driver_arrow`, once the plan qualifies:
    the footers' row counts first, then the column names and types,
    then the rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    want = to_arrow_schema(
        df.schema, prefers_large_types=(
            df.sparkSession._jconf.arrowUseLargeVarTypes()))
    exact = (pa.types.is_integer, pa.types.is_floating, pa.types.is_boolean,
             pa.types.is_string, pa.types.is_large_string,
             pa.types.is_binary, pa.types.is_large_binary,
             pa.types.is_decimal)
    if not all(any(f(t) for f in exact) for t in want.types):
        return NOT_LOCAL
    with ExitStack() as stack:
        files, n = [], 0
        for p in paths:
            pf = stack.enter_context(pq.ParquetFile(p))
            files.append(pf)
            n += pf.metadata.num_rows
            if n > max_rows:
                return None
        read = list(dict.fromkeys(cols))
        parts = []
        for pf in files:
            have = pf.schema_arrow
            for c, t in zip(cols, want.types):
                # the one file column Spark resolves the name to, read by
                # pyarrow under that exact name ('.' names a nested one)
                same = [h for h in have.names if h == c or (
                    not case_sensitive and h.lower() == c.lower())]
                if same != [c] or "." in c or have.field(c).type != t:
                    return NOT_LOCAL
            # the cast only renames and sets nullability, as in toArrow()
            parts.append(pf.read(columns=read, use_threads=False)
                         .select(cols).rename_columns(want.names)
                         .cast(want))
    return pa.concat_tables(parts) if parts else want.empty_table()


def collect_int_edges(e):
    """Collect a (src, dst) ``bigint`` edge frame into two int64 numpy
    arrays with :func:`bounded_arrow`, or return ``None`` when the small
    path must not run: non-``bigint`` endpoint types (decided from the
    schema, before any job), no edges, more edges than
    :data:`GRAPH_COLLECT_THRESHOLD`, or NULL endpoints.
    ``e`` need not be materialized: a caller checkpoints only after the
    collect declines, and the collect fires at most one job (none for a
    bare local parquet scan)."""
    dt = dict(e.dtypes)
    if dt.get("src") != "bigint" or dt.get("dst") != "bigint":
        return None
    tbl = bounded_arrow(src_dst(e), GRAPH_COLLECT_THRESHOLD)
    if tbl is None or tbl.num_rows == 0:
        return None
    src, dst = tbl.column("src"), tbl.column("dst")
    if src.null_count or dst.null_count:
        return None
    return src.to_numpy(), dst.to_numpy()


def src_dst(e):
    """``e.select("src", "dst")``, or ``e`` itself when those are its
    columns already: each ``select`` is one more analysis on the driver."""
    return e if e.columns == ["src", "dst"] else e.select("src", "dst")


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


def fixpoint(state, step, *, iters: int = 0, until_fixpoint: bool = False,
             max_rounds: int = 64, changed=None, release=None,
             what: str = ""):
    """The one round loop of the iterative graph operators, distributed
    and driver-local alike.  ``step(state)`` runs one round.  The fixed
    form runs ``iters`` rounds; ``until_fixpoint`` runs until
    ``changed(new, old)`` is false, and raises ``RuntimeError(what)``
    rather than start a round past ``max_rounds``.  ``release(old)``
    runs after every round, after ``changed``.  Returns ``(state,
    rounds)``, the confirming no-change round included."""
    rounds = 0
    while until_fixpoint or rounds < iters:
        if until_fixpoint and rounds >= max_rounds:
            raise RuntimeError(what)
        new = step(state)
        rounds += 1
        moved = until_fixpoint and changed(new, state)
        if release is not None:
            release(state)
        state = new
        if until_fixpoint and not moved:
            break
    return state, rounds


def unpersist_checkpoint(df) -> None:
    """Free the blocks of a ``localCheckpoint()`` frame.
    ``DataFrame.unpersist()`` frees nothing there: the blocks belong to
    the checkpointed RDD, the ``LogicalRDD`` that is the frame's analyzed
    plan.  Call it only once every frame read from ``df`` has been
    materialized, since a later read of ``df`` fails on the missing
    blocks.  The RDD goes through ``SparkContext.unpersistRDD``, because
    ``RDD.unpersist`` logs a warning for every locally checkpointed RDD.
    Any other frame is unpersisted as usual."""
    plan = df._jdf.queryExecution().analyzed()
    if plan.getClass().getSimpleName() == "LogicalRDD":
        df.sparkSession.sparkContext._jsc.sc().unpersistRDD(
            plan.rdd().id(), False)
    else:
        df.unpersist(False)


def _any_differs(new, old) -> bool:
    return bool((new != old).any())


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
                   until_fixpoint: bool = False,
                   tol: float = 0.5 * 10.0 ** (-9), max_rounds: int = 64,
                   seeds=None):
    """Driver replay of graph.pagerank / personalized_pagerank's round
    body.  ``seeds``: None for uniform pagerank; else a numpy int64
    array of seed node ids (PPR).  Returns (nodes int64 array,
    ranks float64 array)."""
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

    rank, _ = fixpoint(
        rank, _round, iters=iters, until_fixpoint=until_fixpoint,
        max_rounds=max_rounds,
        changed=lambda new, old: bool((np.abs(new - old) > tol).any()),
        what=PAGERANK_GUARD.format(tol=tol, max_rounds=max_rounds))
    return nodes, rank


def lpa_local(src, dst, iters: int, until_fixpoint: bool = False,
              max_rounds: int = 64):
    """Driver replay of graph.label_propagation: per round each node
    adopts its neighbors' most frequent label, ties to the SMALLEST
    label.  Returns (nodes, labels) — exact integers only."""
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

    lab_idx, _ = fixpoint(
        lab_idx, _round, iters=iters, until_fixpoint=until_fixpoint,
        max_rounds=max_rounds, changed=_any_differs,
        what=LPA_GUARD.format(max_rounds=max_rounds))
    return nodes, nodes[lab_idx]


def kcore_local(src, dst, k: int, iters: int,
                until_fixpoint: bool = False, max_rounds: int = 64):
    """Driver replay of graph.kcore_peel.  Returns (nodes, degrees) for
    the surviving subgraph — exact integers only."""
    import numpy as np

    # index the node space ONCE; each peel round is two bincounts and a
    # mask — no per-round sort
    all_nodes = np.unique(np.concatenate([src, dst]))
    n = len(all_nodes)
    i_s = np.searchsorted(all_nodes, src)
    i_d = np.searchsorted(all_nodes, dst)

    def _peel(cur):
        is_, id_ = cur
        degv = (np.bincount(is_, minlength=n)
                + np.bincount(id_, minlength=n))
        alive = degv >= k
        keep = alive[is_] & alive[id_]
        return is_[keep], id_[keep]

    # edge-count-stable == no node dropped (see graph.kcore_peel)
    (i_s, i_d), _ = fixpoint(
        (i_s, i_d), _peel, iters=iters, until_fixpoint=until_fixpoint,
        max_rounds=max_rounds,
        changed=lambda new, old: len(new[0]) != len(old[0]),
        what=KCORE_GUARD.format(max_rounds=max_rounds))
    deg = (np.bincount(i_s, minlength=n)
           + np.bincount(i_d, minlength=n)).astype(np.int64)
    keepn = deg > 0
    return all_nodes[keepn], deg[keepn]


def hindex_local(src, dst, iters: int, until_fixpoint: bool = False,
                 max_rounds: int = 64):
    """Driver replay of graph.hindex_coreness: every node starts at its
    degree; each round its value becomes the h-index of its neighbors'
    values.  Returns (nodes, coreness) — exact integers."""
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

    vals, _ = fixpoint(
        vals, _round, iters=iters, until_fixpoint=until_fixpoint,
        max_rounds=max_rounds, changed=_any_differs,
        what=HINDEX_GUARD.format(max_rounds=max_rounds))
    return nodes, vals


def khop_local(src, dst, max_degree: int):
    """Driver replay of graph.khop_reach: canonical undirected graph,
    2-hop reach through middles with degree <= ``max_degree``, direct
    neighbors always counted, self excluded.  Returns (nodes, degree,
    reach2) — exact integers (the expansion ratio is computed by the
    caller in Spark, same expression as the distributed path) — or
    ``None`` when the wedge pairs would exceed
    ``KHOP_WEDGES_PER_EDGE * GRAPH_COLLECT_THRESHOLD`` (the caller then
    runs the distributed plan)."""
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
    # all ordered neighbor pairs within each capped middle's list:
    # element i of a size-s group pairs with all s elements
    blocks = c_sizes * c_sizes
    tot = int(blocks.sum())
    if tot > KHOP_WEDGES_PER_EDGE * GRAPH_COLLECT_THRESHOLD:
        return None
    flat = nbr_s[np.repeat(capped, sizes)]  # capped groups, compacted
    c_off = np.cumsum(c_sizes) - c_sizes    # group offsets into flat
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

    def _round(state):
        auths = _half(state[1], take_sd, lay_d)
        return auths, _half(auths, take_ds, lay_s)

    (auths, hubs), _ = fixpoint(
        (None, np.ones(len(s_nodes), dtype=np.float64)), _round,
        iters=iters)
    return s_nodes, hubs, d_nodes, auths
