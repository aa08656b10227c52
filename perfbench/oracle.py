"""Reference results the benchmark checks every op against.  None of these
use the package: networkx, numpy replays of the same fixed rounds, and a
closed form for the generated stream."""

import numpy as np


def wcc(src, dst):
    """node -> smallest node id of its connected component (networkx)."""
    import networkx as nx

    g = nx.Graph()
    g.add_edges_from(zip(src.tolist(), dst.tolist()))
    out = {}
    for comp in nx.connected_components(g):
        m = min(comp)
        out.update(dict.fromkeys(comp, m))
    return out


def _directed(src, dst):
    """Both directions of the undirected edge list, as node indices."""
    nodes = np.unique(np.concatenate([src, dst]))
    s = np.searchsorted(nodes, np.concatenate([src, dst]))
    d = np.searchsorted(nodes, np.concatenate([dst, src]))
    return nodes, s, d


def pagerank(src, dst, iters: int, damping: float):
    """Fixed-round power iteration from the uniform start, in float64:
    r'(v) = (1-d)/N + d * sum over u->v of r(u)/deg(u)."""
    nodes, s, d = _directed(src, dst)
    n = len(nodes)
    deg = np.bincount(s, minlength=n).astype(np.float64)
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        r = (1.0 - damping) / n + damping * np.bincount(d, weights=(r / deg)[s], minlength=n)
    return nodes, r


def label_propagation(src, dst, iters: int):
    """Synchronous rounds: each node takes its neighbours' most frequent
    label, ties to the smallest label; every node starts as its own label."""
    nodes, s, d = _directed(src, dst)
    lab = nodes.copy()
    for _ in range(iters):
        cand = lab[d]
        order = np.lexsort((cand, s))
        ss, cc = s[order], cand[order]
        new_pair = np.ones(len(ss), dtype=bool)
        new_pair[1:] = (ss[1:] != ss[:-1]) | (cc[1:] != cc[:-1])
        starts = np.flatnonzero(new_pair)
        counts = np.diff(np.append(starts, len(ss)))
        ps, pc = ss[starts], cc[starts]
        # per node: highest count, then smallest label
        best = np.lexsort((pc, -counts, ps))
        first = np.ones(len(best), dtype=bool)
        first[1:] = ps[best][1:] != ps[best][:-1]
        lab = lab.copy()
        lab[ps[best][first]] = pc[best][first]
    return nodes, lab


def window_counts(batch_ids, rows_per_batch: int, keys: int, key_offset: int):
    """Closed form of count(*) and max(value) per key for a sliding window
    that covers the given micro-batches.  Batch b carries the values
    [b*R, (b+1)*R) and key = (value + offset) % keys; R is a multiple of keys,
    so every key occurs R/keys times in every batch."""
    k = np.arange(keys, dtype=np.int64)
    hi = (max(batch_ids) + 1) * rows_per_batch - 1
    # largest v <= hi with (v + offset) % keys == k
    mx = hi - ((hi + key_offset - k) % keys)
    n = np.full(keys, len(batch_ids) * (rows_per_batch // keys), dtype=np.int64)
    return n, mx
