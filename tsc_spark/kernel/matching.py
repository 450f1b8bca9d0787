"""Query↔series similarity matching over shared clusters.

Re-implements the reference query_db per-series compute (everything after
the InfluxDB fetch): cross-cluster extraction
(/root/reference/src/controllers/time_series_controller.jl:123-199),
containment filter (...:1990-2040) and match score (...:1978-1988).
The distributed (Spark) version feeds one call per (query, doc) pair
through ``match_series_rollback``, which grows the cluster forest only
inside subtrees that can still hold a query window; ``match_series``
grows the full forest and is the oracle the pruned path is checked
against.
"""

from __future__ import annotations

import numpy as np

from ..config import (
    DEFAULT_MERGE_THRESHOLD_RATIO,
    DEFAULT_QUERY_MIN_MATCH_WINDOW,
    DEFAULT_RANGE_MAX,
    DEFAULT_RANGE_MIN,
    SUBSEQUENCE_MIN_WINDOW_SIZE,
)
from .manager import ClusterManager

__all__ = [
    "build_query_seed",
    "match_series",
    "match_series_rollback",
    "filter_contained_matches",
    "match_score",
]


def build_query_seed(query_tokens) -> ClusterManager:
    """Seed manager clustered over the query only (reference ...:123-136),
    with the reference's merge threshold and fixed value range."""
    mgr = ClusterManager(
        [float(int(v)) for v in query_tokens],
        DEFAULT_MERGE_THRESHOLD_RATIO,
        SUBSEQUENCE_MIN_WINDOW_SIZE,
        True,
        scale_mode="range_fixed",
        range_min=DEFAULT_RANGE_MIN,
        range_max=DEFAULT_RANGE_MAX,
    )
    mgr.process_data()
    return mgr


def _match_contains(outer, inner) -> bool:
    """The reference containment predicate (...:1990-2005): ``outer``
    strictly contains ``inner``.  The brute-force twin that
    tests/test_equivalences.py checks ``filter_contained_matches``
    against."""
    oq, od, ow = outer
    iq, id_, iw = inner
    return (
        oq <= iq
        and od <= id_
        and iq + iw <= oq + ow
        and id_ + iw <= od + ow
        and (ow > iw or oq != iq or od != id_)
    )


def filter_contained_matches(matches):
    """Dedup (q_start, db_start, ws) then drop strictly-contained matches;
    sort by (q_start, db_start, -ws).  Reference ...:2005-2040.

    Containment is a pairwise predicate over the deduped *set* (the
    output is fully re-sorted, so dedup order is irrelevant), and it
    needs a strictly larger outer ``ws``: with equal sizes the nested
    intervals force equal starts, i.e. the same match.  So instead of an
    m×m scan the filter sweeps the distinct outer ``(q_start, ws)``
    groups.  One sort by (q_start, ws, db_start) dedups, makes each
    group a run with sorted db starts, and makes q_start searchable: a
    group's candidates are the rows with a smaller ``ws`` whose query
    span nests in ``[q_start, q_start + ws)``, and each candidate's
    ``db_start`` range check is one ``np.searchsorted`` on the group's
    starts.  Integer-exact, same kept set as the pairwise predicate."""
    if not matches:
        return []
    arr = np.asarray(matches, dtype=np.int64)
    arr = arr[np.lexsort((arr[:, 1], arr[:, 2], arr[:, 0]))]
    first = np.ones(len(arr), dtype=bool)
    first[1:] = (arr[1:] != arr[:-1]).any(axis=1)
    arr = arr[first]
    q, d, w = arr[:, 0], arr[:, 1], arr[:, 2]
    q_end, d_end = q + w, d + w
    cuts = np.flatnonzero((q[1:] != q[:-1]) | (w[1:] != w[:-1])) + 1
    bounds = [0, *cuts.tolist(), len(arr)]
    w_min = int(w.min())
    contained = np.zeros(len(arr), dtype=bool)
    for a, b in zip(bounds[:-1], bounds[1:]):
        oq, ow = int(q[a]), int(w[a])
        if ow <= w_min:
            continue
        # inner q_start in [oq, oq + ow); ws < ow and the span ends by oq + ow
        lo, hi = np.searchsorted(q, (oq, oq + ow))
        cand = np.flatnonzero((w[lo:hi] < ow) & (q_end[lo:hi] <= oq + ow)) + lo
        if cand.size == 0:
            continue
        # some outer db_start in [inner d_end - ow, inner db_start]
        starts = d[a:b]
        j = np.searchsorted(starts, d_end[cand] - ow)
        hit = (j < b - a) & (starts[np.minimum(j, b - a - 1)] <= d[cand])
        contained[cand[hit]] = True
    kept = arr[~contained]
    kept = kept[np.lexsort((-kept[:, 2], kept[:, 1], kept[:, 0]))]
    return list(map(tuple, kept.tolist()))


def match_score(matches) -> list[int]:
    """Desc-sorted per-window-size match counts (lexicographic rank key).
    Reference ...:1978-1988."""
    if not matches:
        return []
    counts: dict[int, int] = {}
    for _, _, ws in matches:
        counts[ws] = counts.get(ws, 0) + 1
    return [counts[k] for k in sorted(counts, reverse=True)]


def _extract_cross_matches(mgr: ClusterManager, qlen: int, slen: int):
    """Cross-cluster (q_start, db_start, ws) extraction (reference
    ...:157-201): clusters whose members span both the query prefix and
    the appended DB suffix yield the index cross product.

    Walks the cluster forest directly instead of materializing the
    (sorted) full timeline per doc — the match SET is what downstream
    consumes (filter_contained_matches dedups and fully re-sorts;
    match_score counts), so traversal order is immaterial and the
    timeline build+sort was pure overhead on the per-doc hot path."""
    matches: list[tuple[int, int, int]] = []
    stack = [(mgr.min_window_size, n) for n in mgr.clusters.values()]
    while stack:
        ws, node = stack.pop()
        for child in node.cc.values():
            stack.append((ws + 1, child))
        inds = node.si
        if ws < DEFAULT_QUERY_MIN_MATCH_WINDOW or not inds:
            continue
        has_q = any(i < qlen for i in inds)
        has_db = any(i >= qlen for i in inds)
        if not (has_q and has_db):
            continue
        q_indices = sorted(i for i in inds if i < qlen and i + ws <= qlen)
        db_indices = sorted(i - qlen for i in inds if i >= qlen and (i - qlen) + ws <= slen)
        if q_indices and db_indices:
            for qi in q_indices:
                for dbi in db_indices:
                    matches.append((qi, dbi, ws))
    return matches


def match_series(
    seed: ClusterManager,
    db_tokens,
    copy_seed: bool = True,
):
    """Append a DB series to a copy of the query seed and extract
    cross-cluster matches (reference ...:157-201).

    Returns (matches, score) where matches = [(q_start, db_start, ws)].
    With ``copy_seed=True`` a deep copy is taken; pass False when the
    caller already owns a throwaway copy (e.g. fresh unpickle per doc).

    This path grows the whole forest, as the reference does, and must
    stay unpruned: it is the oracle that ``match_series_rollback``'s
    pruning is checked against (tests/test_equivalences.py, the kernel
    fixtures in oracle_fixtures and the benchmark's output check).
    """
    import copy

    mgr = copy.deepcopy(seed) if copy_seed else seed
    qlen = len(seed.data_view())
    db_values = [float(int(v)) for v in db_tokens]
    for v in db_values:
        mgr.add_data_point(v)

    kept = filter_contained_matches(
        _extract_cross_matches(mgr, qlen, len(db_values))
    )
    return kept, match_score(kept)


def match_series_rollback(
    seed: ClusterManager,
    db_tokens,
):
    """``match_series`` against a REUSABLE seed: the whole DB append runs
    inside one journal transaction (the W3 simulate/rollback machinery,
    reference ...:797-891) and is rolled back afterwards, leaving the
    seed bit-identical — so a batch worker unpickles the broadcast seed
    once and amortises it across every document in the batch instead of
    deserialising per doc.

    Exactness: the rollback journal undoes every mutation add_data_point
    makes (data push, si/rep edits, cluster creates, cache writes), and
    query seeds use ``range_fixed`` scaling so value_width is untouched
    by appends — verified equivalent to the fresh-copy path in
    tests/test_equivalences.py.

    Pruning: after each appended point, every task (node at window size
    ws, extended next step to children at ws + 1) whose node cannot have
    a child holding a query window is dropped, i.e. ``si[0] + ws >=
    qlen``.  This is exact: a child's starts are a subset of its
    parent's (a task's node already holds the start its child gains),
    so no descendant of a dropped node has a start ``s`` with ``s + ws'
    <= qlen`` at any deeper size ws'; and a DB start (``s >= qlen``)
    never fits inside the query, so that subtree can never yield a
    (q_start, db_start, ws) match.  ``si`` is ascending (starts are
    appended in increasing order), so ``si[0]`` is its minimum.  Root
    scans, sibling sets and representatives outside the dropped subtrees
    are untouched; the shared id counter only skips values, so sibling
    tie-breaks still go to the smaller id.  No level deeper than
    ``qlen + 1`` is built, where the unpruned forest grows toward the doc
    length on repetitive docs.  The pruned tasks are restored with the
    rest of the seed by the rollback."""
    qlen = len(seed.data_view())
    db_values = [float(int(v)) for v in db_tokens]
    seed._start_transaction()
    try:
        for v in db_values:
            seed.add_data_point(v)
            # task = (keys, ws, node); keep only nodes a query window can
            # still extend (see Pruning above)
            seed.tasks = [t for t in seed.tasks if t[2].si[0] + t[1] < qlen]
        matches = _extract_cross_matches(seed, qlen, len(db_values))
    finally:
        seed._rollback()
    kept = filter_contained_matches(matches)
    return kept, match_score(kept)
