"""Block-max pruned top-k scorer (WAND family) — vectorized.

Runs in the scatter of search_index(scorer="bmw") (a driver-site
search always runs TAAT), over the TAAT closure's decoded arrays.
Round 1 shipped a classic per-pivot WAND loop; its per-doc Python
interpreter cost made it SLOWER than unpruned numpy TAAT (VERDICT r1).
This is the vectorized redesign: term weights are bounded per
fixed-width doc CELL, pruning decisions are made per cell, and exact
scoring is restricted to surviving cells — every per-posting operation
is a numpy slice, no per-document Python.

Per shard (shard-local doc space [0, shard_size)):

1. Cell grid: width W (≥ 16 docs, ≤ 8192 cells per shard).
   Query-INDEPENDENT per-term structures, built once per shard call
   and reused by every query in the batch:
   - off_t   = searchsorted(ids_t, cell boundaries) — O(cells·log df)
   - cmax_t  = per-cell max of the term's decoded weights wtf, one
     ``np.maximum.reduceat`` over the non-empty cells' offsets.
2. Per query: cell_ub = Σ_t max(w_t, 0)·cmax_t. A NEGATIVE term weight
   (ln-IDF goes negative for df > N/2) upper-bounds at 0 — the doc may
   simply not contain the term — so negative-IDF queries are handled
   natively (they just contribute no pruning power); no TAAT fallback
   branch anymore.
3. Progressive scoring in descending cell_ub order: score a batch of
   cells EXACTLY (restricted TAAT — per term, the off_t slices of the
   batch's cells, fancy-index adds), pool the docs, set θ = k-th best
   pooled TRUE score, continue while the next cell's bound ≥ θ
   (inclusive, so score==θ ties are still evaluated and the global
   (score desc, doc asc) tie-break stays exact), stop at the first
   cell with cell_ub < θ once k docs are pooled.

Exactness: every doc in an unpruned cell is scored over ALL query
terms (negative weights included); a pruned cell's docs have
score ≤ cell_ub < θ ≤ final k-th score — strictly below, so ties at
the boundary cannot be lost. Pinned by tests against the TAAT scorer
and the python oracle (test_wand).

Nothing is stored for the bounds: Block-max WAND stores per-block
maxima so that a scorer can skip decoding blocks, but the scatter
decodes every posting of every query term (searchidx._decode_shard)
before any pruning decision. One pass over the decoded weights then
gives each cell's exact maximum, tighter than any stored block maximum
and valid under the current k1/b/avgdl by construction.

Lineage: block-max bounds per Ding & Suel's Block-Max WAND (SIGIR
2011); evaluating them at fixed doc-range granularity instead of a
per-document pivot loop is the vectorization-friendly variant (cf. the
columnar/vectorized inverted-index line of work, e.g. "Columnar
Formatted Inverted Index for Highly-Paralleled, Vectorized Query
Processing", ICDE 2025 — see PAPERS.md — which likewise bounds
decoded columnar blocks), batch-scoring whole candidate ranges in
numpy.
"""

from __future__ import annotations

from typing import Callable

import numpy as np
import pandas as pd

# Cell width: fine enough that a selective term's postings leave most
# cells empty (pruning granularity), capped at 8192 cells per shard so
# the per-term cell arrays stay tiny. A 100k shard → 6250 cells of 16
# docs; a 1M shard → 8192 cells of ~128 docs.
MAX_CELLS = 8192
MIN_CELL_WIDTH = 16


def _multi_arange(lo: np.ndarray, hi: np.ndarray) -> np.ndarray:
    """Concatenation of arange(lo[i], hi[i]) without a Python loop.
    Requires hi > lo elementwise and len > 0."""
    ln = hi - lo
    n = int(ln.sum())
    idx = np.ones(n, dtype=np.int64)
    idx[0] = lo[0]
    pos = np.cumsum(ln)[:-1]
    idx[pos] = lo[1:] - (hi[:-1] - 1)
    return np.cumsum(idx)


class _TermStruct:
    """Query-independent per-term shard structures (built once per
    shard, shared by every query in the batch)."""

    __slots__ = ("ids", "wtf", "off", "cmax")

    def __init__(self, ids, wtf, n_cells: int, width: int):
        self.ids = ids
        self.wtf = wtf
        bounds = np.arange(n_cells + 1, dtype=np.int64) * width
        self.off = np.searchsorted(ids, bounds, side="left")
        # each cell's bound: the max wtf of the term's postings in it.
        # Cells are contiguous posting ranges, so one reduceat over the
        # non-empty cells' starts reduces each cell's own slice
        self.cmax = np.zeros(n_cells, dtype=np.float64)
        nonempty = np.flatnonzero(np.diff(self.off))
        if nonempty.size:
            self.cmax[nonempty] = np.maximum.reduceat(
                wtf, self.off[nonempty])


class _TermList:
    """Unit-test construction shim: raw posting arrays + weight."""

    __slots__ = ("ids", "wtf", "w")

    def __init__(self, ids, wtf, w):
        self.ids = np.asarray(ids, dtype=np.int64)
        self.wtf = np.asarray(wtf, dtype=np.float64)
        self.w = float(w)


def _score_pruned(
    terms: list[tuple[float, _TermStruct]],
    k: int,
    n_cells: int,
) -> tuple[np.ndarray, np.ndarray]:
    """Exact top-k candidates via cell-level block-max pruning.
    ``terms`` = [(query weight, shard structures)], each with at least
    one posting. Returns (doc ids, scores) of the pooled (scored) docs
    — the caller applies the final (score desc, doc asc) cut."""
    cell_ub = np.zeros(n_cells, dtype=np.float64)
    pcount = np.zeros(n_cells, dtype=np.int64)
    for w, t in terms:
        if w > 0:
            cell_ub += w * t.cmax
        pcount += np.diff(t.off)
    live = np.flatnonzero(pcount > 0)
    if live.size == 0:
        return np.empty(0, dtype=np.int64), np.empty(0)
    order = live[np.argsort(-cell_ub[live], kind="stable")]

    size = int(max(t.ids[-1] for _, t in terms)) + 1
    acc = np.zeros(size, dtype=np.float64)

    pool_d: list[np.ndarray] = []
    pool_s: list[np.ndarray] = []
    npool = 0
    theta = -np.inf
    i = 0
    checked_bail = False
    # first batch sized to plausibly pool k docs; ×2 growth after
    csum = np.cumsum(pcount[order])
    target = max(4 * k, 64)
    j = min(order.size, int(np.searchsorted(csum, target)) + 1)
    while i < order.size:
        if npool >= k and cell_ub[order[i]] < theta:
            break
        cells = order[i:j]
        sel: list[np.ndarray] = []
        for w, t in terms:
            lo = t.off[cells]
            hi = t.off[cells + 1]
            m = hi > lo
            if not m.any():
                continue
            idx = _multi_arange(lo[m], hi[m])
            d = t.ids[idx]
            acc[d] += w * t.wtf[idx]
            sel.append(d)
        if sel:
            batch_docs = np.unique(np.concatenate(sel))
            pool_d.append(batch_docs)
            pool_s.append(acc[batch_docs].copy())
            npool += batch_docs.size
            if npool >= k:
                alls = np.concatenate(pool_s)
                theta = np.partition(alls, alls.size - k)[alls.size - k]
        if (npool >= k and not checked_bail
                and int(csum[j - 1]) >= max(512, 8 * k)):
            # one-shot heuristic (exactness unaffected — both paths are
            # exact): if most postings sit in cells that survive θ,
            # restricted per-cell scoring just re-does TAAT with gather
            # overhead — switch to one dense pass. Deferred until ≥512
            # postings are scored so θ has matured (an immature θ makes
            # every cell look like a survivor and mis-fires the bail).
            checked_bail = True
            cut = int(np.searchsorted(-cell_ub[order], -theta, side="right"))
            remaining = int(csum[cut - 1] - csum[j - 1]) if cut > j else 0
            if remaining > 0.5 * int(csum[-1]):
                acc = np.zeros(size, dtype=np.float64)
                touched = np.zeros(size, dtype=bool)
                for w, t in terms:
                    acc[t.ids] += w * t.wtf
                    touched[t.ids] = True
                docs = np.flatnonzero(touched)
                return docs, acc[docs]
        step = max(j - i, 1) * 2
        i = j
        j = min(order.size, i + step)
    if not pool_d:
        return np.empty(0, dtype=np.int64), np.empty(0)
    return np.concatenate(pool_d), np.concatenate(pool_s)


def _bmw_one(lists: list[_TermList], k: int):
    """Exact top-k (score desc, doc asc) — unit-test entry over raw
    _TermList inputs; builds cell structures ad hoc and delegates to
    the vectorized pruned scorer."""
    lists = [t for t in lists if t.ids.size]
    if not lists:
        return []
    size = int(max(t.ids[-1] for t in lists)) + 1
    width = max(8, -(-size // MAX_CELLS))
    n_cells = -(-size // width)
    terms = [(t.w, _TermStruct(t.ids, t.wtf, n_cells, width))
             for t in lists]
    docs, scores = _score_pruned(terms, k, n_cells)
    if docs.size == 0:
        return []
    sel = np.lexsort((docs, -scores))[:k]
    return [(int(docs[x]), float(scores[x])) for x in sel]


def make_bmw_scorer(
    qmap: dict[int, list[tuple[str, int]]],
    idf_map: dict[str, float],
    k1: float,
    b: float,
    avgdl: float,
    k: int,
    shard_size: int,
    tomb: np.ndarray | None = None,
) -> Callable[[pd.DataFrame], pd.DataFrame]:
    from .searchidx import _decode_shard, _shard_frame

    width = max(MIN_CELL_WIDTH, -(-shard_size // MAX_CELLS))
    n_cells = -(-shard_size // width)

    def score_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        base = int(pdf["shard"].iloc[0]) * shard_size
        decoded = _decode_shard(pdf, k1, b, avgdl)
        if tomb is not None and tomb.size:
            # mask the shard's tombstones per term; an emptied term drops
            local = tomb[(tomb >= base) & (tomb < base + shard_size)] - base
            for term, (ids, wtf) in decoded.items():
                keep = ~np.isin(ids, local)
                decoded[term] = (ids[keep], wtf[keep])
        # query-independent per-term structures, built ONCE per shard
        # and shared across the whole query batch
        structs = {term: _TermStruct(ids, wtf, n_cells, width)
                   for term, (ids, wtf) in decoded.items() if ids.size}

        rows_q: list[int] = []
        rows_d: list[np.ndarray] = []
        rows_s: list[np.ndarray] = []
        for qid, qterms in qmap.items():
            terms = [
                (qtf * idf_map[t], structs[t])
                for t, qtf in qterms
                if t in idf_map and t in structs
            ]
            if not terms:
                continue
            docs, scores = _score_pruned(terms, k, n_cells)
            if docs.size == 0:
                continue
            sel = np.lexsort((docs, -scores))[:k]
            rows_q.append(qid)
            rows_d.append(docs[sel] + np.int64(base))
            rows_s.append(scores[sel])
        return _shard_frame(rows_q, rows_d, rows_s)

    return score_shard
