"""Block-max pruned top-k scorer (WAND family) — vectorized.

Runs inside the same scatter-gather harness as the TAAT scorer
(searchidx.search_index(scorer="bmw")). Round 1 shipped a classic
per-pivot WAND loop; its per-doc Python interpreter cost made it SLOWER
than unpruned numpy TAAT (VERDICT r1). This is the vectorized redesign:
block-max bounds are aggregated to fixed-width doc CELLS, pruning
decisions are made per cell, and exact scoring is restricted to
surviving cells — every per-posting operation is a numpy slice, no
per-document Python.

Per shard (shard-local doc space [0, shard_size)):

1. Cell grid: width W (≈ shard_size/256). Query-INDEPENDENT per-term
   structures, built once per shard call and reused by every query in
   the batch:
   - off_t   = searchsorted(ids_t, cell boundaries) — O(cells·log df)
   - cmax_t  = per-cell max of the block upper bound _wtf(maxtf,
     mindl): block j covers docs (blast[j-1], blast[j]], an interval
     max-assign over its cell span. Never touches the postings.
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

Salt chunks of one term are concatenated (they are disjoint ascending
doc ranges by construction) so the scorer sees one ordered stream per
term.

Lineage: block-max bounds per Ding & Suel's Block-Max WAND (SIGIR
2011); evaluating them at fixed doc-range granularity instead of a
per-document pivot loop is the vectorization-friendly variant (cf. the
columnar/vectorized inverted-index line of work, e.g. "Columnar
Formatted Inverted Index for Highly-Paralleled, Vectorized Query
Processing", ICDE 2025 — see PAPERS.md), which trades a slightly
looser bound for batch-scoring whole candidate ranges in numpy.
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


def _cell_width(size: int) -> int:
    return max(MIN_CELL_WIDTH, -(-size // MAX_CELLS))


def _concat_term_chunks(chunks):
    """Merge salt chunks (disjoint ascending ranges) into one list."""
    ids = np.concatenate([c[0] for c in chunks])
    wtf = np.concatenate([c[1] for c in chunks])
    blast = np.concatenate([c[2] for c in chunks])
    bmaxw = np.concatenate([c[3] for c in chunks])
    return ids, wtf, blast, bmaxw


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

    __slots__ = ("ids", "wtf", "off", "cmax", "n")

    def __init__(self, ids, wtf, blast, bmaxw, n_cells: int, width: int):
        self.ids = ids
        self.wtf = wtf
        self.n = ids.size
        bounds = np.arange(n_cells + 1, dtype=np.int64) * width
        self.off = np.searchsorted(ids, bounds, side="left")
        cmax = np.zeros(n_cells, dtype=np.float64)
        if ids.size:
            # per-cell max contribution: from block metadata intervals
            # when the term is dense (cheap, spans are narrow), from the
            # exact per-posting wtf when sparse (block intervals of a
            # sparse term over-cover — a 128-posting block can span the
            # whole shard and would mark EVERY cell, killing pruning).
            # Whichever touches fewer elements is also the tighter one.
            spans = None
            if blast.size:
                firsts = np.empty_like(blast)
                firsts[0] = ids[0]
                firsts[1:] = blast[:-1] + 1
                c0 = np.clip(firsts // width, 0, n_cells - 1)
                c1 = np.clip(blast // width, 0, n_cells - 1)
                lens = c1 - c0 + 1
                spans = int(lens.sum())
            if spans is not None and spans <= ids.size:
                cells = _multi_arange(c0, c1 + 1)
                np.maximum.at(cmax, cells, np.repeat(bmaxw, lens))
            else:
                np.maximum.at(cmax, ids // width, wtf)
        self.cmax = cmax


class _TermList:
    """Unit-test/bench construction shim: raw posting arrays + weight.
    ``contrib`` is the exact per-posting contribution (w·wtf)."""

    __slots__ = ("ids", "wtf", "blast", "bmaxw", "w", "contrib", "n")

    def __init__(self, ids, wtf, blast, bmaxw, w):
        self.ids = np.asarray(ids, dtype=np.int64)
        self.wtf = np.asarray(wtf, dtype=np.float64)
        self.blast = np.asarray(blast, dtype=np.int64)
        self.bmaxw = np.asarray(bmaxw, dtype=np.float64)
        self.w = float(w)
        self.contrib = self.w * self.wtf
        self.n = self.ids.size


def _score_pruned(
    terms: list[tuple[float, _TermStruct]],
    k: int,
    n_cells: int,
) -> tuple[np.ndarray, np.ndarray]:
    """Exact top-k candidates via cell-level block-max pruning.
    ``terms`` = [(query weight, shard structures)]. Returns
    (doc ids, scores) of the pooled (scored) docs — the caller applies
    the final (score desc, doc asc) cut."""
    live_terms = [(w, t) for w, t in terms if t.n > 0]
    if not live_terms:
        return np.empty(0, dtype=np.int64), np.empty(0)

    cell_ub = np.zeros(n_cells, dtype=np.float64)
    pcount = np.zeros(n_cells, dtype=np.int64)
    for w, t in live_terms:
        if w > 0:
            cell_ub += w * t.cmax
        pcount += np.diff(t.off)
    live = np.flatnonzero(pcount > 0)
    if live.size == 0:
        return np.empty(0, dtype=np.int64), np.empty(0)
    order = live[np.argsort(-cell_ub[live], kind="stable")]

    size = int(max(t.ids[-1] for _, t in live_terms)) + 1
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
        for w, t in live_terms:
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
                for w, t in live_terms:
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
    lists = [t for t in lists if t.n > 0]
    if not lists:
        return []
    size = int(max(t.ids[-1] for t in lists)) + 1
    width = max(8, -(-size // MAX_CELLS))
    n_cells = -(-size // width)
    terms = [
        (t.w, _TermStruct(t.ids, t.wtf, t.blast, t.bmaxw, n_cells, width))
        for t in lists
    ]
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
    from .searchidx import _decode_rows, _shard_frame, _wtf

    width = _cell_width(shard_size)
    n_cells = -(-shard_size // width)

    def score_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        shard = int(pdf["shard"].iloc[0])
        base = shard * shard_size
        # block upper bounds from stats-drift-robust (maxtf, mindl)
        # metadata, evaluated with the CURRENT k1/b/avgdl
        blasts: dict[tuple[int, int], list] = {}
        for r in pdf.sort_values(["th1", "th2", "salt"]).itertuples():
            blasts.setdefault((int(r.th1), int(r.th2)), []).append(
                (
                    np.asarray(r.block_last, dtype=np.int64) - base,
                    _wtf(r.block_maxtf, r.block_mindl, k1, b, avgdl),
                )
            )
        decoded = _decode_rows(pdf, base, k1, b, avgdl, tomb)

        # query-independent per-term structures, built ONCE per shard
        # and shared across the whole query batch
        structs: dict[tuple[int, int], _TermStruct] = {}
        for term, chunks in decoded.items():
            joined = [
                (ids, wtf, bl, bm)
                for (ids, wtf), (bl, bm) in zip(chunks, blasts[term])
            ]
            ids, wtf, bl, bm = _concat_term_chunks(joined)
            if ids.size == 0:
                # every posting tombstone-masked in _decode_rows
                continue
            # (under tombstones the block metadata stays a valid, now
            # looser, upper bound — masked docs only remove candidates)
            structs[term] = _TermStruct(ids, wtf, bl, bm, n_cells, width)

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
            rows_d.append(docs[sel] + base)
            rows_s.append(scores[sel])
        return _shard_frame(rows_q, rows_d, rows_s)

    return score_shard
