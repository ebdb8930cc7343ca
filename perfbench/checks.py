"""Correctness gate against the pure-Python oracle (``PyBM25``).

Oracle work runs outside every timed region. Scores compare at 6
decimal places on both sides; ranking ties at the k boundary may be
cut differently by the engine and the oracle, so the boundary group
only has to be a subset of the oracle's.
"""

from __future__ import annotations

from oboyu_spark.functions.text import py_term_frequencies
from oboyu_spark.oracle.pybm25 import PyBM25


def oracle(docs: list[tuple[str, str]]) -> PyBM25:
    o = PyBM25()
    o.index(docs)
    return o


def corpus_stats(doc_tfs: dict) -> dict:
    """The index-level counts an engine build must reproduce."""
    total = sum(sum(tf.values()) for tf in doc_tfs.values())
    return {
        "n_docs": len(doc_tfs),
        "n_postings": sum(len(tf) for tf in doc_tfs.values()),
        "avgdl": round(total / len(doc_tfs), 6) if doc_tfs else 0.0,
    }


def synced_tfs(doc_tfs: dict, changes) -> dict:
    """``doc_tfs`` after applying (doc_id, text, change) rows."""
    out = dict(doc_tfs)
    for doc_id, text, change in changes:
        if change == "deleted":
            out.pop(doc_id, None)
        else:
            out[doc_id] = py_term_frequencies(text)
    return out


def stats_problems(want: dict, meta: dict) -> list[str]:
    got = {
        "n_docs": int(meta["n_docs"]),
        "n_postings": int(meta["n_postings"]),
        "avgdl": round(float(meta["avgdl"]), 6),
    }
    return [f"{k}: engine {got[k]} != oracle {want[k]}"
            for k in want if got[k] != want[k]]


def topk_problems(o: PyBM25, query: str, got: list[tuple[str, float]],
                  k: int) -> list[str]:
    """``got``: the engine's ranked (doc_id, score) list for ``query``."""
    full = [(d, round(s, 6)) for d, s in o.search(query, k=len(o.doc_tfs))]
    want = full[:k]
    eng = [(str(d), round(float(s), 6)) for d, s in got]
    if len(eng) != len(want):
        return [f"{query!r}: {len(eng)} results, oracle {len(want)}"]
    if [s for _, s in eng] != [s for _, s in want]:
        return [f"{query!r}: scores {eng} != oracle {want}"]
    if not want:
        return []
    edge = want[-1][1]
    same_edge = {d for d, s in full if s == edge}
    inner_e = {d for d, s in eng if s != edge}
    inner_w = {d for d, s in want if s != edge}
    edge_e = {d for d, s in eng if s == edge}
    if inner_e != inner_w or not edge_e <= same_edge:
        return [f"{query!r}: doc ids {eng} != oracle {want}"]
    return []
