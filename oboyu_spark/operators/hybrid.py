"""Hybrid search — the reference's DEFAULT retrieval mode.

Reference semantics (src/oboyu/retriever/search/search_engine.py:87-112):
vector search and BM25 run independently, each returns an expanded
top-k, and the two ranked lists are fused (RRF by default,
hybrid_search_combiner.py:33-112; legacy weighted mode
hybrid_search.py:14-60). The reference generates embeddings with an
ONNX model at index time; no embedding model exists in this sandbox,
so the vector branch reads a precomputed embedding table
(vec_id aligned with doc_id — the driver's embeddings.parquet) and the
composition itself is the operator under test.

Spark shape: both branches are top-k lists (≤ k_each rows) before the
fusion join, so the fusion windows/joins run on driver-trivial row
counts regardless of corpus size; the heavy lifting stays inside the
BM25 scatter-gather and the (optionally LSH-bucketed) vector scan.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .bm25 import bm25_search
from .fusion import RRF_K_DEFAULT, normalize_scores, rrf_fuse, weighted_fuse
from .similarity import cosine_topk, lsh_ann_topk


def hybrid_search(
    docs: DataFrame,
    embeddings: DataFrame,
    query: str,
    query_vec: Sequence[float],
    k_each: int = 20,
    limit: int = 10,
    mode: str = "rrf",
    rrf_k: int = RRF_K_DEFAULT,
    weight_text: float = 0.5,
    ann: bool = False,
    round_digits: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(doc_id, score) — fused BM25 + vector top-k.

    ``mode="rrf"``: reciprocal-rank fusion (reference default);
    ``mode="weighted"``: min-max-normalized weighted sum (legacy mode).
    ``ann=True`` routes the vector branch through the LSH-bucketed
    scan instead of the exact full scan (the 100 TB path).
    """
    text_top = bm25_search(docs, query, k=k_each, round_digits=round_digits)
    if ann:
        vec_raw = lsh_ann_topk(embeddings, query_vec, k=k_each,
                               id_col=id_col, vec_col=vec_col)
    else:
        vec_raw = cosine_topk(embeddings, query_vec, k=k_each,
                              id_col=id_col, vec_col=vec_col,
                              round_digits=round_digits)
    vec_top = vec_raw.select(
        F.col("vec_id").alias("doc_id"), F.col("cosine").alias("score")
    )
    # fuse the FULL candidate union (≤ 2·k_each rows) and apply the
    # limit after rounding: the engine-wide invariant is that top-k
    # membership is decided on ROUNDED scores (float-noise-proof
    # boundaries vs the oracle), so the cut must not happen inside the
    # fuse on raw doubles
    full = 2 * k_each
    if mode == "rrf":
        fused = rrf_fuse(text_top, vec_top, rrf_k=rrf_k, limit=full)
    elif mode == "weighted":
        fused = weighted_fuse(
            normalize_scores(text_top), normalize_scores(vec_top),
            weight_a=weight_text, weight_b=1.0 - weight_text, limit=full,
        )
    else:
        raise ValueError(f"unknown hybrid mode {mode!r}")
    if round_digits is not None:
        fused = fused.select(
            "doc_id", F.round("score", round_digits).alias("score")
        )
    return (
        fused.orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(limit)
    )


def hybrid_search_indexed(
    reader,
    embeddings: DataFrame,
    query: str,
    query_vec: Sequence[float],
    k_each: int = 20,
    limit: int = 10,
    mode: str = "rrf",
    rrf_k: int = RRF_K_DEFAULT,
    weight_text: float = 0.5,
    ann: bool = True,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    ivf_dir: str | None = None,
    nprobe: int = 4,
) -> DataFrame:
    """Serving-shape hybrid: the BM25 branch runs against the PERSISTED
    compressed index through an :class:`~oboyu_spark.operators.searchidx.
    IndexReader` (warm executor-cached postings), the vector branch is
    LSH-bucketed by default — or, with ``ivf_dir``, runs against a
    PERSISTED ``ivf_build`` index (partition-pruned probed-list scan,
    ``embeddings`` then unused), making BOTH branches index-backed: the
    full deployment shape. Rank-identical to :func:`hybrid_search`
    over the same corpus when the indexes were built from it (pinned by
    tests) — this is the path a deployment runs per query."""
    text_top = reader.search(query, k=k_each).select(
        F.col("doc_id").cast("string").alias("doc_id"), "score"
    )
    if ivf_dir is not None:
        from .similarity import ivf_search

        vec_raw = ivf_search(reader.spark, ivf_dir, query_vec, k=k_each,
                             nprobe=nprobe)
    elif ann:
        vec_raw = lsh_ann_topk(embeddings, query_vec, k=k_each,
                               id_col=id_col, vec_col=vec_col)
    else:
        vec_raw = cosine_topk(embeddings, query_vec, k=k_each,
                              id_col=id_col, vec_col=vec_col)
    vec_top = vec_raw.select(
        F.col("vec_id").cast("string").alias("doc_id"),
        F.col("cosine").alias("score"),
    )
    if mode == "rrf":
        return rrf_fuse(text_top, vec_top, rrf_k=rrf_k, limit=limit)
    if mode == "weighted":
        return weighted_fuse(
            normalize_scores(text_top), normalize_scores(vec_top),
            weight_a=weight_text, weight_b=1.0 - weight_text, limit=limit,
        )
    raise ValueError(f"unknown hybrid mode {mode!r}")


def hybrid_search_folded(
    reader,
    ivf,
    query: str,
    query_vec: Sequence[float],
    k_each: int = 20,
    limit: int = 10,
    mode: str = "rrf",
    rrf_k: int = RRF_K_DEFAULT,
    weight_text: float = 0.5,
    nprobe: int = 4,
) -> "list[tuple[str, float]]":
    """Warm-serving fold of :func:`hybrid_search_indexed` (VERDICT r5
    #5): run the two branch top-k searches (at most one Spark job each
    — the BM25 reader's driver-cut path, none when its terms and
    winners are cached, and the IVF reader's pruned TakeOrdered),
    collect their ≤ ``k_each`` rows, and fuse on the
    DRIVER with the pure-python fusion twins — zero Spark jobs for
    fusion, no result-frame round-trip. Returns fused (doc_id, score)
    tuples ready for the serving response. Score- and rank-identical
    to ``hybrid_search_indexed`` (twins replicate the DataFrame
    arithmetic op-for-op; pinned by test_serve / test_fusion).

    ``ivf`` is a warm :class:`~oboyu_spark.operators.similarity.
    IvfReader` (lists cached once at serve startup)."""
    from .fusion import (
        normalize_scores_rows, rrf_fuse_rows, weighted_fuse_rows,
    )

    text_rows = [
        (str(doc_id), float(score))
        for _, doc_id, score in reader.search_rows(query, k=k_each)
    ]
    vec_rows = [
        (str(r["vec_id"]), float(r["cosine"]))
        for r in ivf.search(query_vec, k=k_each, nprobe=nprobe).collect()
    ]
    if mode == "rrf":
        return rrf_fuse_rows(text_rows, vec_rows, rrf_k=rrf_k, limit=limit)
    if mode == "weighted":
        return weighted_fuse_rows(
            normalize_scores_rows(text_rows),
            normalize_scores_rows(vec_rows),
            weight_a=weight_text, weight_b=1.0 - weight_text, limit=limit,
        )
    raise ValueError(f"unknown hybrid mode {mode!r}")
