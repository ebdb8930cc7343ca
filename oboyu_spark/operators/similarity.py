"""Similarity search over embedding columns (array<float>).

Two paths, per the training-data-pipeline requirements:

- ``cosine_topk``       — exact brute-force top-k for one query vector:
                          dot products as built-in higher-order
                          functions (zip_with + aggregate, JVM-side),
                          TakeOrderedAndProject top-k. The baseline and
                          the verifier for the ANN path.
- ``lsh_*``             — the scale path: random-hyperplane (sign) LSH.
                          Hyperplanes are DETERMINISTIC (seeded numpy
                          inside the UDF factory, shipped via closure).
                          Bucketing is a vectorized Arrow UDF (one
                          matmul per batch); candidate generation is an
                          equi-join on (table, bucket); exact cosine
                          re-verification inside the bucket join.

At 100 TB the brute-force path is a full scan per query — only for
oracle checks and small candidate sets; LSH buckets cut the scanned
fraction to ~1/2^bits per table while the verify step keeps results
exact-over-candidates.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .postings import _filter_keys, _in_ints


def _dot_expr(col, qvec: Sequence[float]):
    q = F.array(*[F.lit(float(x)) for x in qvec])
    return F.aggregate(
        F.zip_with(col, q, lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm_expr(col):
    return F.sqrt(
        F.aggregate(col, F.lit(0.0), lambda acc, x: acc + x * x)
    )


def cosine_topk(
    embeddings: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int | None = None,
) -> DataFrame:
    """Exact cosine top-k, fully JVM-side."""
    qnorm = float(np.sqrt(np.dot(query_vec, query_vec)))
    cos = _dot_expr(F.col(vec_col).cast("array<double>"), query_vec) / (
        _norm_expr(F.col(vec_col).cast("array<double>")) * F.lit(qnorm)
    )
    out = embeddings.select(
        F.col(id_col).alias("vec_id"), cos.alias("cosine")
    )
    if round_digits is not None:
        out = out.select("vec_id", F.round("cosine", round_digits).alias("cosine"))
    return out.orderBy(F.col("cosine").desc(), F.col("vec_id").asc()).limit(k)


# ---------------------------------------------------------------------------
# Random-hyperplane LSH
# ---------------------------------------------------------------------------

#: fixed-point scales making every plane dot an EXACT integer (well
#: under 2^53) in float64 — the bucket bit (dot > 0) is then
#: bit-identical across numpy, Spark and DuckDB regardless of
#: summation order, which is what lets the LSH entries carry exact
#: DuckDB oracles instead of rows-only checks.
LSH_VEC_SCALE = 10_000.0
LSH_PLANE_SCALE = 1_000.0


def _hyperplanes(dim: int, bits: int, table: int, seed: int) -> np.ndarray:
    """Integer-valued random hyperplanes: standard normals scaled by
    LSH_PLANE_SCALE and rounded — direction is preserved to ~1e-3
    (immaterial for sign-LSH) while every coefficient is an exact
    small integer."""
    rng = np.random.default_rng(seed * 1_000_003 + table)
    return np.round(rng.standard_normal((bits, dim)) * LSH_PLANE_SCALE)


def _quantize(mat: np.ndarray) -> np.ndarray:
    """floor(x * SCALE + 0.5) — floor (not round) because IEEE floor is
    identical in numpy, Spark and DuckDB while round-half ties break
    differently (numpy half-to-even vs SQL half-away)."""
    return np.floor(mat.astype(np.float64) * LSH_VEC_SCALE + 0.5)


def lsh_bucket_udf(dim: int, bits: int = 12, n_tables: int = 2,
                   seed: int = 42):
    """array<float> -> array<long> of per-table sign-bucket ids over
    the quantized vector (see _quantize): one float64 matmul per Arrow
    batch, every product/partial-sum an exact integer."""
    planes = [_hyperplanes(dim, bits, t, seed) for t in range(n_tables)]
    powers = (2 ** np.arange(bits)).astype(np.int64)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _bucket(s: pd.Series) -> pd.Series:
        mat = _quantize(np.stack(s.to_numpy()))  # (batch, dim)
        per_table = [
            ((mat @ p.T) > 0).astype(np.int64) @ powers for p in planes
        ]
        stacked = np.stack(per_table, axis=1)  # (batch, tables)
        return pd.Series(list(stacked))

    return _bucket


def lsh_query_buckets(query_vec: Sequence[float], bits: int,
                      n_tables: int, seed: int,
                      multi_probe: int = 0) -> list[tuple[int, int]]:
    """[(table, bucket)] probes for a query vector — same quantized
    integer arithmetic as the distributed side.

    ``multi_probe=M`` adds, per table, the M neighboring buckets
    obtained by flipping the sign bits with the SMALLEST |dot| margin
    (the Lv et al. 2007 multi-probe idea): a vector near a hyperplane
    is the one most likely to land across it, so probing those flips
    buys most of an extra table's recall at zero index cost. The
    margin order is an exact-integer comparison (quantized dots), ties
    broken on the bit index — fully deterministic, so the DuckDB
    oracle reproduces the probe set by calling this same function."""
    q = _quantize(np.asarray(query_vec, dtype=np.float64))
    powers = (2 ** np.arange(bits)).astype(np.int64)
    out = []
    for t in range(n_tables):
        planes = _hyperplanes(len(q), bits, t, seed)
        dots = planes @ q  # exact integers
        bucket = int((dots > 0).astype(np.int64) @ powers)
        out.append((t, bucket))
        if multi_probe:
            flip = np.lexsort((np.arange(bits), np.abs(dots)))[:multi_probe]
            for i in flip:
                out.append((t, bucket ^ (1 << int(i))))
    return out


def lsh_bucketize(
    embeddings: DataFrame,
    dim: int,
    bits: int = 12,
    n_tables: int = 2,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, embedding, table, bucket) — one row per table."""
    b = lsh_bucket_udf(dim, bits, n_tables, seed)(F.col(vec_col))
    return embeddings.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding"),
        F.posexplode(b).alias("table", "bucket"),
    )


def lsh_ann_topk(
    embeddings: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    bits: int = 12,
    n_tables: int = 2,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int | None = None,
    multi_probe: int = 0,
) -> DataFrame:
    """ANN top-k: score only vectors sharing a bucket with the query in
    any table (exact cosine over the candidate set). ``multi_probe``:
    additionally probe that many smallest-margin neighbor buckets per
    table (see lsh_query_buckets) — recall of extra tables without the
    index width."""
    dim = len(query_vec)
    probes = lsh_query_buckets(query_vec, bits, n_tables, seed,
                               multi_probe=multi_probe)
    bucketed = lsh_bucketize(embeddings, dim, bits, n_tables, seed,
                             id_col, vec_col)
    probe_df = bucketed.sparkSession.createDataFrame(
        probes, "table int, bucket long"
    )
    cand = bucketed.join(F.broadcast(probe_df), ["table", "bucket"]) \
        .select("vec_id", "embedding").dropDuplicates(["vec_id"])
    return cosine_topk(cand, query_vec, k, "vec_id", "embedding",
                       round_digits=round_digits)


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the second scale path besides LSH
# ---------------------------------------------------------------------------

def ivf_train_centroids(
    embeddings: DataFrame,
    n_lists: int = 16,
    sample: int = 10_000,
    iters: int = 10,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> np.ndarray:
    """Deterministic coarse quantizer: Lloyd k-means in numpy over a
    deterministic pseudo-random sample collected to the driver (the
    FAISS-style IVF recipe — training is always a small-sample,
    single-node step; only assignment and search are distributed).

    The sample is the ``sample`` rows with the smallest
    ``xxhash64(id)`` — a hash order is (a) independent of partitioning
    and parallelism (unlike ``limit`` on an unordered frame, which
    returns whichever partitions answer first), (b) statistically a
    uniform random draw (unlike head-of-table, which is biased under
    any clustered layout), and (c) executed as a distributed top-k
    (partial per-partition take + merge), never a full sort.
    Returns (n_lists, dim)."""
    frac_rows = (
        embeddings.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
        .orderBy(F.xxhash64(F.col("_id")).asc(), F.col("_id").asc())
        .limit(sample)
        .collect()
    )
    x = np.asarray([r["_v"] for r in frac_rows], dtype=np.float64)
    if x.shape[0] < n_lists:
        raise ValueError(
            f"need at least n_lists={n_lists} vectors to train, "
            f"got {x.shape[0]}"
        )
    rng = np.random.default_rng(seed)
    cent = x[rng.choice(x.shape[0], size=n_lists, replace=False)]
    for _ in range(iters):
        d = ((x[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        for c in range(n_lists):
            m = assign == c
            if m.any():
                cent[c] = x[m].mean(axis=0)
    return cent


def ivf_seeded_centroids(dim: int, n_lists: int = 8,
                         seed: int = 42) -> np.ndarray:
    """Data-independent coarse quantizer: ``n_lists`` seeded random
    UNIT directions scaled to integers (floor(dir * LSH_VEC_SCALE
    + 0.5)). Nearest-centroid over these is a random partition of the
    sphere — a legitimate (train-free) coarse quantizer for
    unit-normalized embeddings, and because every coefficient is an
    exact small integer, quantized assignment (``quantize=True``
    below) is bit-identical across numpy, Spark and DuckDB. This is
    what lets the driver's ``ivf_ann_topk`` entry carry an exact
    DuckDB oracle; the data-trained k-means quantizer
    (``ivf_train_centroids``) stays the quality path, verified by
    recall pytest instead."""
    rng = np.random.default_rng(seed * 7_654_321 + n_lists)
    dirs = rng.standard_normal((n_lists, dim))
    dirs /= np.linalg.norm(dirs, axis=1, keepdims=True)
    return np.floor(dirs * LSH_VEC_SCALE + 0.5)


def ivf_assign(
    embeddings: DataFrame,
    centroids: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quantize: bool = False,
) -> DataFrame:
    """(vec_id, embedding, list_id) — nearest-centroid assignment via a
    vectorized Arrow UDF (one matmul per batch). At 100 TB this is the
    partitioning key: ``ivf_build`` persists this frame partitioned by
    list_id so ``ivf_search`` scans only the probed lists.

    ``quantize=True`` assigns on the fixed-point vector
    (floor(x*LSH_VEC_SCALE + 0.5)) against integer-valued centroids
    (``ivf_seeded_centroids``): every distance term is then an exact
    integer < 2^53 in float64, so the assignment — and therefore the
    candidate SET — is reproducible bit-identically in DuckDB
    (argmin ties break toward the lowest list index on both sides)."""
    cent = np.asarray(centroids, dtype=np.float64)
    if quantize:
        _require_integer_centroids(cent)
    cent_sq = (cent ** 2).sum(axis=1)

    @F.pandas_udf(T.IntegerType())
    def _assign(s: pd.Series) -> pd.Series:
        mat = np.stack(s.to_numpy()).astype(np.float64)
        if quantize:
            # mat² is constant per row — argmin over cc − 2·x·c is the
            # same ordering, and keeps every term integer-valued
            d = cent_sq - 2.0 * (_quantize(mat) @ cent.T)
        else:
            d = (mat ** 2).sum(axis=1)[:, None] - 2.0 * (mat @ cent.T) + cent_sq
        return pd.Series(d.argmin(axis=1).astype(np.int32))

    return embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("embedding"),
        _assign(F.col(vec_col)).alias("list_id"),
    )


def ivf_topk(
    embeddings: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    n_lists: int = 16,
    nprobe: int = 4,
    sample: int = 10_000,
    iters: int = 10,
    seed: int = 42,
    centroids: np.ndarray | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int | None = None,
    quantize: bool = False,
) -> DataFrame:
    """One-shot IVF ANN top-k over an UN-materialized corpus: assigns
    every vector on the fly (a full scan + matmul — list_id is
    UDF-computed here, so the probe filter cannot prune the scan).
    This path exists for ad-hoc checks and the driver oracle; for
    serving, ``ivf_build`` + ``ivf_search`` persist the assignment
    partitioned by list_id and read only the probed partitions."""
    if centroids is None:
        centroids = ivf_train_centroids(
            embeddings, n_lists, sample, iters, seed, vec_col, id_col
        )
    probes = _probe_lists(centroids, query_vec, nprobe, quantize=quantize)
    assigned = ivf_assign(embeddings, centroids, id_col, vec_col,
                          quantize=quantize)
    cand = assigned.filter(_in_ints("list_id", probes)).select(
        "vec_id", "embedding"
    )
    return cosine_topk(cand, query_vec, k, "vec_id", "embedding",
                       round_digits=round_digits)


def _require_integer_centroids(cent: np.ndarray) -> None:
    """ADVICE r3: quantize=True scales the VECTOR by LSH_VEC_SCALE but
    uses the centroids as-is, so only integer-valued centroids already
    living in the scaled space (``ivf_seeded_centroids`` output) give a
    meaningful distance; a k-means-trained float centroid here would
    silently compare mismatched scales. Enforce it loudly."""
    if not np.array_equal(cent, np.floor(cent)):
        raise ValueError(
            "quantize=True requires integer-valued centroids in the "
            "LSH_VEC_SCALE fixed-point space (use ivf_seeded_centroids); "
            "got non-integer centroids — pass quantize=False for "
            "k-means-trained centroids"
        )


def _probe_lists(centroids: np.ndarray, query_vec: Sequence[float],
                 nprobe: int, quantize: bool = False) -> list[int]:
    cent = np.asarray(centroids, dtype=np.float64)
    q = np.asarray(query_vec, dtype=np.float64)
    if quantize:
        _require_integer_centroids(cent)
        # same exact-integer ordering as quantized assignment: q² is
        # constant, so rank by cc − 2·q̂·c (ties → lowest list index)
        d = (cent ** 2).sum(axis=1) - 2.0 * (cent @ _quantize(q))
    else:
        d = ((cent - q[None, :]) ** 2).sum(axis=1)
    return [int(i) for i in np.argsort(d, kind="stable")[:nprobe]]


def ivf_build(
    embeddings: DataFrame,
    out_dir: str,
    n_lists: int = 16,
    sample: int = 10_000,
    iters: int = 10,
    seed: int = 42,
    centroids: np.ndarray | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quantize: bool = False,
) -> np.ndarray:
    """Materialize the IVF index: train (or accept) centroids, assign
    every vector, and persist the assignment PARTITIONED BY ``list_id``
    (`out_dir/lists/list_id=N/`). This is the step that makes IVF's
    promise real at scale — searches read only the probed directories
    (Catalyst partition pruning on the partition column), never
    re-assigning or re-scanning the corpus. Centroids — and the
    quantizer MODE — are written to ``out_dir/centroids.json`` so
    ``ivf_search``/``ivf_append`` are train-free AND probe/assign with
    the same arithmetic the index was built with (VERDICT r3 #3: a
    quantized build must be served by quantized probes, else the
    persisted path and the oracle-validated path pick different
    candidate sets).

    Train once / search many: the FAISS IVF lifecycle, re-expressed as
    a partitioned parquet layout instead of an in-process index."""
    import json
    import os

    if centroids is None:
        if quantize:
            raise ValueError(
                "quantize=True needs explicit integer-space centroids "
                "(ivf_seeded_centroids) — k-means training produces "
                "float centroids in the unscaled space"
            )
        centroids = ivf_train_centroids(
            embeddings, n_lists, sample, iters, seed, vec_col, id_col
        )
    cent = np.asarray(centroids, dtype=np.float64)
    assigned = ivf_assign(embeddings, centroids, id_col, vec_col,
                          quantize=quantize)
    assigned.write.mode("overwrite").partitionBy("list_id").parquet(
        f"{out_dir}/lists"
    )
    os.makedirs(out_dir, exist_ok=True)
    with open(f"{out_dir}/centroids.json", "w") as f:
        json.dump(
            {"n_lists": int(cent.shape[0]), "dim": int(cent.shape[1]),
             "quantize": bool(quantize), "centroids": cent.tolist()},
            f,
        )
    return cent


def ivf_append(
    embeddings: DataFrame,
    index_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incrementally add vectors to a persisted ``ivf_build`` index:
    assign against the FROZEN centroid sidecar (centroids never move
    after build — the FAISS IVF contract; re-train + rebuild when drift
    matters) and append into the existing ``list_id=N`` partition
    directories. Searches pick the new files up on the next read; no
    existing file is rewritten. The mirror of the BM25 index's
    ``append_docs`` maintenance story."""
    from .dedup import _recover_swap

    _recover_swap(index_dir, "lists")
    meta = ivf_load_sidecar(index_dir)
    assigned = ivf_assign(embeddings, meta["centroids"], id_col, vec_col,
                          quantize=meta["quantize"])
    assigned.write.mode("append").partitionBy("list_id").parquet(
        f"{index_dir}/lists"
    )


def ivf_load_tombstones(index_dir: str) -> list:
    """Deleted vec_ids (raw key values), or [] — the IVF mirror of the
    postings index's ``load_tombstones``."""
    import json

    try:
        with open(f"{index_dir}/tombstones/vec_ids.json") as fh:
            return json.load(fh)
    except FileNotFoundError:
        return []


def ivf_delete(index_dir: str, vec_ids) -> None:
    """Mark vectors deleted. Searches mask tombstoned ids immediately
    (``ivf_search`` filters the probed candidates); the list files are
    rewritten lazily by ``ivf_compact`` — the same delete-now /
    rewrite-later split as the postings index's I4/I8 machinery (the
    alternative, rewriting a partition per deletion, is exactly what a
    10^12-vector index must not do). Idempotent; the sidecar swap is
    atomic (tmp + replace)."""
    import json
    import os

    tomb = set(ivf_load_tombstones(index_dir)) | set(vec_ids)
    os.makedirs(f"{index_dir}/tombstones", exist_ok=True)
    tmp = f"{index_dir}/tombstones/vec_ids.json.tmp"
    with open(tmp, "w") as fh:
        json.dump(sorted(tomb), fh)
    os.replace(tmp, f"{index_dir}/tombstones/vec_ids.json")


def _mask_tombstones(cand: DataFrame, index_dir: str) -> DataFrame:
    """Filter tombstoned vec_ids out of a candidate frame through
    ``postings._filter_keys`` (an IN list up to its cutover, an
    anti-join above it), keyed by the frame's vec_id type."""
    tomb = ivf_load_tombstones(index_dir)
    if not tomb:
        return cand
    return _filter_keys(cand, "vec_id", tomb, keep=False,
                        key_type=cand.schema["vec_id"].dataType.simpleString())


def ivf_compact(spark, index_dir: str) -> None:
    """Rewrite ``lists/`` without tombstoned vectors and clear the
    tombstones — the maintenance counterpart of ``ivf_delete``,
    mirroring the postings ``compact_index``. Assignments are reused
    verbatim (centroids are frozen; survivors keep their list_id), so
    this is a partition-preserving filter-and-rewrite, not a rebuild.
    Swap discipline: write aside, rename old out, rename new in; the
    between-renames crash window (no dir at the live path) is repaired
    automatically by ``_recover_swap`` on the next compact, append, or
    search (ADVICE r5 #2)."""
    import os
    import shutil

    from .dedup import _recover_swap

    _recover_swap(index_dir, "lists")
    survivors = _mask_tombstones(
        spark.read.parquet(f"{index_dir}/lists"), index_dir
    )
    tmp = f"{index_dir}/lists_compacting"
    survivors.write.mode("overwrite").partitionBy("list_id").parquet(tmp)
    old = f"{index_dir}/lists_old"
    if os.path.exists(old):
        shutil.rmtree(old)
    os.rename(f"{index_dir}/lists", old)
    os.rename(tmp, f"{index_dir}/lists")
    shutil.rmtree(old)
    tpath = f"{index_dir}/tombstones/vec_ids.json"
    if os.path.exists(tpath):
        os.remove(tpath)


def ivf_load_sidecar(index_dir: str) -> dict:
    """Centroid sidecar as {centroids: ndarray, quantize: bool, ...};
    pre-round-4 sidecars carry no quantize key → False (they were
    always built unquantized)."""
    import json

    with open(f"{index_dir}/centroids.json") as f:
        meta = json.load(f)
    meta["centroids"] = np.asarray(meta["centroids"], dtype=np.float64)
    meta["quantize"] = bool(meta.get("quantize", False))
    return meta


def ivf_load_centroids(index_dir: str) -> np.ndarray:
    return ivf_load_sidecar(index_dir)["centroids"]


def ivf_search(
    spark,
    index_dir: str,
    query_vec: Sequence[float],
    k: int = 10,
    nprobe: int = 4,
    round_digits: int | None = None,
) -> DataFrame:
    """IVF search over a persisted ``ivf_build`` index: nearest-centroid
    probes are computed driver-side from the centroid sidecar — in the
    quantizer MODE recorded at build time, so a quantized build is
    probed with the same exact-integer arithmetic that assigned it —
    and the scan reads ONLY the probed ``list_id=N`` partitions — the
    ``list_id IN`` filter lands in the scan's PartitionFilters (list_id is a
    partition column, not a computed one), so the files of the other
    n_lists − nprobe lists are never opened. Scanned fraction ≈
    nprobe / n_lists by construction, verified by a plan-shape test."""
    from .dedup import _recover_swap

    import os

    _recover_swap(index_dir, "lists")
    meta = ivf_load_sidecar(index_dir)
    probes = _probe_lists(meta["centroids"], query_vec, nprobe,
                          quantize=meta["quantize"])
    # one-shot locality (r7, same treatment as the BM25 index): build
    # the relation from ONLY the probed list_id= directories — a root
    # read lists every partition directory before PartitionFilters
    # apply (at 10⁴ lists that is 10⁴ prefix listings per query on an
    # object store). Empty lists write no directory; missing probes
    # just drop out. The IN filter stays (it carries the
    # PartitionFilters plan pin and guards basePath edge cases); a
    # warm IvfReader keeps its persisted root relation instead.
    base = f"{index_dir}/lists"
    paths = [p for p in (f"{base}/list_id={int(x)}" for x in probes)
             if os.path.isdir(p)]
    if paths:
        lists = spark.read.option("basePath", base).parquet(*paths)
    else:
        lists = spark.read.parquet(base)
    cand = _mask_tombstones(
        lists.filter(_in_ints("list_id", probes)).select(
            "vec_id", "embedding"
        ),
        index_dir,
    )
    return cosine_topk(cand, query_vec, k, "vec_id", "embedding",
                       round_digits=round_digits)


class IvfReader:
    """Warm IVF query handle — the vector-branch mirror of the BM25
    :class:`~oboyu_spark.operators.searchidx.IndexReader`: lists cached
    in executor memory, centroid sidecar loaded once. A per-query
    ``ivf_search`` re-reads the parquet footers and sidecar; a serving
    process should pay that once at open. Searches on the cached
    relation still prune to the probed ``list_id`` partitions (the
    in-memory scan keeps per-batch partition stats). Tombstones are
    re-read per search (a delete lands immediately); rows appended via
    ``ivf_append`` AFTER open are not visible until reopen — the same
    snapshot contract as IndexReader."""

    def __init__(self, spark, index_dir: str) -> None:
        from .dedup import _recover_swap

        _recover_swap(index_dir, "lists")
        self.spark = spark
        self.index_dir = index_dir
        self.meta = ivf_load_sidecar(index_dir)
        self.lists = spark.read.parquet(f"{index_dir}/lists").persist()

    def search(self, query_vec: Sequence[float], k: int = 10,
               nprobe: int = 4,
               round_digits: int | None = None) -> DataFrame:
        probes = _probe_lists(self.meta["centroids"], query_vec, nprobe,
                              quantize=self.meta["quantize"])
        cand = _mask_tombstones(
            self.lists.filter(_in_ints("list_id", probes)).select(
                "vec_id", "embedding"
            ),
            self.index_dir,
        )
        return cosine_topk(cand, query_vec, k, "vec_id", "embedding",
                           round_digits=round_digits)

    def close(self) -> None:
        self.lists.unpersist()


def lsh_near_pairs(
    embeddings: DataFrame,
    threshold: float = 0.9,
    bits: int = 10,
    n_tables: int = 2,
    seed: int = 42,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding near-duplicate pairs: bucket-join candidates, exact
    cosine verify ≥ threshold. (doc_a, doc_b, cosine).

    Shuffle hygiene: the band self-join carries ONLY (vec_id, table,
    bucket) — the embedding arrays are re-attached once, AFTER
    candidate dedup, by two id equi-joins (the same width fix as
    minhash_lsh_pairs). Pinned by a plan-shape test: no embedding
    column rides a (table, bucket) exchange."""
    if dim is None:
        dim = len(embeddings.select(vec_col).first()[0])
    bucketed = lsh_bucketize(embeddings, dim, bits, n_tables, seed,
                             id_col, vec_col).select("vec_id", "table", "bucket")
    a = bucketed.select(F.col("vec_id").alias("doc_a"), "table", "bucket")
    b = bucketed.select(F.col("vec_id").alias("doc_b"), "table", "bucket")
    cand = (
        a.join(b, ["table", "bucket"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    emb_a = embeddings.select(F.col(id_col).alias("doc_a"),
                              F.col(vec_col).alias("ea"))
    emb_b = embeddings.select(F.col(id_col).alias("doc_b"),
                              F.col(vec_col).alias("eb"))
    cand = cand.join(emb_a, "doc_a").join(emb_b, "doc_b")
    ea = F.col("ea").cast("array<double>")
    eb = F.col("eb").cast("array<double>")
    dot = F.aggregate(F.zip_with(ea, eb, lambda x, y: x * y), F.lit(0.0),
                      lambda acc, x: acc + x)
    cos = dot / (_norm_expr(ea) * _norm_expr(eb))
    return cand.select(
        "doc_a", "doc_b", F.round(cos, 6).alias("cosine")
    ).filter(F.col("cosine") >= threshold)
