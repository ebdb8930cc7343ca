"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-
insensitive value-hash → CORRECTNESS_r{N}.json).

Engine: oboyu_spark — a from-scratch PySpark-native rebuild of the
reference's BM25 full-text path (see SURVEY.md §2 for the operator
inventory each entry maps to). Float outputs are rounded to 6 decimals
on BOTH sides so cross-engine libm noise cannot break value hashes.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from oboyu_spark.operators import bm25 as B
from oboyu_spark.operators import termindex as TI
from oboyu_spark.plans import oracle_sql as O
from oboyu_spark.sources.transcripts import transcripts_from_documents, turns_as_docs

ROUND = O.ROUND


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


# ---------------------------------------------------------------------------
# Spark-side query callables (SURVEY §2 operator → entry)
# ---------------------------------------------------------------------------

def _q_term_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    # T1+T4: tokenize + term-frequency (explode + hash aggregate)
    return TI.term_frequencies(_docs(spark, sf_dir))


def _q_document_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # A1+A6: per-doc length / unique terms / avg tf
    ds = TI.document_stats(TI.term_frequencies(_docs(spark, sf_dir)))
    return ds.select(
        "doc_id",
        "total_terms",
        "unique_terms",
        F.round("avg_term_frequency", ROUND).alias("avg_term_frequency"),
    )


def _q_vocabulary(spark: SparkSession, sf_dir: str) -> DataFrame:
    # A2+A3: document/collection frequency per term
    return TI.vocabulary(TI.term_frequencies(_docs(spark, sf_dir)))


def _q_collection_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # A4: collection totals (N counts token-empty docs too)
    docs = _docs(spark, sf_dir)
    cs = TI.collection_stats(docs, TI.document_stats(TI.term_frequencies(docs)))
    return cs.select(
        "total_documents",
        "total_terms",
        F.round("avg_document_length", ROUND).alias("avg_document_length"),
    )


def _q_idf_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    # A5: ln-IDF per vocabulary term
    docs = _docs(spark, sf_dir)
    tf = TI.term_frequencies(docs)
    idf = TI.idf_scores(
        TI.vocabulary(tf), TI.collection_stats(docs, TI.document_stats(tf))
    )
    return idf.select("term", F.round("idf", ROUND).alias("idf"))


BM25_Q1 = "spark query join table"
BM25_Q2 = "customer order group stream"
LIKE_TERMS = ["fast", "table"]

# r5 driver-cap retirements (VERDICT r4 #1 — the driver records at most
# 50 entries): bm25_topk_2 / bm25_topk_dup_terms (same code path as
# bm25_topk; dup-term list semantics stay pinned by tests/test_bm25.py),
# simhash + simhash_near_pairs (subsumed by simhash64, whose lo half IS
# simhash(bits=32); 32-bit pairs stay pinned by tests/test_dedup.py),
# chunk_documents (rows-only free-text variant; reference parity pinned
# by tests/test_chunker.py, exact sibling chunk_documents_fixed stays).
# r6 rotations (VERDICT r5 #2): minhash_signatures retired (exercised
# inside minhash_lsh_pairs / minhash_incremental_pairs; pinned by
# tests/test_dedup.py) and simhash64
# retired (recomputed inside simhash64_near_pairs; pinned by
# tests/test_dedup.py) to free slots for sampled_docs and
# packed_sequences — the two operators that previously sat outside the
# hard signal.
# r7 rotations (VERDICT r6 #1): retired transcripts_bm25 (the same
# full-corpus scoring path runs inside transcripts_role_bm25 before
# its pre-limit role filter; plain-topk parity stays pinned by
# tests/test_transcripts.py + test_bm25.py), lsh_ann_topk (identical
# code path to lsh_ann_multiprobe with multi_probe=0; exact twin stays
# in oracle_sql + tests/test_similarity.py), and minhash_lsh_pairs
# (recomputed verbatim — same source, same params — inside
# near_dup_components and the prepared_docs family; twin stays in
# oracle_sql + tests/test_dedup.py). Freed slots go to the three
# r6-continuation operators that sat outside the hard signal:
# drop_duplicated_spans, repetition_stats, pii_stats.


def _q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Q1-Q5: full BM25 top-k pipeline
    return B.bm25_search(_docs(spark, sf_dir), BM25_Q1, k=20, round_digits=ROUND)


def _q_bm25_topk_conjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    # north rule: posting-list intersection (AND semantics)
    return B.bm25_search(
        _docs(spark, sf_dir), BM25_Q1, k=20, round_digits=ROUND, mode="and"
    )


def _q_bm25_topk_lucene_idf(spark: SparkSession, sf_dir: str) -> DataFrame:
    # SURVEY §0.1 impl (2): the reference's SQL-spec IDF variant
    return B.bm25_search(
        _docs(spark, sf_dir), BM25_Q2, k=20, round_digits=ROUND,
        idf_variant="lucene_log10",
    )


_ENTRY_INDEX_CACHE: dict[str, str] = {}


def _entry_index(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per process per sf_dir) a compressed index over the
    documents table in a temp dir shared by the bm25_indexed_* entries;
    cleaned up at process exit."""
    if sf_dir not in _ENTRY_INDEX_CACHE:
        import atexit
        import shutil
        import tempfile

        from oboyu_spark.operators.postings import build_index

        docs = _docs(spark, sf_dir).select(
            F.col("doc_id").cast("string").alias("doc_id"), "text"
        )
        d = tempfile.mkdtemp(prefix="oboyu_entry_idx_")
        atexit.register(shutil.rmtree, d, ignore_errors=True)
        build_index(docs, d, shard_size=200, salt_chunk=5000,
                    shards_per_part=4)
        _ENTRY_INDEX_CACHE[sf_dir] = d
    return _ENTRY_INDEX_CACHE[sf_dir]


def _q_bm25_indexed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The COMPRESSED-INDEX engine under the driver's exact-oracle gate:
    # full build (staging → term shuffle → list encode → shards) into
    # a temp dir, scatter-gather TAAT search over it, compared against
    # the same relational BM25 SQL as bm25_topk. k=40 prefetch, then
    # the shared rounded-score top-20 cut (boundary ties break on the
    # ROUNDED score both sides — the repo-wide oracle contract).
    from oboyu_spark.operators.searchidx import search_index

    d = _entry_index(spark, sf_dir)
    res = search_index(spark, d, BM25_Q1, k=40).select(
        F.col("doc_id").cast("long").alias("doc_id"), "score"
    )
    return B.topk(res, 20, round_digits=ROUND)


def _q_bm25_indexed_conjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the index engine's posting-list INTERSECTION path (mode="and",
    # per-doc matched-term counting inside the TAAT accumulator) vs the
    # relational AND-mode SQL oracle
    from oboyu_spark.operators.searchidx import search_index

    d = _entry_index(spark, sf_dir)
    res = search_index(spark, d, BM25_Q1, k=40, mode="and").select(
        F.col("doc_id").cast("long").alias("doc_id"), "score"
    )
    return B.topk(res, 20, round_digits=ROUND)


def _q_bm25_hydrated(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Q10: hydrate top-k back to document content
    docs = _docs(spark, sf_dir)
    top = B.bm25_search(docs, BM25_Q1, k=10, round_digits=ROUND)
    return B.hydrate(top, docs, ["text", "lang"])


def _q_reranked_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Cross-encoder rerank pipeline (reference reranker.py /
    # search_orchestrator.py:76-95): BM25-prefetch limit×2, hydrate,
    # score pairs with the deterministic hashing backend, top-limit by
    # rerank score — exact-oracle checked end-to-end
    from oboyu_spark.operators.rerank import rerank_search

    return rerank_search(_docs(spark, sf_dir), BM25_Q1, limit=10,
                         multiplier=2, round_digits=ROUND)


def _q_like_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Q7: reference's shipping LIKE-fallback search
    return B.like_search(_docs(spark, sf_dir), LIKE_TERMS, k=20)


def _turn_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents reshaped to transcript turns (north-rule input shape)."""
    return turns_as_docs(transcripts_from_documents(_docs(spark, sf_dir)))


def _q_transcripts_role_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Q8: role filter applied pre-limit over full-corpus scores
    from oboyu_spark.functions.text import py_tokenize

    docs = _turn_docs(spark, sf_dir)
    terms = py_tokenize(BM25_Q2)
    tf = TI.term_frequencies(docs)
    ds = TI.document_stats(tf)
    scores = B.bm25_scores(
        tf, TI.vocabulary(tf), ds, TI.collection_stats(docs, ds), terms
    )
    filtered = scores.join(docs.select("doc_id", "role"), "doc_id").filter(
        F.col("role") == "user"
    )
    return B.topk(filtered.select("doc_id", "score"), 20, round_digits=ROUND)


DATE_START, DATE_END = "2025-01-01 01:00:00", "2025-01-01 05:00:00"


def _q_transcripts_date_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Q9: date-range filter + per-role rollup
    td = _turn_docs(spark, sf_dir)
    return (
        td.filter(
            (F.col("ts") >= F.lit(DATE_START).cast("timestamp"))
            & (F.col("ts") < F.lit(DATE_END).cast("timestamp"))
        )
        .groupBy("role")
        .agg(F.count(F.lit(1)).cast("long").alias("n_turns"))
    )


# ---------------------------------------------------------------------------
# Training-data ops (textstats / dedup / similarity / fusion / chunker)
# ---------------------------------------------------------------------------

QVEC = [((i * 37) % 19 - 9) / 10.0 for i in range(64)]
RRF_QA, RRF_QB = BM25_Q1, BM25_Q2


def _dupdocs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents with injected exact duplicates (SQL twin: DUPDOCS_CTE)."""
    docs = _docs(spark, sf_dir)
    dups = docs.filter(F.pmod(F.col("doc_id"), F.lit(7)) == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    return docs.select("doc_id", "text").unionByName(dups)


def _q_drop_duplicated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    # exact span dedup (Lee et al. 2022) over the dupdocs corpus: the
    # injected exact duplicates guarantee corpus-repeated 10-token
    # spans (and the synthetic text repeats phrases naturally); the
    # aggregation-shaped drop path (VERDICT r6 #2) is compared against
    # a rank-window DuckDB twin — proving the de-skewed plan computes
    # the identical first-occurrence semantics
    from oboyu_spark.operators.dedup import drop_duplicated_spans

    return drop_duplicated_spans(_dupdocs(spark, sf_dir), n=10)


def _q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Gopher-style repetition lens: dup-line / dup-line-char / top-
    # bigram fractions as pure column expressions — exact DuckDB twin
    from oboyu_spark.operators.textstats import repetition_stats

    return repetition_stats(_docs(spark, sf_dir))


# planted PII rows (ids clear of the corpus and dupdocs ranges): the
# sf documents contain no emails/cards, so the entry unions in rows
# that exercise every kind — including a Luhn-INVALID 16-digit run
# that must survive unmasked — identically on both sides
PII_ROWS = [
    (2000001, "contact jane.doe+x@example.co.jp or call 555-123-4567"),
    (2000002, "server 10.0.255.3 mirrors 192.168.1.1 intl +81345678901"),
    (2000003, "ssn 123-45-6789 and card 4111111111111111 on file"),
    (2000004, "pay 4111-1111-1111-1111 or 378282246310005 "
              "not 1234567890123456"),
]


# the same union as a DuckDB FROM-able source (ids cast to BIGINT so
# both engines agree on the id type)
_PII_SOURCE = (
    "(SELECT doc_id::BIGINT AS doc_id, text FROM documents UNION ALL "
    "SELECT * FROM (VALUES "
    + ", ".join(f"({i}::BIGINT, '{t}')" for i, t in PII_ROWS)
    + ") v(doc_id, text))"
)


def _q_pii_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # PII lens: per-kind regex counts + Luhn-CHECKED credit-card count
    # + fully redacted text (the checksum runs as identical aggregate
    # arithmetic in both engines)
    from oboyu_spark.operators.textstats import pii_stats

    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    planted = spark.createDataFrame(PII_ROWS, "doc_id long, text string")
    return pii_stats(docs.unionByName(planted))


def _q_text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from oboyu_spark.operators.textstats import text_profile

    return text_profile(_docs(spark, sf_dir))


def _q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    # corpus-self-trained unigram LM quality signal (model-free
    # perplexity proxy) — fully relational, exact DuckDB twin
    from oboyu_spark.operators.textstats import unigram_logprob_scores

    return unigram_logprob_scores(_docs(spark, sf_dir), round_digits=ROUND)


def _q_top_terms_per_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    # tf-idf keyword extraction per doc (engine ln-IDF, rounded-rank
    # tie-break) — exact DuckDB twin
    from oboyu_spark.operators.textstats import top_terms_per_doc

    return top_terms_per_doc(_docs(spark, sf_dir), k=5, round_digits=ROUND)


def _q_discovered_stopwords(spark: SparkSession, sf_dir: str) -> DataFrame:
    # corpus-derived stopword discovery (df-ratio threshold) — feeds
    # term_frequencies(stop_words=...) / the index build
    from oboyu_spark.operators.textstats import discover_stopwords

    return discover_stopwords(_docs(spark, sf_dir), max_df_ratio=0.3,
                              round_digits=ROUND)


def _q_sessionized_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    # gap-based sessionization (one shuffle, partition-local windows)
    # over the events table; per-session rollup with epoch-second
    # boundaries so the hash is float-free
    from oboyu_spark.operators.sessionize import sessionize_turns

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    s = sessionize_turns(ev, gap_minutes=30, conv_col="user_id",
                         ts_col="ts", tiebreak_col="event_id")
    return s.groupBy("user_id", "session_idx").agg(
        F.count(F.lit(1)).cast("long").alias("n_turns"),
        F.min("ts").cast("timestamp").cast("long").alias("started_s"),
        F.max("ts").cast("timestamp").cast("long").alias("ended_s"),
    )


def _q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # token counting three ways: engine tokens / whitespace words /
    # BPE-ish subword estimate — all codegen'd column expressions
    from oboyu_spark.operators.textstats import (
        bpeish_token_count, token_count, word_count,
    )

    docs = _docs(spark, sf_dir)
    c = F.col("text")
    return docs.select(
        "doc_id",
        token_count(c).alias("n_tokens"),
        word_count(c).alias("n_words"),
        bpeish_token_count(c).alias("n_bpeish"),
    )


def _q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    # rolling-hash (winnowing) document fingerprints — relational plan,
    # exact DuckDB twin
    from oboyu_spark.operators.dedup import winnowing_fingerprints

    return winnowing_fingerprints(_docs(spark, sf_dir), k=8, window=4)


def _q_winnow_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # winnowing near-pair detection (local-overlap lens): candidates
    # from a df-capped fingerprint equi-join, common/overlap computed
    # exactly over the candidates' full fingerprint sets — exact DuckDB
    # twin end-to-end (md5 mode)
    from oboyu_spark.operators.dedup import winnow_near_pairs

    return winnow_near_pairs(_docs(spark, sf_dir), k=8, window=4,
                             min_common=20, max_fp_df=20)


def _q_exact_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from oboyu_spark.operators.dedup import exact_dup_groups

    return exact_dup_groups(_dupdocs(spark, sf_dir))


def _q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from oboyu_spark.operators.dedup import ngram_jaccard_pairs

    # max_shingle_df=None: the DuckDB oracle is an exhaustive shingle
    # self-join, so the oracle-checked path must opt out of the
    # recall-capping hot-shingle guard (the engine default) — at a
    # larger sf any shingle with df > cap would make the engine miss
    # pairs the oracle finds. The capped path is exercised by pytest.
    return ngram_jaccard_pairs(_docs(spark, sf_dir), n=3, threshold=0.2,
                               max_shingle_df=None)


def _q_sampled_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # deterministic md5-gate sampling (VERDICT r5 #2 rotation): the
    # sampled SET is an exact DuckDB twin by construction — membership
    # is a pure function of (doc_id, salt, seed, fraction)
    from oboyu_spark.operators.sampling import deterministic_sample

    return deterministic_sample(_docs(spark, sf_dir), 0.25, seed=9) \
        .select("doc_id", "text", "lang")


def _q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from oboyu_spark.operators.similarity import cosine_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return cosine_topk(emb, QVEC, k=20, round_digits=ROUND)


def _q_hybrid_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # reference DEFAULT mode (search_engine.py:87-112): BM25 branch +
    # vector-cosine branch → RRF; embeddings.vec_id aligns with doc_id
    from oboyu_spark.operators.hybrid import hybrid_search

    docs = _docs(spark, sf_dir)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return hybrid_search(docs, emb, BM25_Q1, QVEC, k_each=20, limit=10,
                         round_digits=ROUND)


def _q_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from oboyu_spark.operators.fusion import rrf_fuse

    docs = _docs(spark, sf_dir)
    a = B.bm25_search(docs, RRF_QA, k=20, round_digits=ROUND)
    b = B.bm25_search(docs, RRF_QB, k=20, round_digits=ROUND)
    fused = rrf_fuse(a, b, limit=10)
    return fused.select("doc_id", F.round("score", ROUND).alias("score"))


def _q_packed_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    # sequence packing, concat-and-split mode (VERDICT r5 #2 rotation):
    # ONE window cumsum per md5-hashed bucket; every doc's
    # (seq_first, seq_last, offset) is arithmetic on its cumulative
    # span — exact SQL twin
    from oboyu_spark.operators.packing import pack_sequences

    return pack_sequences(_docs(spark, sf_dir), budget=256, n_buckets=8,
                          bucket_hash_mode="md5")


def _q_simhash64_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # banded (pigeonhole) 64-bit near-pairs vs an exhaustive O(n²)
    # oracle. max_bucket_df defaults to None since r6 (ADVICE r5 #3:
    # exhaustive pigeonhole recall is the operator's contract; the
    # scale cap is opted into at the pipeline layer), so the default
    # call matches the oracle at ANY sf; the cap's semantics stay
    # pinned by test_simhash_hot_bucket_cap.
    from oboyu_spark.operators.dedup import simhash64_near_pairs

    return simhash64_near_pairs(_docs(spark, sf_dir), max_hamming=8)


def _q_weighted_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    # H2: min-max-normalized weighted fusion; cut on ROUNDED scores so
    # the boundary matches the oracle bit-for-bit
    from oboyu_spark.operators.fusion import normalize_scores, weighted_fuse

    docs = _docs(spark, sf_dir)
    a = B.bm25_search(docs, RRF_QA, k=20, round_digits=ROUND)
    b = B.bm25_search(docs, RRF_QB, k=20, round_digits=ROUND)
    fused = weighted_fuse(
        normalize_scores(a), normalize_scores(b), 0.7, 0.3, limit=1000
    )
    return (
        fused.select("doc_id", F.round("score", ROUND).alias("score"))
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(10)
    )


def _q_embedding_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # embedding-cosine near-dup: LSH-bucketed candidates + exact cosine
    # verify (integer-quantized buckets → exact DuckDB oracle)
    from oboyu_spark.operators.similarity import lsh_near_pairs

    # threshold tuned to the synthetic embeddings (max pairwise cosine
    # ≈ 0.51 at sf0.01 — near-random vectors), so the entry exercises
    # both the bucket join and the exact verify with non-empty output
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return lsh_near_pairs(emb, threshold=0.3, bits=6, n_tables=8)


def _q_chunk_documents_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fixed-stride relational chunker (no snapping, no UDF) — the
    # exact-oracle member of the chunker family; the free-text snapping
    # variant (chunk_documents) stays reference-pinned by pytest
    from oboyu_spark.operators.chunker import chunk_documents_fixed

    return chunk_documents_fixed(_docs(spark, sf_dir), chunk_size=300,
                                 chunk_overlap=75)


def _q_prepared_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Composed corpus-preparation pipeline over the dupdocs source:
    # exact dedup → MinHash+LSH near dedup (keep-lowest-id) → quality
    # filter — exact-oracle checked end-to-end, stage order and all
    # (pipeline.prepare_corpus; SQL twin prepared_docs_sql)
    from oboyu_spark.operators.pipeline import prepare_corpus
    from oboyu_spark.operators.textstats import fingerprint_md5, quality_score

    r = prepare_corpus(_dupdocs(spark, sf_dir), exact=True,
                       near_threshold=0.5, near_num_perm=16, near_bands=8,
                       min_quality=0.5, chunk_size=None)
    return r["docs"].select(
        "doc_id",
        fingerprint_md5(F.col("text")).alias("fingerprint"),
        quality_score(F.col("text")).alias("quality"),
    )


def _q_prepared_docs_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the composed pipeline under the connected-components near-dedup
    # policy (one min-id representative per cluster) — exact-oracle
    # checked end-to-end incl. the RECURSIVE-CTE component computation
    from oboyu_spark.operators.pipeline import prepare_corpus
    from oboyu_spark.operators.textstats import fingerprint_md5, quality_score

    r = prepare_corpus(_dupdocs(spark, sf_dir), exact=True,
                       near_threshold=0.5, near_num_perm=16, near_bands=8,
                       near_policy="components", min_quality=0.5,
                       chunk_size=None)
    return r["docs"].select(
        "doc_id",
        fingerprint_md5(F.col("text")).alias("fingerprint"),
        quality_score(F.col("text")).alias("quality"),
    )


def _q_prepared_docs_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the composed pipeline with the WINNOW near-dedup method (local
    # shared-run lens, containment overlap) — exact-oracle end-to-end
    from oboyu_spark.operators.pipeline import prepare_corpus
    from oboyu_spark.operators.textstats import fingerprint_md5, quality_score

    r = prepare_corpus(_dupdocs(spark, sf_dir), exact=True,
                       near_threshold=0.3, near_method="winnow",
                       near_winnow_max_fp_df=20, min_quality=0.5,
                       chunk_size=None)
    return r["docs"].select(
        "doc_id",
        fingerprint_md5(F.col("text")).alias("fingerprint"),
        quality_score(F.col("text")).alias("quality"),
    )


def _q_prepared_docs_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the pipeline's LANGUAGE stage under the exact-oracle gate
    # (VERDICT r4 #5): exact dedup → quality → langs=("en",), with the
    # language_id value itself emitted so the heuristic is hash-checked
    from oboyu_spark.operators.pipeline import prepare_corpus
    from oboyu_spark.operators.textstats import (
        fingerprint_md5, language_id, quality_score,
    )

    r = prepare_corpus(_dupdocs(spark, sf_dir), exact=True,
                       near_threshold=None, min_quality=0.5,
                       langs=("en",), chunk_size=None)
    return r["docs"].select(
        "doc_id",
        fingerprint_md5(F.col("text")).alias("fingerprint"),
        language_id(F.col("text")).alias("lang"),
        quality_score(F.col("text")).alias("quality"),
    )


def _q_minhash_incremental_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # incremental near-dup maintenance: persisted MinHash band index
    # over documents, then ONE batch (the planted +1000000 duplicates)
    # appended and band-joined against it — O(batch) per refresh. The
    # oracle is the full-recompute pair SQL over dupdocs restricted to
    # pairs touching the batch (pinned equivalent by construction).
    import atexit
    import shutil
    import tempfile

    from oboyu_spark.operators.dedup import (
        minhash_index_build, minhash_index_append_pairs,
    )

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    batch = docs.filter(F.pmod(F.col("doc_id"), F.lit(7)) == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    d = tempfile.mkdtemp(prefix="oboyu_entry_mh_")
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    minhash_index_build(docs, d, num_perm=16, bands=8)
    return minhash_index_append_pairs(batch, d, threshold=0.5)


def _q_near_dup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    # connected components (iterative min-label propagation, plain
    # DataFrame self-joins) over the MinHash+LSH pair graph — the
    # cluster-level near-dedup policy behind
    # prepare_corpus(near_policy="components"); exact-oracle checked
    # against a DuckDB RECURSIVE-CTE transitive closure
    from oboyu_spark.operators.dedup import (
        connected_components, minhash_lsh_pairs,
    )

    pairs = minhash_lsh_pairs(_dupdocs(spark, sf_dir), num_perm=16,
                              bands=8, threshold=0.5)
    return connected_components(pairs)


def _q_lsh_ann_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    # integer-quantized sign-LSH buckets are bit-identical in DuckDB →
    # exact oracle; the multi-probe path subsumes plain lsh_ann_topk
    # (multi_probe=0 — retired r7, pinned by tests/test_similarity.py)
    # multi-probe LSH (Lv et al. 2007): smallest-margin neighbor-bucket
    # flips buy extra recall at zero index cost; probe set is exact
    # integer arithmetic → same exact-oracle story as lsh_ann_topk
    from oboyu_spark.operators.similarity import lsh_ann_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return lsh_ann_topk(emb, QVEC, k=10, bits=8, n_tables=2,
                        multi_probe=3, round_digits=ROUND)


def _q_ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # IVF ANN over the seeded integer coarse quantizer with quantized
    # (exact-integer) assignment — bit-identical candidate set in
    # DuckDB, so this entry is exact-oracle checked end-to-end
    # (assignment → probe filter → exact cosine top-k). The
    # data-TRAINED k-means quantizer (the quality path) is verified by
    # recall + partition-pruning pytest instead (test_similarity).
    from oboyu_spark.operators.similarity import ivf_seeded_centroids, ivf_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cent = ivf_seeded_centroids(len(QVEC), n_lists=8, seed=42)
    return ivf_topk(emb, QVEC, k=10, n_lists=8, nprobe=3,
                    centroids=cent, quantize=True, round_digits=ROUND)


def _q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Arrow mapInPandas feature extraction, projected to one hashable
    # (asset_id, kind, dim_idx, value) row per dimension — exact-oracle
    # checked (values are k/128−1, bit-identical in DuckDB)
    from oboyu_spark.operators.multimodal import feature_rows, synthesize_assets

    return feature_rows(synthesize_assets(spark, n=100), dim=16)


def _q_embed_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # embedding generation (mapInPandas iterator contract, per-worker
    # backend init) — deterministic hashing backend, exploded to
    # driver-hashable rows with an exact md5-derived DuckDB oracle
    from oboyu_spark.operators.embed import embedding_rows

    return embedding_rows(_docs(spark, sf_dir), dim=8)


def _q_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # A7: database-statistics rollup
    from oboyu_spark.operators.termindex import corpus_stats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return corpus_stats(docs, group_col="lang")


def _q_path_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Q9: include/exclude glob path filters (on the source column)
    from oboyu_spark.operators.filters import apply_filters

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return apply_filters(
        docs, path_col="source", include=["src*"], exclude=["src0"]
    ).select("doc_id", "source")


def _q_snippets(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Q11: snippets + highlighting over hydrated top-k (exact DuckDB
    # oracle: full SQL twin of the density window — snippets_sql)
    from oboyu_spark.functions.text import py_tokenize
    from oboyu_spark.operators.snippets import with_snippets

    docs = _docs(spark, sf_dir)
    top = B.bm25_search(docs, BM25_Q1, k=10, round_digits=ROUND)
    hydrated = B.hydrate(top, docs, ["text"])
    return with_snippets(hydrated, py_tokenize(BM25_Q1)).select(
        "doc_id", "score", "snippet"
    )


# ---------------------------------------------------------------------------
# Contract surface
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: hydrated BM25 top-k over sf0.001 documents."""
    sf_dir = "/root/testdata/sf0.001"
    docs = _docs(spark, sf_dir)
    top = B.bm25_search(docs, BM25_Q1, k=10, round_digits=ROUND)
    return B.hydrate(top, docs, ["text", "lang"])


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # exactly 50 entries — the driver records at most 50 (VERDICT r4
    # #1: the r4 artifact silently truncated a 54-entry dict); every
    # operator keeps exactly one covering entry, and the four entries
    # that fell out of the r4 artifact (embed_docs, corpus_stats,
    # path_filtered, snippets) sit mid-dict, not at the tail
    return {
        "term_frequencies": _q_term_frequencies,
        "document_stats": _q_document_stats,
        "vocabulary": _q_vocabulary,
        "collection_stats": _q_collection_stats,
        "idf_scores": _q_idf_scores,
        "bm25_topk": _q_bm25_topk,
        "bm25_topk_conjunctive": _q_bm25_topk_conjunctive,
        "bm25_topk_lucene_idf": _q_bm25_topk_lucene_idf,
        "bm25_indexed_topk": _q_bm25_indexed_topk,
        "bm25_indexed_conjunctive": _q_bm25_indexed_conjunctive,
        "bm25_hydrated": _q_bm25_hydrated,
        "reranked_topk": _q_reranked_topk,
        "like_search": _q_like_search,
        "transcripts_role_bm25": _q_transcripts_role_bm25,
        "transcripts_date_range": _q_transcripts_date_range,
        "path_filtered": _q_path_filtered,
        "snippets": _q_snippets,
        "corpus_stats": _q_corpus_stats,
        "text_profile": _q_text_profile,
        "repetition_stats": _q_repetition_stats,
        "pii_stats": _q_pii_stats,
        "drop_duplicated_spans": _q_drop_duplicated_spans,
        "token_counts": _q_token_counts,
        "unigram_logprob": _q_unigram_logprob,
        "top_terms_per_doc": _q_top_terms_per_doc,
        "discovered_stopwords": _q_discovered_stopwords,
        "sessionized_events": _q_sessionized_events,
        "winnow_fingerprints": _q_winnow_fingerprints,
        "winnow_near_pairs": _q_winnow_near_pairs,
        "exact_dup_groups": _q_exact_dup_groups,
        "ngram_jaccard_pairs": _q_ngram_jaccard,
        "sampled_docs": _q_sampled_docs,
        "packed_sequences": _q_packed_sequences,
        "simhash64_near_pairs": _q_simhash64_near_pairs,
        "embed_docs": _q_embed_docs,
        "weighted_fusion": _q_weighted_fusion,
        "embedding_near_pairs": _q_embedding_near_pairs,
        "cosine_topk": _q_cosine_topk,
        "rrf_fusion": _q_rrf_fusion,
        "hybrid_topk": _q_hybrid_topk,
        "chunk_documents_fixed": _q_chunk_documents_fixed,
        "minhash_incremental_pairs": _q_minhash_incremental_pairs,
        "near_dup_components": _q_near_dup_components,
        "prepared_docs": _q_prepared_docs,
        "prepared_docs_components": _q_prepared_docs_components,
        "prepared_docs_winnow": _q_prepared_docs_winnow,
        "prepared_docs_lang": _q_prepared_docs_lang,
        "lsh_ann_multiprobe": _q_lsh_ann_multiprobe,
        "ivf_ann_topk": _q_ivf_ann_topk,
        "multimodal_features": _q_multimodal_features,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "term_frequencies": O.term_frequencies_sql(),
        "document_stats": O.document_stats_sql(),
        "vocabulary": O.vocabulary_sql(),
        "collection_stats": O.collection_stats_sql(),
        "idf_scores": O.idf_scores_sql(),
        "bm25_topk": O.bm25_topk_sql(BM25_Q1, k=20),
        "bm25_topk_conjunctive": O.bm25_topk_sql(BM25_Q1, k=20, mode="and"),
        "bm25_topk_lucene_idf": O.bm25_topk_sql(
            BM25_Q2, k=20, idf_variant="lucene_log10"
        ),
        "bm25_indexed_topk": O.bm25_topk_sql(BM25_Q1, k=20),
        "bm25_indexed_conjunctive": O.bm25_topk_sql(BM25_Q1, k=20,
                                                    mode="and"),
        "bm25_hydrated": f"""
WITH top AS ({O.bm25_topk_sql(BM25_Q1, k=10)})
SELECT d.doc_id, top.score, d.text, d.lang
FROM documents d JOIN top ON d.doc_id = top.doc_id""",
        "like_search": O.like_search_sql(LIKE_TERMS, k=20),
        "transcripts_role_bm25": O.transcripts_role_filter_bm25_sql(
            BM25_Q2, "user", k=20
        ),
        "transcripts_date_range": O.transcripts_date_range_sql(DATE_START, DATE_END),
        "text_profile": O.text_profile_sql(),
        "repetition_stats": O.repetition_stats_sql(),
        "pii_stats": O.pii_stats_sql(table=_PII_SOURCE),
        "drop_duplicated_spans": O.drop_duplicated_spans_sql(n=10),
        "token_counts": O.token_counts_sql(),
        "unigram_logprob": O.unigram_logprob_sql(),
        "top_terms_per_doc": O.top_terms_per_doc_sql(k=5),
        "discovered_stopwords": O.discover_stopwords_sql(max_df_ratio=0.3),
        "sessionized_events": O.sessionized_events_sql(gap_minutes=30),
        "winnow_fingerprints": O.winnow_fingerprints_sql(k=8, window=4),
        "chunk_documents_fixed": O.chunk_documents_fixed_sql(
            chunk_size=300, chunk_overlap=75
        ),
        "winnow_near_pairs": O.winnow_near_pairs_sql(k=8, window=4,
                                                     min_common=20,
                                                     max_fp_df=20),
        "exact_dup_groups": O.exact_dup_groups_sql(),
        "ngram_jaccard_pairs": O.ngram_jaccard_pairs_sql(threshold=0.2),
        "sampled_docs": O.deterministic_sample_sql(0.25, seed=9),
        "packed_sequences": O.pack_sequences_split_sql(budget=256,
                                                       n_buckets=8),
        "simhash64_near_pairs": O.simhash64_near_pairs_sql(max_hamming=8),
        "weighted_fusion": O.weighted_fusion_sql(RRF_QA, RRF_QB, k=20,
                                                 limit=10),
        "cosine_topk": O.cosine_topk_sql(QVEC, k=20),
        "multimodal_features": O.multimodal_features_sql(n=100, dim=16),
        "rrf_fusion": O.rrf_fusion_sql(RRF_QA, RRF_QB, k=20, limit=10),
        "hybrid_topk": O.hybrid_topk_sql(BM25_Q1, QVEC, k_each=20, limit=10),
        "snippets": O.snippets_sql(BM25_Q1, k=10),
        "lsh_ann_multiprobe": O.lsh_ann_topk_sql(QVEC, k=10, bits=8,
                                                 n_tables=2, multi_probe=3),
        "ivf_ann_topk": O.ivf_ann_topk_sql(QVEC, k=10, n_lists=8,
                                           nprobe=3, seed=42),
        "reranked_topk": O.reranked_topk_sql(BM25_Q1, limit=10,
                                             multiplier=2),
        "prepared_docs": O.prepared_docs_sql(num_perm=16, bands=8,
                                             threshold=0.5, min_quality=0.5),
        "prepared_docs_components": O.prepared_docs_components_sql(
            num_perm=16, bands=8, threshold=0.5, min_quality=0.5
        ),
        "prepared_docs_winnow": O.prepared_docs_winnow_sql(
            threshold=0.3, max_fp_df=20, min_quality=0.5
        ),
        "prepared_docs_lang": O.prepared_docs_lang_sql(min_quality=0.5,
                                                       langs=("en",)),
        "embedding_near_pairs": O.lsh_near_pairs_sql(
            threshold=0.3, bits=6, n_tables=8, dim=len(QVEC)
        ),
        "minhash_incremental_pairs": f"""
WITH q AS ({O.minhash_lsh_pairs_sql(num_perm=16, bands=8, threshold=0.5)})
SELECT * FROM q WHERE doc_a >= 1000000 OR doc_b >= 1000000""",
        "near_dup_components": O.near_dup_components_sql(
            num_perm=16, bands=8, threshold=0.5
        ),
        "embed_docs": O.embedding_rows_sql(dim=8),
        "corpus_stats": """
SELECT count(*)::BIGINT AS n_rows,
       count(DISTINCT doc_id)::BIGINT AS n_docs,
       array_to_string(list_sort(list(DISTINCT lang)), ',') AS groups
FROM documents""",
        "path_filtered": """
SELECT doc_id, source FROM documents
WHERE regexp_matches(source, '^src.*$')
  AND NOT regexp_matches(source, '^src0$')""",
    }
