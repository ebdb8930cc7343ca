"""Seeded inputs shared by every workload: corpus, sync feed, queries.

Everything derives from one ``seed``; the engine only ever sees the
materialized parquet files and the query strings.

Corpus (three slices, all keyed by ``doc_id``):

- transcript turns from ``synthesize_transcripts`` (44-word hot
  vocabulary, empty and long turns included);
- wide-vocabulary docs: ``WIDE_TERMS`` terms each, drawn from a
  ``WIDE_POOL``-term pool, so the vocabulary merge and the encode
  group count do real work;
- ``RARE_DOCS`` rare-term docs holding ``zselNN`` (df = RARE_DOCS / 20),
  the selective terms that let ``scorer="auto"`` route to block-max.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from oboyu_spark.sources.queries import generate_queries
from oboyu_spark.sources.transcripts import (
    WORDS,
    synthesize_transcripts,
    turns_as_docs,
)

N_CONVS = 150
MAX_TURNS = 20
N_WIDE = 900
WIDE_TERMS = 30
WIDE_POOL = 200_000
RARE_DOCS = 60
N_SELECTIVE = 20
WARM_SHARE = 10         # 1 in 10 docs and feed rows make the warm-up slice

# sync feed: churn confined to the newest conversations
SYNC_NEWEST_FRAC = 0.05
SYNC_EDIT_EVERY = 4     # 1 in 4 turns of a churned conversation edited
SYNC_DELETE_EVERY = 5   # 1 in 5 deleted
SYNC_NEW_CONVS = 10


def _transcript_docs(spark: SparkSession, n_convs: int, seed: int) -> DataFrame:
    tr = synthesize_transcripts(spark, n_convs=n_convs, max_turns=MAX_TURNS,
                                seed=seed)
    return turns_as_docs(tr).select(
        "doc_id", "text",
        F.substring("doc_id", 6, 8).cast("long").alias("conv_num"),
    )


def corpus_frame(spark: SparkSession, seed: int) -> DataFrame:
    """Every input row, generated in one pass so that one write
    materializes them: (doc_id, text, conv_num, change, feed_text).

    ``conv_num`` is null outside the transcript slice. ``in_corpus()``
    selects the corpus, ``(doc_id, text)``. The sync feed for one
    ``sync_docs`` round is ``(doc_id, feed_text)`` of every row whose
    ``change`` is not "deleted": the corpus rows, some edited, plus the
    new conversations that follow the corpus's last one. ``change``
    labels the count each row should produce (new, modified, deleted,
    unchanged)."""
    wide = spark.range(N_WIDE).select(
        F.format_string("wv#%07d", F.col("id")).alias("doc_id"),
        F.array_join(F.transform(
            F.sequence(F.lit(1), F.lit(WIDE_TERMS)),
            lambda j: F.concat(F.lit("w"), F.pmod(
                F.xxhash64(F.col("id"), j, F.lit(seed)), F.lit(WIDE_POOL))),
        ), " ").alias("text"),
    )
    hot = F.array(*[F.lit(w) for w in WORDS])
    rare = spark.range(RARE_DOCS).select(
        F.format_string("rare#%04d", F.col("id")).alias("doc_id"),
        F.concat_ws(
            " ",
            F.format_string("zsel%02d", F.pmod(F.col("id"), F.lit(N_SELECTIVE))),
            F.element_at(hot, (F.pmod(F.xxhash64(F.col("id"), F.lit(seed)),
                                      F.lit(len(WORDS))) + 1).cast("int")),
            F.lit("spark index search engine 検索 分散"),
        ).alias("text"),
    )
    null_conv = F.lit(None).cast("long").alias("conv_num")
    rows = _transcript_docs(spark, N_CONVS + SYNC_NEW_CONVS, seed).unionByName(
        wide.select("doc_id", "text", null_conv)
    ).unionByName(rare.select("doc_id", "text", null_conv))

    # sync churn: confined to the newest conversations of the corpus
    churn = F.col("conv_num") >= int(N_CONVS * (1 - SYNC_NEWEST_FRAC))
    h_del = F.pmod(F.xxhash64(F.col("doc_id"), F.lit(seed), F.lit(1)),
                   F.lit(SYNC_DELETE_EVERY)) == 0
    h_edit = F.pmod(F.xxhash64(F.col("doc_id"), F.lit(seed), F.lit(2)),
                    F.lit(SYNC_EDIT_EVERY)) == 0
    change = (F.when(~in_corpus(), "new")
              .when(churn & h_del, "deleted")
              .when(churn & h_edit, "modified")
              .otherwise("unchanged"))
    rows = rows.withColumn("change", change)
    return rows.withColumn(
        "feed_text",
        F.when(F.col("change") == "modified",
               F.concat(F.col("text"), F.lit(" zedit synced")))
        .when(F.col("change") == "deleted", F.lit(None).cast("string"))
        .otherwise(F.col("text")))


def in_corpus():
    """Filter for the corpus rows of ``corpus_frame``."""
    return F.col("conv_num").isNull() | (F.col("conv_num") < N_CONVS)


def warm_slice(seed: int):
    """Filter for the warm-up slice: a seeded tenth of the corpus and
    of the sync feed (new, edited and deleted rows alike)."""
    return F.pmod(F.xxhash64(F.col("doc_id"), F.lit(seed), F.lit(3)),
                  F.lit(WARM_SHARE)) == 0


def fixture_queries(seed: int) -> list[str]:
    """The 120 reference-style fixture queries (50 ja, 50 en, 20 mixed)."""
    return [q["text"] for q in generate_queries(seed=seed)]


def selective_queries(seed: int, n: int) -> list[str]:
    """One rare zselNN term plus hot transcript words."""
    rng = random.Random(seed * 7 + 1)
    en = [w for w in WORDS if w.isascii()]
    return [
        f"zsel{i % N_SELECTIVE:02d} " + " ".join(rng.sample(en, 2))
        for i in range(n)
    ]


def wide_query_doc_ids(seed: int, n: int = 60) -> list[str]:
    """The wide-vocabulary docs the wide queries are taken from."""
    rng = random.Random(seed * 7 + 2)
    return [f"wv#{i:07d}" for i in rng.sample(range(N_WIDE), n)]


def wide_queries(seed: int, wide_texts: list[str]) -> list[str]:
    """Two terms from each given wide-vocabulary doc, so each query
    matches at least that doc."""
    rng = random.Random(seed * 7 + 2)
    return [" ".join(rng.sample(text.split(), 2)) for text in wide_texts]


def serve_pool(seed: int, wide_texts: list[str]) -> list[str]:
    """200 queries in popularity order (rank 0 most popular): 120
    fixture, 20 selective and 60 wide-vocabulary queries (one per text
    given), shuffled."""
    pool = (fixture_queries(seed) + selective_queries(seed, 20)
            + wide_queries(seed, wide_texts))
    random.Random(seed * 7 + 3).shuffle(pool)
    return pool


def zipf_stream(pool: list[str], n: int, seed: int) -> list[str]:
    """``n`` requests drawn from ``pool`` by Zipf's law: the query of
    popularity rank r has weight 1/r. The exponent is the law's own (1),
    not a fit: no query log is at hand to fit one to."""
    weights = [1.0 / (r + 1) for r in range(len(pool))]
    return random.Random(seed * 7 + 4).choices(pool, weights=weights, k=n)


def batch_queries(seed: int) -> list[str]:
    """120-query mixed batch: half selective, half hot fixture queries."""
    hot = fixture_queries(seed)
    random.Random(seed * 7 + 5).shuffle(hot)
    return selective_queries(seed, 60) + hot[:60]
