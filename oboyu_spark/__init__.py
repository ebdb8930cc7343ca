"""oboyu_spark — a from-scratch, PySpark-native BM25 full-text engine.

Re-expresses the query/data-processing capabilities of the reference
(sonesuke/oboyu, a single-node DuckDB-backed knowledge engine) as an
idiomatic Apache Spark DataFrame pipeline:

- normalization + tokenization (reference FallbackTokenizer semantics,
  /root/reference/src/oboyu/common/services/tokenizer.py:263-302) as
  JVM expressions with a vectorized Arrow pandas-UDF parity path,
- inverted-index build (postings, vocabulary, document/collection stats)
  as declarative groupBy aggregations shuffled by term,
- delta-gap partition-local posting lists (Parquet list<int> columns,
  encoded in Spark SQL) with per-block max metadata, bucketed by
  hash(term),
- BM25 top-k scoring (k1=1.2, b=0.75, ln-IDF without +1 — the semantics
  pinned by the reference's unit tests) both as a relational plan and as
  a scatter-gather block-max-WAND scorer over the compressed index,
- result fusion (RRF / weighted / merge), filters, like-search,
- training-data pipeline ops: dedup (exact / MinHash-LSH / SimHash /
  n-gram Jaccard / embedding cosine), ANN similarity search, text
  quality analysis, multimodal column plumbing.

Everything is built on public Apache Spark APIs only.
"""

__version__ = "0.1.0"

K1_DEFAULT = 1.2  # reference: src/oboyu/indexer/algorithm/bm25_indexer.py:32
B_DEFAULT = 0.75  # reference: src/oboyu/indexer/algorithm/bm25_indexer.py:33
MIN_TOKEN_LENGTH_DEFAULT = 2  # reference: tokenizer.py:270
