"""DuckDB oracle SQL builders — the relational specification of every
engine operator, runnable by the driver's DuckDB harness on the same
parquet tables.

These are the ANSI-SQL equivalents the driver compares against
(CORRECTNESS_r{N}.json). They re-state the reference's SQL
specification (consolidated_queries.py:365-425) with the ln-IDF variant
actually pinned by the reference's unit tests (SURVEY §0.1), and with
tokenization spelled in RE2 for DuckDB's regexp_extract_all.

Float columns are rounded to 6 decimals on BOTH sides (engine + oracle)
so cross-engine libm 1-ulp noise can't break the driver's value-hash.
"""

from __future__ import annotations

from collections import Counter

from ..functions.text import DUCKDB_TOKEN_PATTERN, MIN_TOKEN_LENGTH, py_tokenize

ROUND = 6


def tf_cte(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    min_len: int = MIN_TOKEN_LENGTH,
) -> str:
    """CTE chain producing tf(doc_id, term, tf) from a raw text table."""
    return f"""
tok AS (
  SELECT {id_col} AS doc_id,
         unnest(regexp_extract_all(lower({text_col}), '{DUCKDB_TOKEN_PATTERN}')) AS term
  FROM {table}
),
tf AS (
  SELECT doc_id, term, count(*)::BIGINT AS tf
  FROM tok WHERE length(term) >= {min_len}
  GROUP BY doc_id, term
)"""


def term_frequencies_sql(table: str = "documents") -> str:
    return f"WITH {tf_cte(table)} SELECT doc_id, term, tf FROM tf"


def document_stats_sql(table: str = "documents") -> str:
    return f"""WITH {tf_cte(table)}
SELECT doc_id,
       sum(tf)::BIGINT AS total_terms,
       count(*)::BIGINT AS unique_terms,
       round(sum(tf)::DOUBLE / count(*), {ROUND}) AS avg_term_frequency
FROM tf GROUP BY doc_id"""


def vocabulary_sql(table: str = "documents", min_df: int = 1) -> str:
    having = f"HAVING count(*) >= {min_df}" if min_df > 1 else ""
    return f"""WITH {tf_cte(table)}
SELECT term,
       count(*)::BIGINT AS document_frequency,
       sum(tf)::BIGINT AS collection_frequency
FROM tf GROUP BY term {having}"""


def collection_stats_sql(table: str = "documents") -> str:
    # N counts ALL docs (incl. token-empty ones) — reference
    # bm25_statistics_calculator.py:77.
    return f"""WITH {tf_cte(table)}
SELECT (SELECT count(*) FROM {table})::BIGINT AS total_documents,
       (SELECT coalesce(sum(tf), 0) FROM tf)::BIGINT AS total_terms,
       round((SELECT coalesce(sum(tf), 0) FROM tf)::DOUBLE
             / (SELECT count(*) FROM {table}), {ROUND}) AS avg_document_length"""


def idf_scores_sql(table: str = "documents") -> str:
    return f"""WITH {tf_cte(table)},
vocab AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
n AS (SELECT count(*)::DOUBLE AS n FROM {table})
SELECT term, round(ln((n.n - df + 0.5) / (df + 0.5)), {ROUND}) AS idf
FROM vocab CROSS JOIN n"""


def _query_values(query: str) -> str:
    """VALUES clause of (term, qtf) with list semantics (duplicates →
    multiplicity), matching operators/bm25.query_term_weights."""
    counts = Counter(py_tokenize(query))
    if not counts:
        return "SELECT NULL AS term, NULL::BIGINT AS qtf WHERE FALSE"
    rows = ", ".join(
        f"('{t}', {c})" for t, c in sorted(counts.items())
    )
    return f"SELECT * FROM (VALUES {rows}) AS q(term, qtf)"


def bm25_topk_sql(
    query: str,
    k: int = 10,
    table: str = "documents",
    k1: float = 1.2,
    b: float = 0.75,
    mode: str = "or",
    idf_variant: str = "raw_ln",
) -> str:
    """Full BM25 top-k: the reference's search_by_bm25 SQL
    (consolidated_queries.py:365-425) restated with ln-IDF and the fixed
    (score DESC, doc_id ASC) tie-break applied to ROUNDED scores so the
    boundary is float-noise-proof on both engines.

    ``mode="and"`` adds the posting-list-intersection HAVING clause;
    ``idf_variant="lucene_log10"`` = log10(ratio + 1) (the reference's
    SQL-spec variant)."""
    n_distinct = len(set(py_tokenize(query)))
    having = f"HAVING count(*) = {n_distinct}" if mode == "and" else ""
    if idf_variant == "raw_ln":
        idf = "ln((c.n - vocab.df + 0.5) / (vocab.df + 0.5))"
    elif idf_variant == "lucene_log10":
        idf = "log10((c.n - vocab.df + 0.5) / (vocab.df + 0.5) + 1.0)"
    else:
        raise ValueError(idf_variant)
    return f"""WITH {tf_cte(table)},
q AS ({_query_values(query)}),
vocab AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
dl AS (SELECT doc_id, sum(tf)::BIGINT AS dl FROM tf GROUP BY doc_id),
c AS (SELECT (SELECT count(*) FROM {table})::DOUBLE AS n,
             (SELECT coalesce(sum(tf),0) FROM tf)::DOUBLE
             / (SELECT count(*) FROM {table}) AS avgdl),
scored AS (
  SELECT tf.doc_id,
         sum(q.qtf * {idf}
             * (tf.tf * ({k1} + 1.0))
             / (tf.tf + {k1} * (1.0 - {b} + {b} * (dl.dl / c.avgdl)))) AS score
  FROM tf
  JOIN q USING (term)
  JOIN vocab USING (term)
  JOIN dl USING (doc_id)
  CROSS JOIN c
  GROUP BY tf.doc_id
  {having}
)
SELECT doc_id, round(score, {ROUND}) AS score
FROM scored
ORDER BY round(score, {ROUND}) DESC, doc_id ASC
LIMIT {k}"""


TRANSCRIPTS_CTE = """
transcripts AS (
  SELECT printf('conv_%04d', (doc_id % 97)::INT) AS conv_id,
         (doc_id // 97)::INT AS turn_idx,
         CASE (doc_id % 3) WHEN 0 THEN 'user' WHEN 1 THEN 'assistant'
              ELSE 'tool' END AS role,
         text,
         NULL AS tool,
         TIMESTAMP '2025-01-01 00:00:00' + INTERVAL (doc_id) MINUTE AS ts
  FROM documents
),
turn_docs AS (
  SELECT conv_id || '#' || turn_idx::VARCHAR AS doc_id, text, role, tool, ts
  FROM transcripts
)"""


def _bm25_scored_cte(query: str, k1: float = 1.2, b: float = 0.75) -> str:
    """scored(doc_id, score) over a pre-existing tf/dl/vocab-free corpus
    named turn_docs(doc_id, text, ...)."""
    return f"""
tok AS (
  SELECT doc_id,
         unnest(regexp_extract_all(lower(text), '{DUCKDB_TOKEN_PATTERN}')) AS term
  FROM turn_docs
),
tf AS (
  SELECT doc_id, term, count(*)::BIGINT AS tf FROM tok
  WHERE length(term) >= {MIN_TOKEN_LENGTH} GROUP BY doc_id, term
),
q AS ({_query_values(query)}),
vocab AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
dl AS (SELECT doc_id, sum(tf)::BIGINT AS dl FROM tf GROUP BY doc_id),
c AS (SELECT (SELECT count(*) FROM turn_docs)::DOUBLE AS n,
             (SELECT coalesce(sum(tf),0) FROM tf)::DOUBLE
             / (SELECT count(*) FROM turn_docs) AS avgdl),
scored AS (
  SELECT tf.doc_id,
         sum(q.qtf * ln((c.n - vocab.df + 0.5) / (vocab.df + 0.5))
             * (tf.tf * ({k1} + 1.0))
             / (tf.tf + {k1} * (1.0 - {b} + {b} * (dl.dl / c.avgdl)))) AS score
  FROM tf
  JOIN q USING (term) JOIN vocab USING (term) JOIN dl USING (doc_id)
  CROSS JOIN c
  GROUP BY tf.doc_id
)"""


def transcripts_role_filter_bm25_sql(query: str, role: str, k: int = 10) -> str:
    """Q8 analog: score on the FULL corpus, filter by role PRE-limit
    (documented deviation from the reference's post-limit quirk)."""
    return f"""WITH {TRANSCRIPTS_CTE}, {_bm25_scored_cte(query)}
SELECT s.doc_id, round(s.score, {ROUND}) AS score
FROM scored s JOIN turn_docs d ON s.doc_id = d.doc_id
WHERE d.role = '{role}'
ORDER BY round(s.score, {ROUND}) DESC, s.doc_id ASC
LIMIT {k}"""


def transcripts_date_range_sql(start: str, end: str) -> str:
    """Q9 analog: date-range filter + per-role rollup."""
    return f"""WITH {TRANSCRIPTS_CTE}
SELECT role, count(*)::BIGINT AS n_turns
FROM turn_docs
WHERE ts >= TIMESTAMP '{start}' AND ts < TIMESTAMP '{end}'
GROUP BY role"""


def like_search_sql(terms: list[str], k: int = 10, table: str = "documents") -> str:
    needle = " ".join(terms).replace("'", "''")
    return f"""SELECT doc_id, 1.0::DOUBLE AS score
FROM {table}
WHERE contains(text, '{needle}')
ORDER BY doc_id ASC LIMIT {k}"""


# ---------------------------------------------------------------------------
# Training-data ops (textstats / dedup / similarity / fusion oracles)
# ---------------------------------------------------------------------------

WS_RE2 = r"[\s\x{00a0}\x{3000}]"
JP_RE2 = r"[\x{3040}-\x{309f}\x{30a0}-\x{30ff}\x{4e00}-\x{9fff}]"
PUNCT_RE2 = r"[[:punct:]]|[、。！？．，]"
_EN_STOPS = (
    "the a an and or of to in is are was were be been it this that "
    "for on with as at by from"
).split()


def _fp_sql(col: str = "text") -> str:
    return f"md5(trim(regexp_replace({col}, '{WS_RE2}+', ' ', 'g')))"


def _quality_sql() -> str:
    """The rounded composite quality score over columns named ``text``
    and ``toks1`` — the exact twin of textstats.quality_score, shared
    by text_profile_sql and prepared_docs_sql."""
    return f"""round(
         0.4 * least(length(text) / 500.0, 1.0)
         + 0.3 * (CASE WHEN (CASE WHEN length(text) = 0 THEN 0.0 ELSE
             (length(text) - length(regexp_replace(text, '{PUNCT_RE2}', '', 'g')))::DOUBLE
             / length(text) END) > 0.3 THEN 0.0
             ELSE 1.0 - (CASE WHEN length(text) = 0 THEN 0.0 ELSE
               (length(text) - length(regexp_replace(text, '{PUNCT_RE2}', '', 'g')))::DOUBLE
               / length(text) END) / 0.3 END)
         + 0.3 * (CASE WHEN
             (CASE WHEN len(toks1) = 0 THEN 0.0 ELSE
              list_sum(list_transform(toks1, x -> length(x)))::DOUBLE / len(toks1) END)
             BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.3 END),
         {ROUND})"""


def _lang_sql(col: str = "text") -> str:
    """The language-id CASE over a text column — the exact twin of
    textstats.language_id (dominant-character-class heuristic), shared
    by text_profile_sql and prepared_docs_lang_sql."""
    jp = f"(length({col}) - length(regexp_replace({col}, '{JP_RE2}', '', 'g')))"
    latin = f"(length({col}) - length(regexp_replace({col}, '[a-zA-Z]', '', 'g')))"
    return f"""CASE
         WHEN {jp} + {latin} = 0 THEN 'und'
         WHEN {jp} >= {latin} THEN 'ja'
         ELSE 'en'
       END"""


def text_profile_sql(table: str = "documents") -> str:
    stops = ", ".join(f"'{s}'" for s in _EN_STOPS)
    return f"""
WITH base AS (
  SELECT doc_id, text,
         list_filter(regexp_extract_all(lower(text), '{DUCKDB_TOKEN_PATTERN}'),
                     x -> length(x) >= 2) AS toks,
         regexp_extract_all(lower(text), '{DUCKDB_TOKEN_PATTERN}') AS toks1
  FROM {table}
)
SELECT doc_id,
       length(text)::BIGINT AS n_chars,
       len(toks)::INT AS n_tokens,
       len(list_filter(string_split_regex(text, '{WS_RE2}+'),
                       x -> length(x) > 0))::INT AS n_words,
       {_lang_sql()} AS lang,
       round(CASE WHEN length(text) = 0 THEN 0.0 ELSE
         (length(text) - length(regexp_replace(text, '{PUNCT_RE2}', '', 'g')))::DOUBLE
         / length(text) END, {ROUND}) AS punct_ratio,
       round(CASE WHEN len(toks) = 0 THEN 0.0 ELSE
         len(list_filter(toks, x -> list_contains([{stops}], x)))::DOUBLE
         / len(toks) END, {ROUND}) AS stopword_ratio,
       {_quality_sql()} AS quality,
       {_fp_sql()} AS fingerprint
FROM base"""


DUPDOCS_CTE = """
dupdocs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 7 = 0
)"""


def exact_dup_groups_sql() -> str:
    return f"""WITH {DUPDOCS_CTE},
fp AS (SELECT doc_id, {_fp_sql()} AS fingerprint FROM dupdocs)
SELECT fingerprint, count(*)::BIGINT AS n_docs, min(doc_id) AS keep_doc_id
FROM fp GROUP BY fingerprint HAVING count(*) > 1"""


def _shingles_cte(source: str = "documents", n: int = 3) -> str:
    idx = ", ".join(f"toks[i+{j}]" for j in range(n))
    return f"""
tokd AS (
  SELECT doc_id,
         list_filter(regexp_extract_all(lower(text), '{DUCKDB_TOKEN_PATTERN}'),
                     x -> length(x) >= {MIN_TOKEN_LENGTH}) AS toks
  FROM {source}
),
sh AS (
  SELECT doc_id, unnest(list_distinct(
    list_transform(generate_series(1, greatest(len(toks) - {n - 1}, 0)),
                   i -> concat_ws(' ', {idx}))
  )) AS shingle
  FROM tokd
)"""


def ngram_jaccard_pairs_sql(threshold: float, n: int = 3,
                            source: str = "documents") -> str:
    return f"""WITH {_shingles_cte(source, n)},
sizes AS (SELECT doc_id, count(*)::BIGINT AS n_sh FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*)::BIGINT AS common
  FROM sh a JOIN sh b USING (shingle)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(common::DOUBLE / (sa.n_sh + sb.n_sh - common), {ROUND}) AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE round(common::DOUBLE / (sa.n_sh + sb.n_sh - common), {ROUND}) >= {threshold}"""


def discover_stopwords_sql(max_df_ratio: float = 0.5,
                           table: str = "documents") -> str:
    """Exact twin of textstats.discover_stopwords (engine N contract:
    every document counts, token-empty included)."""
    return f"""WITH {tf_cte(table)},
vocab AS (SELECT term, count(*)::BIGINT AS document_frequency
          FROM tf GROUP BY term),
n AS (SELECT count(*)::DOUBLE AS nd FROM {table})
SELECT term, document_frequency,
       round(document_frequency / n.nd, {ROUND}) AS df_ratio
FROM vocab CROSS JOIN n
WHERE document_frequency / n.nd > {max_df_ratio}"""


def top_terms_per_doc_sql(k: int = 5, table: str = "documents") -> str:
    """Exact twin of textstats.top_terms_per_doc: tf * ln-IDF (engine
    variant, every doc counts toward N), rank on the ROUNDED score,
    ties (tfidf desc, term asc)."""
    return f"""WITH {tf_cte(table)},
vocab AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
n AS (SELECT count(*)::DOUBLE AS nd FROM {table}),
scored AS (
  SELECT tf.doc_id, tf.term,
         round(tf.tf * ln((n.nd - vocab.df + 0.5) / (vocab.df + 0.5)),
               {ROUND}) AS tfidf
  FROM tf JOIN vocab USING (term) CROSS JOIN n
),
ranked AS (
  SELECT doc_id, term, tfidf,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY tfidf DESC, term ASC)::INT AS rank
  FROM scored
)
SELECT doc_id, term, rank, tfidf FROM ranked WHERE rank <= {k}"""


def unigram_logprob_sql(table: str = "documents") -> str:
    """Exact twin of textstats.unigram_logprob_scores: corpus-trained
    unigram LM, mean token log-likelihood per doc, 6dp rounded."""
    return f"""WITH {tf_cte(table)},
cf AS (SELECT term, sum(tf)::BIGINT AS cf FROM tf GROUP BY term),
tot AS (SELECT sum(cf)::DOUBLE AS total_terms FROM cf)
SELECT tf.doc_id, sum(tf.tf)::BIGINT AS n_tokens,
       round(sum(tf.tf * ln(cf.cf / tot.total_terms)) / sum(tf.tf),
             {ROUND}) AS avg_logprob
FROM tf JOIN cf USING (term) CROSS JOIN tot
GROUP BY tf.doc_id"""


def simhash64_sql(source: str = "documents") -> str:
    """Exact twin of dedup.simhash64: two independent 32-bit halves
    from md5 hex slices [1..8] / [9..16], 64 conditional sums in one
    aggregate, signed-long recomposition per half."""
    bitsums = ", ".join(
        f"sum(CASE WHEN (h_{half} >> {j}) & 1 = 1 THEN tf ELSE -tf END) "
        f"AS s_{half}_{j}"
        for half in ("lo", "hi") for j in range(32)
    )
    rec = {
        half: " + ".join(
            f"(CASE WHEN s_{half}_{j} > 0 THEN {2 ** j} ELSE 0 END)"
            for j in range(32)
        )
        for half in ("lo", "hi")
    }
    return f"""WITH
tok AS (
  SELECT doc_id,
         unnest(regexp_extract_all(lower(text), '{DUCKDB_TOKEN_PATTERN}')) AS term
  FROM {source}
),
tf AS (
  SELECT doc_id, term, count(*)::BIGINT AS tf FROM tok
  WHERE length(term) >= {MIN_TOKEN_LENGTH} GROUP BY doc_id, term
),
h AS (
  SELECT doc_id, tf,
         ('0x' || substr(md5(term), 1, 8))::UBIGINT::BIGINT AS h_lo,
         ('0x' || substr(md5(term), 9, 8))::UBIGINT::BIGINT AS h_hi
  FROM tf
),
bitsums AS (SELECT doc_id, {bitsums} FROM h GROUP BY doc_id)
SELECT doc_id, ({rec['lo']})::BIGINT AS sim_lo,
       ({rec['hi']})::BIGINT AS sim_hi
FROM bitsums"""


def simhash64_near_pairs_sql(max_hamming: int = 6,
                             source: str = "documents") -> str:
    """Exhaustive O(n²) 64-bit hamming pairs — the oracle for the
    banded (pigeonhole) candidate generation, which finds EVERY pair
    within the hamming budget, so the sets match exactly."""
    return f"""WITH sh AS ({simhash64_sql(source)})
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       (bit_count(xor(a.sim_lo, b.sim_lo))
        + bit_count(xor(a.sim_hi, b.sim_hi)))::INT AS hamming
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.sim_lo, b.sim_lo))
      + bit_count(xor(a.sim_hi, b.sim_hi)) <= {max_hamming}"""


def sessionized_events_sql(gap_minutes: int = 30) -> str:
    """Exact twin of sessionize_turns + session_stats over the events
    table (user_id as the conversation key, event_id as the tiebreak).
    Gap arithmetic on floored epoch seconds, matching Spark's
    ts.cast('long')."""
    gap_s = gap_minutes * 60
    return f"""
WITH lagged AS (
  SELECT user_id, event_id, ts,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events
),
flagged AS (
  SELECT user_id, event_id, ts,
         CASE WHEN prev_ts IS NULL THEN 0
              WHEN floor(epoch(ts)) - floor(epoch(prev_ts)) > {gap_s}
                THEN 1 ELSE 0 END AS new_s
  FROM lagged
),
sess AS (
  SELECT user_id, ts,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING)::INT AS session_idx
  FROM flagged
)
SELECT user_id, session_idx, count(*)::BIGINT AS n_turns,
       floor(epoch(min(ts)))::BIGINT AS started_s,
       floor(epoch(max(ts)))::BIGINT AS ended_s
FROM sess GROUP BY user_id, session_idx"""


def token_counts_sql(table: str = "documents") -> str:
    """Token-counting triple: index tokens (engine tokenizer spec),
    whitespace words, and the BPE-ish subword estimate."""
    from ..operators.textstats import BPEISH_PATTERN

    return f"""
SELECT doc_id,
       len(list_filter(regexp_extract_all(lower(text), '{DUCKDB_TOKEN_PATTERN}'),
                       x -> length(x) >= {MIN_TOKEN_LENGTH}))::INT AS n_tokens,
       len(list_filter(string_split_regex(text, '{WS_RE2}+'),
                       x -> length(x) > 0))::INT AS n_words,
       len(regexp_extract_all(text, '{BPEISH_PATTERN}'))::INT AS n_bpeish
FROM {table}"""


def winnow_fingerprints_sql(k: int = 8, window: int = 4,
                            source: str = "documents",
                            max_chars: int | None = None) -> str:
    """Exact twin of dedup.winnowing_fingerprints (hash_mode='md5'):
    md5 char-k-gram hashes of the lowercased ws-collapsed text,
    rolling window-min, distinct selected hashes per doc. ``max_chars``
    mirrors the engine's operator-owned truncation knob."""
    trunc = (
        f"substr(lower(trim(regexp_replace(text, '{WS_RE2}+', ' ', 'g'))), 1, {max_chars})"
        if max_chars is not None
        else f"lower(trim(regexp_replace(text, '{WS_RE2}+', ' ', 'g')))"
    )
    return f"""
WITH n AS (
  SELECT doc_id,
         {trunc} AS t
  FROM {source}
),
kg AS (
  SELECT doc_id, i, md5(substr(t, i, {k})) AS h
  FROM n, UNNEST(generate_series(1, length(t) - {k - 1})) AS u(i)
  WHERE length(t) >= {k}
),
sel AS (
  SELECT doc_id, i,
         min(h) OVER (PARTITION BY doc_id ORDER BY i
                      ROWS BETWEEN CURRENT ROW AND {window - 1} FOLLOWING)
           AS fp,
         count(*) OVER (PARTITION BY doc_id) AS nk
  FROM kg
)
SELECT DISTINCT doc_id, fp FROM sel WHERE i <= nk - {window} + 1"""


def chunk_documents_fixed_sql(chunk_size: int = 300,
                              chunk_overlap: int = 75,
                              source: str = "documents") -> str:
    """Exact twin of chunker.chunk_documents_fixed: fixed-stride
    windows (no snapping), space-trimmed, empties dropped, kept chunks
    renumbered. Both sides are pure relational expressions — the Spark
    side has no UDF to drift from."""
    step = chunk_size - chunk_overlap
    return f"""
WITH base AS (
  SELECT doc_id,
         CASE
           WHEN text IS NULL OR trim(text) = '' THEN ['']
           WHEN length(text) <= {chunk_size} THEN [text]
           ELSE list_filter(
             list_transform(generate_series(1, length(text), {step}),
                            i -> trim(substr(text, i, {chunk_size}))),
             x -> x != '')
         END AS chunks
  FROM {source}
)
SELECT doc_id::VARCHAR || '#' || (i - 1)::VARCHAR AS chunk_id,
       doc_id,
       (i - 1)::INT AS chunk_index,
       chunks[i] AS text
FROM base, UNNEST(generate_series(1, len(chunks))) AS u(i)"""


def winnow_near_pairs_sql(k: int = 8, window: int = 4,
                          min_common: int = 2,
                          max_fp_df: int | None = 1000,
                          source: str = "documents",
                          max_chars: int | None = None) -> str:
    """Exact twin of dedup.winnow_near_pairs (hash_mode='md5'):
    candidate pairs from an equi-join on fingerprints with df ≤
    ``max_fp_df``, then common_fp/overlap computed over the FULL
    fingerprint sets of the candidates. The fps CTE nests
    winnow_fingerprints_sql verbatim — one definition, no drift."""
    fps_sql = winnow_fingerprints_sql(k, window, source, max_chars)
    if max_fp_df:
        cand = f"""rare AS (SELECT fp FROM fps GROUP BY fp
        HAVING count(*) <= {max_fp_df}),
candfp AS (SELECT f.doc_id, f.fp FROM fps f JOIN rare USING (fp)),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM candfp a JOIN candfp b USING (fp)
  WHERE a.doc_id < b.doc_id
)"""
    else:
        cand = """cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM fps a JOIN fps b USING (fp)
  WHERE a.doc_id < b.doc_id
)"""
    return f"""WITH fps AS ({fps_sql}),
sizes AS (SELECT doc_id, count(*)::BIGINT AS n_fp FROM fps GROUP BY doc_id),
{cand},
common AS (
  SELECT c.doc_a, c.doc_b, count(*)::BIGINT AS common_fp
  FROM cand c
  JOIN fps fa ON fa.doc_id = c.doc_a
  JOIN fps fb ON fb.doc_id = c.doc_b AND fb.fp = fa.fp
  GROUP BY c.doc_a, c.doc_b
)
SELECT m.doc_a, m.doc_b, m.common_fp,
       round(m.common_fp::DOUBLE / least(sa.n_fp, sb.n_fp), {ROUND}) AS overlap
FROM common m
JOIN sizes sa ON sa.doc_id = m.doc_a
JOIN sizes sb ON sb.doc_id = m.doc_b
WHERE m.common_fp >= {min_common}"""


def weighted_fusion_sql(query_a: str, query_b: str, k: int = 20,
                        weight_a: float = 0.7, weight_b: float = 0.3,
                        limit: int = 10) -> str:
    """H2 weighted fusion of min-max-normalized top-k lists
    (hybrid_search.py:14-60 + score_normalizer.py:65-155): weights
    normalized to sum 1, missing side contributes 0."""
    total = weight_a + weight_b
    wa, wb = weight_a / total, weight_b / total
    return f"""WITH {tf_cte('documents')},
qa AS ({_query_values(query_a)}),
qb AS ({_query_values(query_b)}),
vocab AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
dl AS (SELECT doc_id, sum(tf)::BIGINT AS dl FROM tf GROUP BY doc_id),
c AS (SELECT (SELECT count(*) FROM documents)::DOUBLE AS n,
             (SELECT coalesce(sum(tf),0) FROM tf)::DOUBLE
             / (SELECT count(*) FROM documents) AS avgdl),
score_a AS (
  SELECT tf.doc_id,
         sum(qa.qtf * ln((c.n - vocab.df + 0.5) / (vocab.df + 0.5))
             * (tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * (dl.dl / c.avgdl)))) AS score
  FROM tf JOIN qa USING (term) JOIN vocab USING (term) JOIN dl USING (doc_id)
  CROSS JOIN c GROUP BY tf.doc_id
),
score_b AS (
  SELECT tf.doc_id,
         sum(qb.qtf * ln((c.n - vocab.df + 0.5) / (vocab.df + 0.5))
             * (tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * (dl.dl / c.avgdl)))) AS score
  FROM tf JOIN qb USING (term) JOIN vocab USING (term) JOIN dl USING (doc_id)
  CROSS JOIN c GROUP BY tf.doc_id
),
top_a AS (SELECT doc_id, round(score, {ROUND}) AS score FROM score_a
          ORDER BY round(score, {ROUND}) DESC, doc_id ASC LIMIT {k}),
top_b AS (SELECT doc_id, round(score, {ROUND}) AS score FROM score_b
          ORDER BY round(score, {ROUND}) DESC, doc_id ASC LIMIT {k}),
norm_a AS (
  SELECT doc_id, CASE WHEN mx = mn THEN score
    ELSE least(1.0, greatest(0.0, (score - mn) / (mx - mn))) END AS s
  FROM top_a, (SELECT min(score) AS mn, max(score) AS mx FROM top_a)
),
norm_b AS (
  SELECT doc_id, CASE WHEN mx = mn THEN score
    ELSE least(1.0, greatest(0.0, (score - mn) / (mx - mn))) END AS s
  FROM top_b, (SELECT min(score) AS mn, max(score) AS mx FROM top_b)
),
fused AS (
  SELECT doc_id, coalesce({wa!r} * a.s, 0.0) + coalesce({wb!r} * b.s, 0.0) AS score
  FROM norm_a a FULL OUTER JOIN norm_b b USING (doc_id)
)
SELECT doc_id, round(score, {ROUND}) AS score
FROM fused ORDER BY round(score, {ROUND}) DESC, doc_id ASC LIMIT {limit}"""


def cosine_topk_sql(query_vec: list[float], k: int = 10) -> str:
    import math

    qlit = "[" + ", ".join(repr(float(x)) for x in query_vec) + "]::DOUBLE[]"
    qnorm = repr(math.sqrt(sum(float(x) * float(x) for x in query_vec)))
    return f"""
WITH scored AS (
  SELECT vec_id,
         list_dot_product(embedding::DOUBLE[], {qlit})
         / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
            * {qnorm}) AS cos
  FROM embeddings
)
SELECT vec_id, round(cos, {ROUND}) AS cosine
FROM scored
ORDER BY round(cos, {ROUND}) DESC, vec_id ASC
LIMIT {k}"""


def _minhash_sql_parts(num_perm: int, bands: int) -> tuple[str, str, str, str]:
    """(sigs, band_exprs, band_joins, agree) — the md5 string-min
    signature / band-key / candidate-join / agreement-count SQL
    fragments shared by minhash_lsh_pairs_sql and prepared_docs_sql
    (one definition, so the two oracles cannot drift)."""
    rows_per_band = num_perm // bands
    sigs = ", ".join(
        f"min(md5(shingle || ':{i}')) AS sig_{i}" for i in range(num_perm)
    )
    band_exprs = []
    for bnd in range(bands):
        cols = " || '|' || ".join(
            f"sig_{bnd * rows_per_band + r}" for r in range(rows_per_band)
        )
        band_exprs.append(f"md5({cols}) AS band_{bnd}")
    band_joins = "\n  UNION\n".join(
        f"""  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a JOIN banded b ON a.band_{bnd} = b.band_{bnd}
  WHERE a.doc_id < b.doc_id"""
        for bnd in range(bands)
    )
    agree = " + ".join(
        f"(CASE WHEN sa.sig_{i} = sb.sig_{i} THEN 1 ELSE 0 END)"
        for i in range(num_perm)
    )
    return sigs, ", ".join(band_exprs), band_joins, agree


def minhash_lsh_pairs_sql(num_perm: int = 16, bands: int = 8,
                          threshold: float = 0.5, n: int = 3,
                          source: str = "dupdocs") -> str:
    """Exact twin of dedup.minhash_lsh_pairs: md5 string-min signatures,
    md5 band keys, per-band self-joins UNION-deduped, then the
    signature-agreement estimate over the candidate set. Everything is
    md5 hex strings and integer ratios — bit-identical across engines,
    so the banded candidate SET (not just the estimate) matches the
    engine's."""
    sigs, band_select, band_joins, agree = _minhash_sql_parts(num_perm, bands)
    pre = f"WITH {DUPDOCS_CTE}, " if source == "dupdocs" else "WITH "
    return f"""{pre}{_shingles_cte(source, n).lstrip()},
sig AS (SELECT doc_id, {sigs} FROM sh GROUP BY doc_id),
banded AS (SELECT doc_id, {band_select} FROM sig),
cand AS (
{band_joins}
)
SELECT c.doc_a, c.doc_b,
       round(({agree})::DOUBLE / {num_perm}, {ROUND}) AS est_jaccard
FROM cand c
JOIN sig sa ON sa.doc_id = c.doc_a
JOIN sig sb ON sb.doc_id = c.doc_b
WHERE round(({agree})::DOUBLE / {num_perm}, {ROUND}) >= {threshold}"""


def near_dup_components_sql(num_perm: int = 16, bands: int = 8,
                            threshold: float = 0.5, n: int = 3) -> str:
    """Exact twin of dedup.connected_components over the MinHash+LSH
    pair graph (dupdocs source): the candidate pairs reuse the
    bit-identical minhash machinery, then a RECURSIVE CTE computes the
    transitive closure of reachable node ids — min over it per node is
    exactly the min-label-propagation fixpoint the engine converges to
    (component = min id in the connected component)."""
    sigs, band_select, band_joins, agree = _minhash_sql_parts(num_perm, bands)
    return f"""WITH RECURSIVE {DUPDOCS_CTE},
{_shingles_cte("dupdocs", n).lstrip()},
sig AS (SELECT doc_id, {sigs} FROM sh GROUP BY doc_id),
banded AS (SELECT doc_id, {band_select} FROM sig),
cand AS (
{band_joins}
),
pairs AS (
  SELECT c.doc_a, c.doc_b
  FROM cand c
  JOIN sig sa ON sa.doc_id = c.doc_a
  JOIN sig sb ON sb.doc_id = c.doc_b
  WHERE round(({agree})::DOUBLE / {num_perm}, {ROUND}) >= {threshold}
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
cc(node, comp) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, cc.comp FROM edges e JOIN cc ON cc.node = e.dst
)
SELECT node AS doc_id, min(comp) AS component FROM cc GROUP BY node"""


def prepared_docs_sql(num_perm: int = 16, bands: int = 8,
                      threshold: float = 0.5, n: int = 3,
                      min_quality: float = 0.5) -> str:
    """Exact twin of pipeline.prepare_corpus's document stages over the
    dupdocs source (documents + planted exact duplicates): exact dedup
    (keep min doc_id per whitespace-normalized md5 fingerprint), then
    MinHash+LSH near-dedup computed over the EXACT-DEDUPED set (stage
    order matters — the engine computes pairs after exact removal)
    dropping the higher id of every pair at >= threshold estimated
    Jaccard, then the quality filter on the rounded composite score.
    Every stage reuses the bit-identical machinery of its standalone
    oracle (md5 fingerprints/signatures/band keys, integer agreement
    ratios, 6-dp-rounded quality)."""
    sigs, band_select, band_joins, agree = _minhash_sql_parts(num_perm, bands)
    return f"""WITH {DUPDOCS_CTE},
fp0 AS (SELECT doc_id, text, {_fp_sql()} AS fingerprint FROM dupdocs),
keep1 AS (SELECT fingerprint, min(doc_id) AS doc_id FROM fp0
          GROUP BY fingerprint),
kept1 AS (SELECT f.doc_id, f.text, f.fingerprint
          FROM fp0 f JOIN keep1 k ON f.doc_id = k.doc_id),
{_shingles_cte("kept1", n).lstrip()},
sig AS (SELECT doc_id, {sigs} FROM sh GROUP BY doc_id),
banded AS (SELECT doc_id, {band_select} FROM sig),
cand AS (
{band_joins}
),
dropids AS (
  SELECT DISTINCT c.doc_b AS doc_id
  FROM cand c
  JOIN sig sa ON sa.doc_id = c.doc_a
  JOIN sig sb ON sb.doc_id = c.doc_b
  WHERE round(({agree})::DOUBLE / {num_perm}, {ROUND}) >= {threshold}
),
kept2 AS (
  SELECT k.doc_id, k.text, k.fingerprint
  FROM kept1 k LEFT JOIN dropids d ON k.doc_id = d.doc_id
  WHERE d.doc_id IS NULL
),
base AS (
  SELECT doc_id, text, fingerprint,
         regexp_extract_all(lower(text), '{DUCKDB_TOKEN_PATTERN}') AS toks1
  FROM kept2
)
SELECT doc_id, fingerprint, {_quality_sql()} AS quality
FROM base
WHERE {_quality_sql()} >= {min_quality}"""


def prepared_docs_components_sql(num_perm: int = 16, bands: int = 8,
                                 threshold: float = 0.5, n: int = 3,
                                 min_quality: float = 0.5) -> str:
    """prepared_docs_sql with the connected-components near-dedup
    policy: the drop set is every non-representative member (node !=
    min id of its component, via the RECURSIVE transitive closure) of
    the MinHash+LSH pair graph computed over the exact-deduped set.
    Mirrors prepare_corpus(near_policy='components') stage for stage."""
    sigs, band_select, band_joins, agree = _minhash_sql_parts(num_perm, bands)
    return f"""WITH RECURSIVE {DUPDOCS_CTE},
fp0 AS (SELECT doc_id, text, {_fp_sql()} AS fingerprint FROM dupdocs),
keep1 AS (SELECT fingerprint, min(doc_id) AS doc_id FROM fp0
          GROUP BY fingerprint),
kept1 AS (SELECT f.doc_id, f.text, f.fingerprint
          FROM fp0 f JOIN keep1 k ON f.doc_id = k.doc_id),
{_shingles_cte("kept1", n).lstrip()},
sig AS (SELECT doc_id, {sigs} FROM sh GROUP BY doc_id),
banded AS (SELECT doc_id, {band_select} FROM sig),
cand AS (
{band_joins}
),
pairs AS (
  SELECT c.doc_a, c.doc_b
  FROM cand c
  JOIN sig sa ON sa.doc_id = c.doc_a
  JOIN sig sb ON sb.doc_id = c.doc_b
  WHERE round(({agree})::DOUBLE / {num_perm}, {ROUND}) >= {threshold}
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
cc(node, comp) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, cc.comp FROM edges e JOIN cc ON cc.node = e.dst
),
dropids AS (
  SELECT node AS doc_id FROM (
    SELECT node, min(comp) AS comp FROM cc GROUP BY node
  ) WHERE node != comp
),
kept2 AS (
  SELECT k.doc_id, k.text, k.fingerprint
  FROM kept1 k LEFT JOIN dropids d ON k.doc_id = d.doc_id
  WHERE d.doc_id IS NULL
),
base AS (
  SELECT doc_id, text, fingerprint,
         regexp_extract_all(lower(text), '{DUCKDB_TOKEN_PATTERN}') AS toks1
  FROM kept2
)
SELECT doc_id, fingerprint, {_quality_sql()} AS quality
FROM base
WHERE {_quality_sql()} >= {min_quality}"""


def prepared_docs_winnow_sql(threshold: float = 0.3, k: int = 8,
                             window: int = 4,
                             max_fp_df: int | None = 1000,
                             min_quality: float = 0.5) -> str:
    """prepared_docs_sql with the WINNOW near-dedup method: pairs from
    winnow_near_pairs_sql over the exact-deduped set (min_common=1),
    dropped at containment overlap >= threshold, greedy higher-id
    policy. Mirrors prepare_corpus(near_method='winnow')."""
    pairs = winnow_near_pairs_sql(k=k, window=window, min_common=1,
                                  max_fp_df=max_fp_df, source="kept1")
    return f"""WITH {DUPDOCS_CTE},
fp0 AS (SELECT doc_id, text, {_fp_sql()} AS fingerprint FROM dupdocs),
keep1 AS (SELECT fingerprint, min(doc_id) AS doc_id FROM fp0
          GROUP BY fingerprint),
kept1 AS (SELECT f.doc_id, f.text, f.fingerprint
          FROM fp0 f JOIN keep1 kk ON f.doc_id = kk.doc_id),
wpairs AS ({pairs}),
dropids AS (
  SELECT DISTINCT doc_b AS doc_id FROM wpairs
  WHERE overlap >= {threshold}
),
kept2 AS (
  SELECT k2.doc_id, k2.text, k2.fingerprint
  FROM kept1 k2 LEFT JOIN dropids d ON k2.doc_id = d.doc_id
  WHERE d.doc_id IS NULL
),
base AS (
  SELECT doc_id, text, fingerprint,
         regexp_extract_all(lower(text), '{DUCKDB_TOKEN_PATTERN}') AS toks1
  FROM kept2
)
SELECT doc_id, fingerprint, {_quality_sql()} AS quality
FROM base
WHERE {_quality_sql()} >= {min_quality}"""


def prepared_docs_lang_sql(min_quality: float = 0.5,
                           langs: "tuple[str, ...]" = ("en",)) -> str:
    """Exact twin of pipeline.prepare_corpus's LANGUAGE stage composed
    with exact dedup + quality (near-dedup skipped): keep the min-id
    doc per fingerprint, then quality >= min_quality, then
    language_id(text) IN langs. The lang column itself is emitted so
    the heuristic's VALUE is hash-checked, not just the filter."""
    in_list = ", ".join(f"'{lg}'" for lg in langs)
    return f"""WITH {DUPDOCS_CTE},
fp0 AS (SELECT doc_id, text, {_fp_sql()} AS fingerprint FROM dupdocs),
keep1 AS (SELECT fingerprint, min(doc_id) AS doc_id FROM fp0
          GROUP BY fingerprint),
kept1 AS (SELECT f.doc_id, f.text, f.fingerprint
          FROM fp0 f JOIN keep1 k ON f.doc_id = k.doc_id),
base AS (
  SELECT doc_id, text, fingerprint,
         regexp_extract_all(lower(text), '{DUCKDB_TOKEN_PATTERN}') AS toks1
  FROM kept1
)
SELECT doc_id, fingerprint, {_lang_sql()} AS lang,
       {_quality_sql()} AS quality
FROM base
WHERE {_quality_sql()} >= {min_quality}
  AND ({_lang_sql()}) IN ({in_list})"""


def _lsh_bucket_cte(bits: int, n_tables: int, seed: int, dim: int) -> str:
    """bk(vec_id, b_0..b_{T-1}) — per-table sign-LSH bucket ids over the
    quantized embedding, the exact twin of similarity.lsh_bucketize.
    Quantization (floor(x*10000 + 0.5)) and integer-valued hyperplanes
    keep every dot product an exact integer < 2^53, so the sign — and
    therefore the bucket and the candidate SET — is bit-identical
    between numpy (engine) and DuckDB (this oracle)."""
    from ..operators.similarity import LSH_VEC_SCALE, _hyperplanes

    table_cols = []
    for t in range(n_tables):
        planes = _hyperplanes(dim, bits, t, seed)
        bit_terms = []
        for bidx in range(bits):
            plit = "[" + ", ".join(
                repr(float(v)) for v in planes[bidx]
            ) + "]::DOUBLE[]"
            bit_terms.append(
                f"(CASE WHEN list_dot_product(q, {plit}) > 0 "
                f"THEN {2 ** bidx} ELSE 0 END)"
            )
        table_cols.append("(" + " + ".join(bit_terms) + f")::BIGINT AS b_{t}")
    cols = ",\n         ".join(table_cols)
    return f"""
qv AS (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[],
                        x -> floor(x * {LSH_VEC_SCALE!r} + 0.5)) AS q
  FROM embeddings
),
bk AS (
  SELECT vec_id,
         {cols}
  FROM qv
)"""


def lsh_ann_topk_sql(query_vec: list[float], k: int = 10, bits: int = 6,
                     n_tables: int = 4, seed: int = 42,
                     multi_probe: int = 0) -> str:
    """Exact twin of similarity.lsh_ann_topk: the candidate set is
    every vector sharing ANY of the query's probe buckets (same probes
    — incl. multi-probe neighbor flips — computed by the same integer
    arithmetic via the same function), scored by exact cosine rounded
    to {ROUND} with the (cosine desc, vec_id asc) tie-break."""
    import math

    from ..operators.similarity import lsh_query_buckets

    probes = lsh_query_buckets(query_vec, bits, n_tables, seed,
                               multi_probe=multi_probe)
    probe_pred = " OR ".join(f"b_{t} = {b}" for t, b in probes)
    qlit = "[" + ", ".join(repr(float(x)) for x in query_vec) + "]::DOUBLE[]"
    qnorm = repr(math.sqrt(sum(float(x) * float(x) for x in query_vec)))
    return f"""WITH {_lsh_bucket_cte(bits, n_tables, seed, len(query_vec)).lstrip()},
cand AS (SELECT vec_id FROM bk WHERE {probe_pred}),
scored AS (
  SELECT e.vec_id,
         list_dot_product(e.embedding::DOUBLE[], {qlit})
         / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
            * {qnorm}) AS cos
  FROM embeddings e JOIN cand USING (vec_id)
)
SELECT vec_id, round(cos, {ROUND}) AS cosine
FROM scored
ORDER BY round(cos, {ROUND}) DESC, vec_id ASC
LIMIT {k}"""


def ivf_ann_topk_sql(query_vec: list[float], k: int = 10, n_lists: int = 8,
                     nprobe: int = 3, seed: int = 42) -> str:
    """Exact twin of similarity.ivf_topk with seeded integer centroids
    and quantize=True: nearest-centroid assignment on the fixed-point
    vector is argmin over (c·c − 2·x̂·c) — every term an exact integer
    < 2^53 in float64, so the per-row list_id (ties → lowest index, the
    numpy argmin convention, reproduced by ORDER BY d2, idx) and hence
    the candidate SET match the engine bit-identically. Probes are the
    same python computation the engine uses, inlined as literals; final
    scoring is exact cosine rounded to {ROUND} with the
    (cosine desc, vec_id asc) tie-break."""
    import math

    from ..operators.similarity import (
        LSH_VEC_SCALE, _probe_lists, ivf_seeded_centroids,
    )

    cent = ivf_seeded_centroids(len(query_vec), n_lists, seed)
    probes = _probe_lists(cent, query_vec, nprobe, quantize=True)
    rows = []
    for idx in range(n_lists):
        clit = "[" + ", ".join(repr(float(v)) for v in cent[idx]) + "]::DOUBLE[]"
        cc = repr(float((cent[idx] ** 2).sum()))
        rows.append(f"({idx}, {cc}, {clit})")
    cent_values = ",\n         ".join(rows)
    probe_in = ", ".join(str(p) for p in probes)
    qlit = "[" + ", ".join(repr(float(x)) for x in query_vec) + "]::DOUBLE[]"
    qnorm = repr(math.sqrt(sum(float(x) * float(x) for x in query_vec)))
    return f"""WITH cent(idx, cc, c) AS (
  VALUES {cent_values}
),
qv AS (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[],
                        x -> floor(x * {LSH_VEC_SCALE!r} + 0.5)) AS q
  FROM embeddings
),
dist AS (
  SELECT v.vec_id, c.idx,
         c.cc - 2.0 * list_dot_product(v.q, c.c) AS d2
  FROM qv v CROSS JOIN cent c
),
asg AS (
  SELECT vec_id, idx AS list_id
  FROM (SELECT vec_id, idx,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY d2 ASC, idx ASC) AS rn
        FROM dist)
  WHERE rn = 1
),
cand AS (SELECT vec_id FROM asg WHERE list_id IN ({probe_in})),
scored AS (
  SELECT e.vec_id,
         list_dot_product(e.embedding::DOUBLE[], {qlit})
         / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
            * {qnorm}) AS cos
  FROM embeddings e JOIN cand USING (vec_id)
)
SELECT vec_id, round(cos, {ROUND}) AS cosine
FROM scored
ORDER BY round(cos, {ROUND}) DESC, vec_id ASC
LIMIT {k}"""


def reranked_topk_sql(query: str, limit: int = 10, multiplier: int = 2,
                      max_length: int = 512) -> str:
    """Exact twin of rerank.rerank_search with the hashing backend:
    BM25-prefetch limit × multiplier (the H5 arithmetic,
    search_orchestrator.py:76-95), then per-pair
    sigmoid(u32(md5(query ␟ substr(text, 1, max_length·3)))[:8]/2^31−1)
    — the pre-sigmoid chain is exact integer arithmetic over identical
    UTF-8 bytes, and the sigmoid/rounding sit in the same float-noise
    class as every other scored oracle (6-dp rounding both sides, cut
    on the ROUNDED score)."""
    qlit = query.replace("'", "''")
    cut = max_length * 3
    prefetch_sql = bm25_topk_sql(query, k=limit * multiplier)
    return f"""WITH cand AS ({prefetch_sql}),
hyd AS (
  SELECT c.doc_id, d.text FROM cand c JOIN documents d USING (doc_id)
),
scored AS (
  SELECT doc_id,
         1.0 / (1.0 + exp(-(
           ('0x' || substr(md5('{qlit}' || chr(31) || substr(text, 1, {cut})),
                           1, 8))::UBIGINT / 2147483648.0 - 1.0
         ))) AS rerank_score
  FROM hyd
)
SELECT doc_id, round(rerank_score, {ROUND}) AS rerank_score
FROM scored
ORDER BY round(rerank_score, {ROUND}) DESC, doc_id ASC
LIMIT {limit}"""


def lsh_near_pairs_sql(threshold: float, bits: int = 6, n_tables: int = 8,
                       seed: int = 42, dim: int = 64) -> str:
    """Exact twin of similarity.lsh_near_pairs: per-table bucket
    self-joins (same integer-exact buckets as the engine), deduped,
    then exact cosine ≥ threshold on the ROUNDED value."""
    band_joins = "\n  UNION\n".join(
        f"""  SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
  FROM bk a JOIN bk b ON a.b_{t} = b.b_{t}
  WHERE a.vec_id < b.vec_id"""
        for t in range(n_tables)
    )
    return f"""WITH {_lsh_bucket_cte(bits, n_tables, seed, dim).lstrip()},
cand AS (
{band_joins}
),
ver AS (
  SELECT c.doc_a, c.doc_b,
         round(
           list_dot_product(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[])
           / (sqrt(list_dot_product(ea.embedding::DOUBLE[], ea.embedding::DOUBLE[]))
              * sqrt(list_dot_product(eb.embedding::DOUBLE[], eb.embedding::DOUBLE[]))),
           {ROUND}) AS cosine
  FROM cand c
  JOIN embeddings ea ON ea.vec_id = c.doc_a
  JOIN embeddings eb ON eb.vec_id = c.doc_b
)
SELECT doc_a, doc_b, cosine FROM ver WHERE cosine >= {threshold}"""


def snippets_sql(query: str, k: int = 10, length: int = 160) -> str:
    """Exact twin of operators/snippets.py_snippet over the hydrated
    BM25 top-k: 0-based term-occurrence positions (per-character scan,
    one row per (term, position) like the python find loop), densest
    window = earliest anchor with max occurrences in [p, p+length)
    (provably equals the two-pointer's pick), start = anchor − 20
    snapped to the last space in [start−20, start), then sequential
    case-insensitive highlight in (−len, term) order."""
    terms = sorted(set(py_tokenize(query)), key=lambda s: (-len(s), s))
    if not terms:
        raise ValueError("snippets oracle needs a tokenizable query")
    pos_union = "\n    UNION ALL\n".join(
        f"""SELECT doc_id, i - 1 AS p
    FROM hyd, UNNEST(generate_series(1, greatest(length(text), 1))) AS u(i)
    WHERE substr(lower(text), i, {len(t)}) = '{t}'"""
        for t in terms
    )
    highlighted = "raw"
    for t in terms:
        highlighted = (
            f"regexp_replace({highlighted}, '(?i)({t})', '**\\1**', 'g')"
        )
    return f"""WITH top AS ({bm25_topk_sql(query, k=k)}),
hyd AS (SELECT d.doc_id, top.score, d.text
        FROM documents d JOIN top ON d.doc_id = top.doc_id),
pos AS (
    {pos_union}
),
anch AS (
  SELECT a.doc_id, a.p AS start_p,
         (SELECT count(*) FROM pos b WHERE b.doc_id = a.doc_id
            AND b.p >= a.p AND b.p < a.p + {length}) AS cnt
  FROM pos a
),
best AS (
  SELECT doc_id, start_p FROM (
    SELECT doc_id, start_p, row_number() OVER
      (PARTITION BY doc_id ORDER BY cnt DESC, start_p ASC) AS rn
    FROM anch) t WHERE rn = 1
),
st0 AS (
  SELECT h.doc_id, h.score, h.text,
         b.start_p IS NOT NULL AS has_match,
         CASE WHEN b.start_p IS NULL THEN 0
              ELSE greatest(b.start_p - 20, 0) END AS s0
  FROM hyd h LEFT JOIN best b ON h.doc_id = b.doc_id
),
snap AS (
  SELECT doc_id, score, text,
    CASE WHEN NOT has_match OR s0 = 0 THEN s0
         WHEN strpos(reverse(substr(text, greatest(s0 - 20, 0) + 1,
                                    s0 - greatest(s0 - 20, 0))), ' ') > 0
           THEN s0 - strpos(reverse(substr(text, greatest(s0 - 20, 0) + 1,
                                           s0 - greatest(s0 - 20, 0))), ' ') + 1
         ELSE s0 END AS snip_start
  FROM st0
),
snips AS (
  SELECT doc_id, score, substr(text, snip_start + 1, {length}) AS raw
  FROM snap
)
SELECT doc_id, score, {highlighted} AS snippet FROM snips"""


def hybrid_topk_sql(query: str, query_vec: list[float], k_each: int = 20,
                    rrf_k: int = 60, limit: int = 10,
                    k1: float = 1.2, b: float = 0.75) -> str:
    """Hybrid (BM25 + vector cosine → RRF) — reference default mode
    (search_engine.py:87-112). Both branch top-k lists are cut on
    ROUNDED scores with the (score desc, doc_id asc) tie-break, exactly
    like the engine's hybrid_search(round_digits=6)."""
    import math

    qlit = "[" + ", ".join(repr(float(x)) for x in query_vec) + "]::DOUBLE[]"
    qnorm = repr(math.sqrt(sum(float(x) * float(x) for x in query_vec)))
    return f"""WITH {tf_cte('documents')},
q AS ({_query_values(query)}),
vocab AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
dl AS (SELECT doc_id, sum(tf)::BIGINT AS dl FROM tf GROUP BY doc_id),
c AS (SELECT (SELECT count(*) FROM documents)::DOUBLE AS n,
             (SELECT coalesce(sum(tf),0) FROM tf)::DOUBLE
             / (SELECT count(*) FROM documents) AS avgdl),
text_scored AS (
  SELECT tf.doc_id,
         sum(q.qtf * ln((c.n - vocab.df + 0.5) / (vocab.df + 0.5))
             * (tf.tf * ({k1} + 1.0))
             / (tf.tf + {k1} * (1.0 - {b} + {b} * (dl.dl / c.avgdl)))) AS score
  FROM tf JOIN q USING (term) JOIN vocab USING (term) JOIN dl USING (doc_id)
  CROSS JOIN c GROUP BY tf.doc_id
),
top_a AS (SELECT doc_id, round(score, {ROUND}) AS score FROM text_scored
          ORDER BY round(score, {ROUND}) DESC, doc_id ASC LIMIT {k_each}),
vec_scored AS (
  SELECT vec_id AS doc_id,
         list_dot_product(embedding::DOUBLE[], {qlit})
         / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
            * {qnorm}) AS cos
  FROM embeddings
),
top_b AS (SELECT doc_id, round(cos, {ROUND}) AS score FROM vec_scored
          ORDER BY round(cos, {ROUND}) DESC, doc_id ASC LIMIT {k_each}),
rank_a AS (SELECT doc_id, row_number() OVER
           (ORDER BY score DESC, doc_id ASC) AS rank_a FROM top_a),
rank_b AS (SELECT doc_id, row_number() OVER
           (ORDER BY score DESC, doc_id ASC) AS rank_b FROM top_b),
fused AS (
  SELECT doc_id,
         coalesce(1.0 / ({rrf_k} + rank_a), 0.0)
         + coalesce(1.0 / ({rrf_k} + rank_b), 0.0) AS score
  FROM rank_a FULL OUTER JOIN rank_b USING (doc_id)
)
SELECT doc_id, round(score, {ROUND}) AS score
FROM fused ORDER BY round(score, {ROUND}) DESC, doc_id ASC LIMIT {limit}"""


def multimodal_features_sql(n: int = 100, dim: int = 16,
                            seed: int = 42) -> str:
    """Exact twin of multimodal.synthesize_assets → extract_features →
    feature_rows: the asset payload is unhex(sha256(id ':' seed) ||
    sha256(id ';' seed)), features expand sha256(hex(payload) || ':0')
    digest bytes to k/128 − 1. DuckDB's sha256 is VARCHAR-only, so the
    engine hashes the lowercase-hex payload (see _bytes_features) and
    this oracle never needs blob hashing. Covers dim ≤ 32 (one digest).
    """
    if dim > 32:
        raise ValueError("oracle covers a single digest (dim <= 32)")
    return f"""
WITH ids AS (SELECT range AS asset_id FROM range({n})),
assets AS (
  SELECT asset_id,
         ['image','audio','video'][
           ((('0x' || substr(sha256(asset_id::VARCHAR || ':{seed}'), 1, 2))
             ::UBIGINT % 3)::INT) + 1] AS kind,
         sha256(asset_id::VARCHAR || ':{seed}')
           || sha256(asset_id::VARCHAR || ';{seed}') AS data_hex
  FROM ids
),
digests AS (
  SELECT asset_id, kind, sha256(data_hex || ':0') AS dg FROM assets
),
dims AS (SELECT range::INT AS dim_idx FROM range({dim}))
SELECT asset_id, kind, dim_idx,
       ('0x' || substr(dg, 2 * dim_idx + 1, 2))::UBIGINT::DOUBLE / 128.0
         - 1.0 AS value
FROM digests CROSS JOIN dims"""


def embedding_rows_sql(dim: int = 8, table: str = "documents") -> str:
    """Exact twin of embed.embedding_rows (hashing backend): per-dim
    value = u32(md5(text ':' d)[:8]) / 2^31 − 1, squeezed through the
    same IEEE float32 round-trip the engine's array<float> applies.
    Every pre-round step is exact, so the 6dp round agrees bit-for-bit.
    """
    return f"""
WITH dims AS (SELECT range::INT AS dim_idx FROM range({dim}))
SELECT doc_id, dim_idx,
       round(((('0x' || substr(md5(coalesce(text, '') || ':' || dim_idx::VARCHAR), 1, 8))::UBIGINT)::DOUBLE
              / 2147483648.0 - 1.0)::FLOAT::DOUBLE, {ROUND}) AS value
FROM {table} CROSS JOIN dims"""


def rrf_fusion_sql(query_a: str, query_b: str, k: int = 20,
                   rrf_k: int = 60, limit: int = 10) -> str:
    return f"""WITH {tf_cte('documents')},
qa AS ({_query_values(query_a)}),
qb AS ({_query_values(query_b)}),
vocab AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
dl AS (SELECT doc_id, sum(tf)::BIGINT AS dl FROM tf GROUP BY doc_id),
c AS (SELECT (SELECT count(*) FROM documents)::DOUBLE AS n,
             (SELECT coalesce(sum(tf),0) FROM tf)::DOUBLE
             / (SELECT count(*) FROM documents) AS avgdl),
score_a AS (
  SELECT tf.doc_id,
         sum(qa.qtf * ln((c.n - vocab.df + 0.5) / (vocab.df + 0.5))
             * (tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * (dl.dl / c.avgdl)))) AS score
  FROM tf JOIN qa USING (term) JOIN vocab USING (term) JOIN dl USING (doc_id)
  CROSS JOIN c GROUP BY tf.doc_id
),
score_b AS (
  SELECT tf.doc_id,
         sum(qb.qtf * ln((c.n - vocab.df + 0.5) / (vocab.df + 0.5))
             * (tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * (dl.dl / c.avgdl)))) AS score
  FROM tf JOIN qb USING (term) JOIN vocab USING (term) JOIN dl USING (doc_id)
  CROSS JOIN c GROUP BY tf.doc_id
),
top_a AS (SELECT doc_id, round(score, {ROUND}) AS score FROM score_a
          ORDER BY round(score, {ROUND}) DESC, doc_id ASC LIMIT {k}),
top_b AS (SELECT doc_id, round(score, {ROUND}) AS score FROM score_b
          ORDER BY round(score, {ROUND}) DESC, doc_id ASC LIMIT {k}),
rank_a AS (SELECT doc_id, row_number() OVER
           (ORDER BY score DESC, doc_id ASC) AS rank_a FROM top_a),
rank_b AS (SELECT doc_id, row_number() OVER
           (ORDER BY score DESC, doc_id ASC) AS rank_b FROM top_b),
fused AS (
  SELECT doc_id,
         coalesce(1.0 / ({rrf_k} + rank_a), 0.0)
         + coalesce(1.0 / ({rrf_k} + rank_b), 0.0) AS score
  FROM rank_a FULL OUTER JOIN rank_b USING (doc_id)
)
SELECT doc_id, round(score, {ROUND}) AS score
FROM fused ORDER BY round(score, {ROUND}) DESC, doc_id ASC LIMIT {limit}"""


def deterministic_sample_sql(fraction: float, seed: int = 42,
                             salt: str = "sample",
                             table: str = "documents") -> str:
    """Exact twin of sampling.deterministic_sample (hash_mode='md5'):
    the membership gate is the md5-hex → UBIGINT device the dedup
    family uses, so the sampled SET is cell-identical, not just
    rate-similar. The per-operator salt is part of the hashed string
    (sampling.py ADVICE r5 #4)."""
    from ..operators.sampling import GATE_SPACE

    cut = int(round(fraction * GATE_SPACE))
    return f"""
SELECT doc_id, text, lang
FROM {table}
WHERE ('0x' || substr(md5(doc_id::VARCHAR || '#{salt}#{seed}'), 1, 8))
      ::UBIGINT % {GATE_SPACE} < {cut}"""


def pack_sequences_split_sql(budget: int, n_buckets: int = 8,
                             table: str = "documents") -> str:
    """Exact twin of packing.pack_sequences(split=True,
    bucket_hash_mode='md5'): the bucket assignment is the md5 hash
    gate, the token count is the engine tokenizer spec in RE2, and
    each doc's (seq_first, seq_last, offset) is arithmetic on ONE
    cumulative sum per bucket — the window-cumsum formulation the
    operator's docstring promises has a SQL twin."""
    return f"""
WITH base AS (
  SELECT doc_id,
         (('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::UBIGINT
          % {n_buckets})::INT AS bucket,
         len(list_filter(regexp_extract_all(lower(text),
                                            '{DUCKDB_TOKEN_PATTERN}'),
                         x -> length(x) >= {MIN_TOKEN_LENGTH}))::BIGINT
           AS n_tokens
  FROM {table}
),
pos AS (
  SELECT doc_id, bucket, n_tokens,
         sum(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) AS tok_end
  FROM base WHERE n_tokens > 0
)
SELECT doc_id, bucket, n_tokens,
       ((tok_end - n_tokens) // {budget})::BIGINT AS seq_first,
       ((tok_end - 1) // {budget})::BIGINT AS seq_last,
       ((tok_end - n_tokens) % {budget})::BIGINT AS "offset"
FROM pos"""


# ---------------------------------------------------------------------------
# r7 rotations: span dedup, repetition lens, PII (VERDICT r6 #1)
# ---------------------------------------------------------------------------

def _toks_sql(text: str = "text") -> str:
    """Engine-tokenizer token ARRAY (ordered) in DuckDB."""
    return (
        f"list_filter(regexp_extract_all(lower({text}), "
        f"'{DUCKDB_TOKEN_PATTERN}'), t -> length(t) >= {MIN_TOKEN_LENGTH})"
    )


def drop_duplicated_spans_sql(n: int = 10, source: str = "dupdocs") -> str:
    """Exact twin of dedup.drop_duplicated_spans over the dupdocs
    corpus (injected exact duplicates guarantee repeated spans):
    spans matched by their token STRINGS (the engine's xxhash64 is
    collision-free at test scale), first occurrence by (doc_id, pos),
    every other occurrence's [pos, pos+n) tokens removed, text rebuilt
    from the surviving token stream. The per-token coverage check is
    O(removals) per token — fine at oracle scale; the ENGINE side is
    the interval-merged rewrite."""
    pre = f"WITH {DUPDOCS_CTE}," if source == "dupdocs" else "WITH"
    return f"""{pre}
toks AS (
  SELECT doc_id, {_toks_sql()} AS tk FROM {source}
),
spans AS (
  SELECT doc_id, i - 1 AS pos, array_to_string(tk[i:i+{n - 1}], ' ') AS span
  FROM toks, unnest(range(1, greatest(len(tk) - {n} + 2, 1))) AS u(i)
),
ranked AS (
  SELECT doc_id, pos,
         row_number() OVER (PARTITION BY span ORDER BY doc_id, pos) AS rnk,
         count(*) OVER (PARTITION BY span) AS n_occ
  FROM spans
),
rem AS (
  SELECT doc_id, list(pos ORDER BY pos) AS rps
  FROM ranked WHERE rnk >= 2 AND n_occ >= 2 GROUP BY doc_id
),
j AS (
  SELECT t.doc_id, t.tk, coalesce(r.rps, CAST([] AS BIGINT[])) AS rps
  FROM toks t LEFT JOIN rem r USING (doc_id)
),
kept AS (
  SELECT doc_id, tk,
         list_filter(range(1, len(tk) + 1),
                     i -> len(list_filter(rps,
                              p -> p <= i - 1 AND i - 1 < p + {n})) = 0)
           AS ki
  FROM j
)
SELECT doc_id,
       coalesce(array_to_string(list_transform(ki, i -> tk[i]), ' '), '')
         AS text,
       (len(tk) - len(ki))::INT AS n_tokens_removed
FROM kept"""


def repetition_stats_sql(table: str = "documents") -> str:
    """Exact twin of textstats.repetition_stats (Gopher-style lens):
    dup-line fraction, dup-line char fraction, and the top-bigram
    fraction (word = whitespace token, same split class as
    word_count)."""
    return f"""
WITH L AS (
  SELECT doc_id,
         list_filter(list_transform(string_split_regex(text, '\\r?\\n'),
                                    x -> trim(x)),
                     x -> length(x) > 0) AS lines,
         list_filter(string_split_regex(text, '{WS_RE2}+'),
                     x -> length(x) > 0) AS w
  FROM {table}
), M AS (
  SELECT doc_id, lines, w,
         len(lines) AS n_lines,
         len(list_distinct(lines)) AS n_dl,
         coalesce(list_sum(list_transform(lines, x -> length(x))), 0) AS lc,
         coalesce(list_sum(list_transform(list_distinct(lines),
                                          x -> length(x))), 0) AS dc,
         CASE WHEN len(w) >= 2
              THEN list_transform(range(1, len(w)),
                                  i -> w[i] || ' ' || w[i + 1])
              ELSE CAST([] AS VARCHAR[]) END AS bg
  FROM L
)
SELECT doc_id,
       CAST(n_lines AS INT) AS n_lines,
       round(CASE WHEN n_lines = 0 THEN 0.0
             ELSE (n_lines - n_dl) / CAST(n_lines AS DOUBLE) END, {ROUND})
         AS dup_line_frac,
       round(CASE WHEN lc = 0 THEN 0.0
             ELSE (lc - dc) / CAST(lc AS DOUBLE) END, {ROUND})
         AS dup_line_char_frac,
       round(CASE WHEN len(bg) = 0 THEN 0.0
             ELSE list_max(list_transform(list_distinct(bg),
                    x -> len(list_filter(bg, y -> y = x))))
                  / CAST(len(bg) AS DOUBLE) END, {ROUND})
         AS top_bigram_frac
FROM M"""


def luhn_sql(digits: str) -> str:
    """Luhn checksum predicate over a digits-only VARCHAR expression —
    the DuckDB half of textstats.luhn_valid (identical arithmetic:
    reversed 1-based positions, even positions doubled with 9
    subtracted above 9, sum divisible by 10, 13-19 digits)."""
    d = f"CAST(substr(reverse({digits}), i, 1) AS INT)"
    return (
        f"(coalesce(list_sum(list_transform(range(1, length({digits}) + 1),"
        f" i -> CASE WHEN i % 2 = 0 THEN"
        f" CASE WHEN 2*{d} > 9 THEN 2*{d} - 9 ELSE 2*{d} END"
        f" ELSE {d} END)), 0) % 10 = 0"
        f" AND length({digits}) >= 13)"
    )


def pii_stats_sql(table: str = "documents") -> str:
    """Exact twin of textstats.pii_stats: per-kind regex match counts,
    Luhn-checked credit-card count, and the fully-redacted text (card
    fold first, then the regex kinds in PII_KINDS order — the same
    strings and the same checksum as the engine)."""
    from ..operators.textstats import CC_CANDIDATE_PATTERN, PII_PATTERNS

    e, i, p, s = (PII_PATTERNS[k] for k in ("email", "ipv4", "phone",
                                            "ssn"))
    luhn = luhn_sql("regexp_replace(c, '[^0-9]', '', 'g')")
    red = "list_reduce(list_prepend(text, cc_valid), " \
          "(a, b) -> replace(a, b, '<CREDIT_CARD>'))"
    for k, tok in (("email", "EMAIL"), ("ipv4", "IPV4"),
                   ("phone", "PHONE"), ("ssn", "SSN")):
        red = f"regexp_replace({red}, '{PII_PATTERNS[k]}', '<{tok}>', 'g')"
    return f"""
WITH cands AS (
  SELECT doc_id, text,
         list_filter(regexp_extract_all(text, '{CC_CANDIDATE_PATTERN}'),
                     c -> {luhn}) AS cc_valid
  FROM {table}
)
SELECT doc_id,
       len(regexp_extract_all(text, '{e}'))::INT AS n_email,
       len(regexp_extract_all(text, '{i}'))::INT AS n_ipv4,
       len(regexp_extract_all(text, '{p}'))::INT AS n_phone,
       len(regexp_extract_all(text, '{s}'))::INT AS n_ssn,
       len(cc_valid)::INT AS n_credit_card,
       {red} AS redacted_text
FROM cands"""
