"""Normalization + tokenization — the scalar text layer.

Parity target is the reference's FallbackTokenizer
(/root/reference/src/oboyu/common/services/tokenizer.py:263-302):
``re.findall(r"[hiragana|katakana|CJK]+|[a-zA-Z0-9]+", text.lower())``
then drop tokens shorter than ``min_token_length`` (default 2) and
optional stop-words. The morphological (MeCab) tokenizer is an optional
path the reference itself degrades from; its dependencies are not
available here.

Three mutually-consistent dialects of the same token spec are kept in
sync (pinned by tests/test_tokenizer.py):

- ``tokens_expr``      — Spark JVM expression (regexp_extract_all +
                         filter): whole-stage-codegen'd, the hot path at
                         scale. No Python in the loop at all.
- ``tokenize_udf``     — vectorized Arrow pandas UDF (Series.str ops):
                         the parity/extensibility path (NFKC, future
                         morphological tokenizer slot in per-executor
                         singleton style).
- ``py_tokenize``      — plain Python, used driver-side for query
                         tokenization (reference tokenizes queries with
                         the same tokenizer: tokenizer.py:374-376) and
                         by the pure-Python test oracle.

DuckDB (RE2) equivalents for the driver's SQL oracle are exposed as
``DUCKDB_TOKEN_PATTERN`` / SQL snippet builders in plans/oracle_sql.py.
"""

from __future__ import annotations

import re
import unicodedata
from typing import Iterable

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Token spec: runs of Japanese script (hiragana, katakana, CJK unified)
# OR runs of ASCII alphanumerics, over the lower-cased text.
# Identical escape syntax is valid Python-re and Java-regex:
TOKEN_PATTERN = "[぀-ゟ゠-ヿ一-鿿]+|[a-zA-Z0-9]+"
# RE2 (DuckDB regexp_extract_all) spelling of the same pattern:
DUCKDB_TOKEN_PATTERN = (
    r"[\x{3040}-\x{309f}\x{30a0}-\x{30ff}\x{4e00}-\x{9fff}]+|[a-zA-Z0-9]+"
)
MIN_TOKEN_LENGTH = 2

# Whitespace spec for normalization: ASCII whitespace plus NBSP and
# ideographic space — spelled explicitly so Python re, Java regex and
# RE2 agree (bare ``\s`` is unicode-aware in Python but ASCII-only in
# Java/RE2).
_WS_CLASS_JAVA = "[\\s\\u00a0\\u3000]"
_WS_CLASS_RE2 = r"[\s\x{00a0}\x{3000}]"
_WS_RE_PY = re.compile("[\\s 　]+")

_TOKEN_RE_PY = re.compile(TOKEN_PATTERN)


# ---------------------------------------------------------------------------
# Normalization (reference: indexer/core/text_normalizer.py:13-27 (N5))
# ---------------------------------------------------------------------------

def collapse_whitespace(col: Column) -> Column:
    """All whitespace runs -> single space, then trim (reference N5)."""
    return F.trim(F.regexp_replace(col, _WS_CLASS_JAVA + "+", " "))


def normalize_text_expr(col: Column) -> Column:
    """Full deterministic normalization chain used for BM25 documents."""
    return collapse_whitespace(col)


def py_normalize_text(text: str | None) -> str:
    """Pure-Python mirror of normalize_text_expr (oracle / invariants)."""
    if not text:
        return ""
    return _WS_RE_PY.sub(" ", text).strip()


# ---------------------------------------------------------------------------
# Tokenization
# ---------------------------------------------------------------------------

def tokens_expr(
    col: Column,
    min_token_length: int = MIN_TOKEN_LENGTH,
    stop_words: Iterable[str] | None = None,
) -> Column:
    """JVM-side tokenizer: array<string> of filtered tokens.

    Entirely built-in expressions (lower / regexp_extract_all / filter)
    so it stays inside whole-stage codegen — preferred for the 100 TB
    index-build hot path.
    """
    toks = F.regexp_extract_all(F.lower(col), F.lit(TOKEN_PATTERN), 0)
    stops = sorted(set(stop_words)) if stop_words else None

    def keep(t: Column) -> Column:
        cond = F.length(t) >= min_token_length
        if stops:
            cond = cond & ~t.isin(stops)
        return cond

    return F.filter(toks, keep)


def tokenize_udf(
    min_token_length: int = MIN_TOKEN_LENGTH,
    stop_words: Iterable[str] | None = None,
    nfkc: bool = False,
):
    """Vectorized Arrow pandas UDF tokenizer (parity path).

    Mirrors FallbackTokenizer.tokenize exactly; optional NFKC mirrors
    the reference's JapaneseTokenizer._normalize_text pre-step
    (tokenizer.py:231-248).
    """
    stops = frozenset(stop_words) if stop_words else frozenset()
    min_len = int(min_token_length)

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def _tok(s: pd.Series) -> pd.Series:
        s = s.fillna("")
        if nfkc:
            s = s.map(lambda x: unicodedata.normalize("NFKC", x))
        found = s.str.lower().str.findall(_TOKEN_RE_PY)
        if stops:
            return found.map(
                lambda ts: [t for t in ts if len(t) >= min_len and t not in stops]
            )
        return found.map(lambda ts: [t for t in ts if len(t) >= min_len])

    return _tok


def py_tokenize(
    text: str | None,
    min_token_length: int = MIN_TOKEN_LENGTH,
    stop_words: Iterable[str] | None = None,
    nfkc: bool = False,
) -> list[str]:
    """Pure-Python tokenizer — query-side and oracle-side."""
    if not text:
        return []
    if nfkc:
        text = unicodedata.normalize("NFKC", text)
    stops = set(stop_words) if stop_words else set()
    out = []
    for tok in _TOKEN_RE_PY.findall(text.lower()):
        if len(tok) >= min_token_length and tok not in stops:
            out.append(tok)
    return out


def py_term_frequencies(text: str | None, **kw) -> dict[str, int]:
    """Term -> tf map (reference tokenizer.py:294-302)."""
    tf: dict[str, int] = {}
    for tok in py_tokenize(text, **kw):
        tf[tok] = tf.get(tok, 0) + 1
    return tf
