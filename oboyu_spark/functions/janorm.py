"""Optional Japanese-specific normalization (reference N1-N3).

The reference chains ftfy → neologdn → conditional zen-to-han for
language=="ja" (crawler/services/encoding_detector.py:89-127) and uses
MeCab via fugashi for morphological tokenization
(common/services/tokenizer.py:95-172). None of those libraries is an
engine dependency; for tokenization the engine takes the reference's
own degradation path, the fallback tokenizer (tokenizer.py:348-353).

This module keeps the same degradation contract: each feature is gated
behind an import-try; ``available()`` reports what's live; the UDF
factories raise loudly (not silently skip) when a caller explicitly
requests an unavailable step.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

try:  # pragma: no cover - not installed in this container
    import ftfy as _ftfy
except ImportError:
    _ftfy = None
try:  # pragma: no cover
    import neologdn as _neologdn
except ImportError:
    _neologdn = None
try:  # pragma: no cover
    import mojimoji as _mojimoji
except ImportError:
    _mojimoji = None


def available() -> dict[str, bool]:
    return {
        "ftfy": _ftfy is not None,
        "neologdn": _neologdn is not None,
        "mojimoji": _mojimoji is not None,
    }


# ---------------------------------------------------------------------------
# Lib-free lite tier (N1-N3 fallback): NFKC + wave-dash removal +
# prolonged-sound-run collapse + line-ending standardization.
#
# APPROXIMATE vs the full chain: no mojibake repair (ftfy) and none of
# neologdn's exhaustive repeat-shortening / inter-JP space removal —
# but it reproduces the reference's own normalization TESTS
# (tests/crawler/test_japanese.py:35-57, test_encoding_detector.py:163)
# with zero dependencies: NFKC subsumes zen-to-han for digits/ASCII
# (mojimoji.zen_to_han(kana=False) over U+FF01-FF5E + U+3000) and
# additionally folds half-width kana to full-width, which neologdn's
# NFKC pass does too.
# ---------------------------------------------------------------------------

_ZEN_ASCII = "".join(chr(c) for c in range(0xFF01, 0xFF5F))  # ！..～
_HAN_ASCII = "".join(chr(c) for c in range(0x21, 0x7F))      # !..~


def zen_to_han_expr(col):
    """Full-width ASCII/digit → half-width as a codegen'd JVM
    ``translate`` (plus ideographic space → space): the width-only slice
    of the lite chain for hot paths that can't afford a python UDF.
    Kana are untouched (mojimoji zen_to_han(kana=False) semantics)."""
    return F.translate(col, "　" + _ZEN_ASCII, " " + _HAN_ASCII)


def py_ja_normalize_lite(text: str | None) -> str:
    """Driver-side / oracle twin of ja_normalize_lite_udf."""
    import re
    import unicodedata

    if not text:
        return ""
    t = unicodedata.normalize("NFKC", text)
    # neologdn removes wave dashes/tildes entirely (its test contract);
    # NFKC already folded U+FF5E to ~
    t = re.sub("[~∼∽〜〰]", "", t)
    # collapse prolonged-sound-mark runs (ーー → ー), neologdn-style
    t = re.sub("ー{2,}", "ー", t)
    # reference N4: unix line endings, at most one blank line
    t = t.replace("\r\n", "\n").replace("\r", "\n")
    t = re.sub(r"\n{3,}", "\n\n", t)
    return t


def ja_normalize_lite_udf():
    """The lib-free N1-N3 fallback as one vectorized pandas UDF. Always
    available; use ``ja_normalize_udf`` when the real libraries are
    installed on the executors."""

    @F.pandas_udf(T.StringType())
    def _norm(s: pd.Series) -> pd.Series:
        return s.map(py_ja_normalize_lite)

    return _norm


def ja_normalize_udf(fix_text: bool = True, neologdn_norm: bool = True,
                     zen_to_han: bool = True):
    """N1-N3 chain as one vectorized pandas UDF. Raises ImportError up
    front if a requested step's library is missing."""
    if fix_text and _ftfy is None:
        raise ImportError("ftfy not installed — pass fix_text=False or "
                          "install ftfy on the executors")
    if neologdn_norm and _neologdn is None:
        raise ImportError("neologdn not installed")
    if zen_to_han and _mojimoji is None:
        raise ImportError("mojimoji not installed")

    @F.pandas_udf(T.StringType())
    def _norm(s: pd.Series) -> pd.Series:  # pragma: no cover
        def one(text: str | None) -> str:
            if not text:
                return ""
            if fix_text:
                text = _ftfy.fix_text(text)
            if neologdn_norm:
                text = _neologdn.normalize(text)
            if zen_to_han:
                text = _mojimoji.zen_to_han(text, kana=False)
            return text

        return s.map(one)

    return _norm

