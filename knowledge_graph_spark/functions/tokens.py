"""Tokenization kernels.

The reference tokenizes with tiktoken cl100k_base (reference config.py:10,
utils/__init__.py:18-25).  tiktoken is optional here: if importable it is
used (loaded once per executor inside the Arrow batch iterator); otherwise a
deterministic whitespace tokenizer — which is also expressible in ANSI SQL
(``regexp_split``) so the chunker stage can be oracle-checked — is the
fallback.  Token COUNTING is exposed as a native Column expression
(whitespace path, codegen-friendly) and as a BPE-ish pandas UDF estimate.
"""

from __future__ import annotations

import re
from typing import Callable

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import types as T
from pyspark.sql import functions as F

try:  # optional dependency — absent in this sandbox
    import tiktoken

    _ENC = tiktoken.get_encoding("cl100k_base")
except Exception:  # pragma: no cover
    tiktoken = None
    _ENC = None

_WS_RE = re.compile(r"\s+")

# BPE-ish word/number/punctuation splitter for token-count estimation
# (public GPT-2 pre-tokenizer pattern family).
_BPEISH_RE = re.compile(r"[A-Za-z]+|[0-9]+|[^\sA-Za-z0-9]")


def ws_tokens(text: str) -> list[str]:
    """Whitespace tokens, empties dropped — matches SQL
    ``list_filter(regexp_split_to_array(text,'\\s+'), x -> x <> '')``."""
    return [t for t in _WS_RE.split(text) if t]


def get_tokenizer(kind: str = "auto") -> Callable[[str], list[str]]:
    """Return text -> token-string list.  'auto' prefers tiktoken."""
    if kind in ("auto", "cl100k") and _ENC is not None:
        enc = _ENC

        def tok(text: str) -> list[str]:
            return [enc.decode([t]) for t in enc.encode(text)]

        return tok
    return ws_tokens


def ws_token_count(col: Column) -> Column:
    """Native whitespace token count (no UDF): size of non-empty splits."""
    return F.size(F.filter(F.split(F.trim(col), r"\s+"), lambda x: x != F.lit("")))


@F.pandas_udf(T.IntegerType())
def bpeish_token_count(s: pd.Series) -> pd.Series:
    """BPE-ish token-count estimate (letters / digits / punct runs)."""
    return s.map(lambda t: len(_BPEISH_RE.findall(t)) if t is not None else 0).astype("int32")
