"""The shared word-stats struct, ``token_stats_arrow``: the one Spark
route for every word-derived heuristic in ``functions/text.py``.

Why Arrow: a JVM higher-order-function fold over the words array is
CodegenFallback — interpreted row-at-a-time — and measurably
ANTI-scales on a shared JVM heap (10.3s on 8 cores -> 33.7s on 32 cores
for 1M docs: allocation contention). The Arrow path runs in per-core
Python worker PROCESSES (no shared heap) with C-backed pandas ops: 8x
faster single-threaded and process-parallel. This is the north-star's
sanctioned pattern (batched pandas/Arrow stages), not per-row Python.

Semantics are pinned to the DuckDB oracle and ``testing/oracle.py``:
token = a ``functions/tokens.py`` token of the lowercased text,
PUNCT_STRIP chars deleted, exact set membership. tests/test_tokens.py
checks the batch kernel against a per-row reference.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pa_compute
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datacurator_jl_spark.functions.text import (
    _ALLOWED,
    PUNCT_STRIP,
    STAT_SETS,
    STATS_FIELDS,
)
from datacurator_jl_spark.functions.tokens import token_codes


def _re2_class_escape(ch: str) -> str:
    """Escape one char for use inside an RE2 character class."""
    if ch in "\\]^-[":
        return "\\" + ch
    o = ord(ch)
    if o < 32:
        return f"\\x{o:02x}"
    return ch


#: negated RE2 class over EXACTLY text._ALLOWED — one count_substring_regex
#: pass == length(translate(text, _ALLOWED, '')) (single-char matches
#: cannot overlap; RE2 negated classes match per code point, same unit
#: Spark's length()/translate() count)
_SYMBOL_RE = "[^" + "".join(_re2_class_escape(c) for c in _ALLOWED) + "]"

_STATS_TYPE = T.StructType(
    [T.StructField(name, T.IntegerType()) for name in STATS_FIELDS]
)

#: the PUNCT_STRIP characters as one RE2 class: deleting every match is
#: ``str.translate`` with those characters removed
_PUNCT_RE = "[" + "".join(_re2_class_escape(c) for c in PUNCT_STRIP) + "]"

#: (field, Arrow value set) in STAT_SETS order
_SET_ARRAYS = [(name, pa.array(ws, pa.string())) for name, ws in STAT_SETS.items()]


def _token_stats_batch(texts: pd.Series) -> pd.DataFrame:
    """Round-7 shape (guide §4.2): ``tokens.token_codes`` over the
    lowered batch, per-UNIQUE-token normalization + set membership
    (Arrow ``replace_substring_regex`` + ``is_in`` over the token
    dictionary), and C-speed ``bincount`` aggregations —
    replacing a per-row ``re.findall`` + object ``explode`` +
    ``factorize`` (measured on the 1M-doc corpus: tokenize+code 490 ms
    -> 61 ms per 20k-doc batch) which itself replaced a
    ``groupby.nunique`` plus one ``str.isin`` pass per stat set over
    every token occurrence. Values are pinned identical: nw = token
    count, nd = distinct RAW (lowercased) tokens, set counts =
    occurrences whose PUNCT_STRIP-normalized form is a member.
    Lowercasing stays Python ``str.lower`` (the pinned case
    semantics) — it is 9 ms of the batch, not the cost center."""
    n = len(texts)
    raw = texts.fillna("")
    out = pd.DataFrame(index=texts.index, columns=list(STATS_FIELDS), data=0)
    # -- round-7 char/line stats over the RAW text (empty-string
    #    semantics for null; lowercasing can CHANGE length — e.g.
    #    'İ'.lower() is two code points — so these never read lowered
    #    text).
    #    One RE2 class count replaces each JVM translate re-scan; the
    #    line-distinct count rides the same dictionary_encode + unique-
    #    pair trick as ``nd``. Computed before the token early-return:
    #    an all-whitespace batch still has nl=ndl=1 per doc.
    arr_raw = pa.Array.from_pandas(raw)
    nchars = pa_compute.utf8_length(arr_raw).to_numpy(zero_copy_only=False)
    nws = pa_compute.count_substring_regex(
        arr_raw, r"[ \t\n\x0b\x0c\r]"
    ).to_numpy(zero_copy_only=False)
    out["ncnw"] = nchars - nws
    out["nsym"] = pa_compute.count_substring_regex(
        arr_raw, _SYMBOL_RE
    ).to_numpy(zero_copy_only=False)
    ln = pa_compute.split_pattern(arr_raw, "\n")
    llen = pa_compute.list_value_length(ln).to_numpy(zero_copy_only=False)
    out["nl"] = llen
    lenc = pa_compute.dictionary_encode(pa_compute.list_flatten(ln))
    lcodes = lenc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
    lrows = np.repeat(np.arange(n, dtype=np.int64), llen)
    luniq = len(lenc.dictionary)
    lup = np.unique(lrows * luniq + lcodes)
    out["ndl"] = np.bincount(lup // luniq, minlength=n)
    # -- token stats over the LOWERED text
    rows, codes, uniques = token_codes(raw.str.lower())
    if not uniques:
        return out.astype("int32")
    out["nw"] = np.bincount(rows, minlength=n)
    nuniq = len(uniques)
    # nd: distinct raw tokens per row = distinct (row, token-code) pairs
    up = np.unique(rows * nuniq + codes)
    out["nd"] = np.bincount(up // nuniq, minlength=n)
    norm = pa_compute.replace_substring_regex(
        pa.array(uniques, pa.string()), _PUNCT_RE, ""
    )
    for name, value_set in _SET_ARRAYS:
        member = pa_compute.is_in(norm, value_set=value_set)
        hit_rows = rows[member.to_numpy(zero_copy_only=False)[codes]]
        if hit_rows.size:
            out[name] = np.bincount(hit_rows, minlength=n)
    return out.astype("int32")


def token_stats_arrow(text: Column) -> Column:
    """struct(STATS_FIELDS) via a scalar pandas UDF.

    Built lazily (pandas_udf needs an active session to resolve types).
    """
    udf = F.pandas_udf(_token_stats_batch, returnType=_STATS_TYPE)
    return udf(text)
