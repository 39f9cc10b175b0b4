"""Gopher-style repetition statistics, one Arrow pass per document.

The canonical web-text repetition filters (Rae et al. 2021 "Scaling
Language Models: ... Gopher", Table A1; also used by RefinedWeb/FineWeb):
fraction of characters inside the most frequent word n-gram (n=2..4),
fraction of characters inside duplicated word n-grams (n=5..10), and the
duplicated line / paragraph fractions. These are the graft analogue of
the reference's per-file content-describe ops (describe_image 8-moment
stats, src/DataCurator.jl:902-916) applied to the web-text domain: one
deterministic stat vector per document, usable as recipe conditions.

PINNED SEMANTICS (all three implementations — this Arrow pass, the
DuckDB oracle SQL in queries.d21, the per-row Python oracle in
testing/oracle.py — are value-identical; tests enforce):

- token = a ``functions/tokens.py`` match over ``lower(text)``.
- word n-gram = n consecutive tokens; its char length = sum of token
  lengths + (n-1) (i.e. the length of the space-joined string).
- ``top{n}`` (n in 2..4) = max over distinct n-grams occurring >= 2
  times of ``count * charlen / len(text)``, capped at 1.0 (overlapping
  occurrences can exceed the text length); 0.0 when nothing repeats.
  NB the Gopher paper takes the *most frequent* n-gram, which is
  ambiguous under count ties; max of ``count*charlen`` is deterministic
  and upper-bounds it.
- ``dup{n}`` (n in 5..10) = sum over distinct n-grams occurring >= 2
  times of ``(count-1) * charlen / len(text)``, capped at 1.0.
- lines = non-empty elements of ``text.split('\\n')`` (RAW text, case
  preserved); paragraphs = non-empty elements of ``text.split('\\n\\n')``.
- ``dup_line_frac`` = (#lines - #distinct lines) / #lines, 0.0 when no
  non-empty lines; ``dup_line_char_frac`` = sum of ``(count-1) *
  len(line)`` over repeated lines / len(text) (lines are disjoint, so
  this never exceeds 1). Paragraph twins likewise.
- null text -> the all-zero struct (matches arrow_stats' zero struct).

Why Arrow and not a native Column expr: per-document n-gram counting
needs a per-row hash map — the same reason the minhash signatures run as
an Arrow pass (functions/arrow_hash.py). The per-core Python worker
processes scale where an interpreted HOF fold anti-scales on a shared
JVM heap. One UDF computes ALL 13 fields, so the engine pre-projects a
single ``_dc_rep`` struct shared by every repetition rule.
"""

from __future__ import annotations

from collections import Counter

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datacurator_jl_spark.functions.tokens import TOKEN_RE

TOP_NS = (2, 3, 4)
DUP_NS = (5, 6, 7, 8, 9, 10)

REP_FIELDS = (
    *[f"top{n}" for n in TOP_NS],
    *[f"dup{n}" for n in DUP_NS],
    "dup_line_frac",
    "dup_line_char_frac",
    "dup_para_frac",
    "dup_para_char_frac",
)

_REP_TYPE = T.StructType(
    [T.StructField(name, T.DoubleType()) for name in REP_FIELDS]
)


def rep_stats_doc(t: str | None) -> list[float]:
    """Per-document reference computation (REP_FIELDS order).

    Shared by the Arrow batch below; tests also call it directly on edge
    cases. Kept allocation-lean: Counter over token tuples (C-speed
    hashing, no string joins)."""
    if t is None:
        return [0.0] * len(REP_FIELDS)
    nc = len(t)
    toks = TOKEN_RE.findall(t.lower())
    out: list[float] = []
    for n in TOP_NS:
        best = 0
        if len(toks) >= n:
            counts = Counter(zip(*[toks[i:] for i in range(n)]))
            for g, k in counts.items():
                if k >= 2:
                    v = k * (sum(map(len, g)) + n - 1)
                    if v > best:
                        best = v
        out.append(min(1.0, best / nc) if nc else 0.0)
    for n in DUP_NS:
        tot = 0
        if len(toks) >= n:
            counts = Counter(zip(*[toks[i:] for i in range(n)]))
            tot = sum(
                (k - 1) * (sum(map(len, g)) + n - 1)
                for g, k in counts.items()
                if k >= 2
            )
        out.append(min(1.0, tot / nc) if nc else 0.0)
    for delim in ("\n", "\n\n"):
        parts = [p for p in t.split(delim) if p != ""]
        if parts and nc:
            counts = Counter(parts)
            out.append((len(parts) - len(counts)) / len(parts))
            out.append(sum((k - 1) * len(p) for p, k in counts.items()) / nc)
        else:
            out.extend((0.0, 0.0))
    return out


def _rep_stats_batch(texts: pd.Series) -> pd.DataFrame:
    # pandas surfaces SQL NULL as None or NaN depending on dtype
    rows = [rep_stats_doc(t if isinstance(t, str) else None) for t in texts]
    return pd.DataFrame(rows, index=texts.index, columns=list(REP_FIELDS))


def rep_stats_arrow(text: Column) -> Column:
    """struct(top2..top4, dup5..dup10, dup_line_frac, dup_line_char_frac,
    dup_para_frac, dup_para_char_frac) via a scalar pandas UDF.

    Built lazily (pandas_udf needs an active session to resolve types).
    """
    udf = F.pandas_udf(_rep_stats_batch, returnType=_REP_TYPE)
    return udf(text)
