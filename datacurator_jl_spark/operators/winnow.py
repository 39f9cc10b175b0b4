"""Winnowing fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD 2003):
the local-minimum k-gram fingerprint selection behind MOSS-style
partial-overlap detection — two documents sharing ANY sufficiently long
substring of tokens are guaranteed to share a fingerprint, at ~2/(w+1)
the storage of the full gram set.

Where this sits next to the other dedup tiers: exact/minhash/Jaccard
answer "are these documents mostly the same?"; containment answers
"is A inside B?"; winnowing answers "do A and B share a long enough
RUN?" — the partial-plagiarism / quote-reuse / template-splice signal
none of the set-based measures give (a 10-line shared passage inside
two otherwise unrelated pages moves Jaccard by ~0 but must surface a
shared fingerprint). Reference analogue: the content-addressed file
grouping / prefix-stacking ideas (src/DataCurator.jl:2806-2851) taken
to sub-document granularity; beyond-reference tier (SURVEY.md §6).

PINNED SEMANTICS (shared by the Arrow builder, the DuckDB oracle, and
the tests' per-row Python mirror):

- token = a ``functions/tokens.py`` match over ``lower(text)``;
  gram i (1-based) = tokens i..i+k-1 joined by one space; a doc with
  fewer than k tokens (incl. null text) has NO fingerprints.
- gram hash = first 15 md5 hex chars of the gram's UTF-8 bytes as a
  60-bit bigint — exactly the simhash word-hash recipe
  (functions/arrow_hash.py), so DuckDB reproduces it bit-for-bit:
  ``('0x' || substr(md5(gram), 1, 15))::BIGINT``.
- fingerprints = DISTINCT window minima: window j covers gram hashes
  j..j+w-1 (m-w+1 windows over m grams); a doc with 1 <= m < w yields
  the single global min. Classic winnowing's rightmost-tie RULE picks
  which POSITION is recorded; the selected VALUE set is tie-invariant,
  and only values are emitted — so the tie rule is moot here (pinned
  by test).

Scale shape: fingerprint extraction is ONE Arrow pass per doc (the
sliding-window min runs inside the batch, numpy-vectorized — no gram
explode, no per-gram shuffle, no window function over the corpus);
each doc ships ~2m/(w+1) bigints. Pair generation is the standard
bucketed equi-join on the fingerprint value through the shared
``dedup._capped_self_join`` guard — identical machinery (and identical skew
posture) to the LSH band join, because a fingerprint IS a content
bucket key: a boilerplate passage shared by 10⁷ pages is one hot key,
and the cap drops the degenerate KEY, not the corpus.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datacurator_jl_spark.functions.arrow_hash import md5_prefix
from datacurator_jl_spark.functions.tokens import TOKEN_RE
from datacurator_jl_spark.operators.dedup import _capped_self_join, _materialize
from datacurator_jl_spark.operators.dataframe_ops import validate_unique_ids


def _winnow_one(toks: list[str], k: int, w: int) -> list[int]:
    """Per-doc mirror (also the tests' independent oracle): gram
    hashes -> distinct sliding-window minima, sorted for determinism."""
    m = len(toks) - k + 1
    if m < 1:
        return []
    # 15 hex digits = the 60-bit gram hash
    h = md5_prefix([" ".join(toks[i : i + k]) for i in range(m)], hexchars=15)
    if m <= w:
        return [int(h.min())]
    mins = np.lib.stride_tricks.sliding_window_view(h, w).min(axis=1)
    return sorted(int(v) for v in set(mins.tolist()))


def winnow_fingerprints_arrow(text: Column, k: int = 3, w: int = 4) -> Column:
    """array<bigint> of the doc's winnowed fingerprint VALUES (distinct,
    sorted). One Arrow batch pass; the JVM never sees the gram arrays."""
    if k < 1 or w < 1:
        raise ValueError(f"k and w must be >= 1, got k={k} w={w}")

    def batch(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            if not isinstance(t, str):
                out.append([])
                continue
            out.append(_winnow_one(TOKEN_RE.findall(t.lower()), k, w))
        return pd.Series(out, index=texts.index)

    udf = F.pandas_udf(batch, returnType=T.ArrayType(T.LongType()))
    return udf(text)


def winnow_fingerprint_table(
    df: DataFrame, id_col: str, text_col: str, k: int = 3, w: int = 4
) -> DataFrame:
    """(doc, fp) rows — the persistable fingerprint index (the winnowing
    analogue of ``dedup.signature_table``; at warehouse scale this is
    what an incremental ingest joins against instead of re-gramming the
    corpus)."""
    return df.select(
        F.col(id_col).alias("doc"),
        F.explode(winnow_fingerprints_arrow(F.col(text_col), k, w)).alias("fp"),
    )


def winnow_sql(table: str, id_col: str, text_col: str, k: int = 3, w: int = 4) -> str:
    """DuckDB twin of :func:`winnow_fingerprint_table` — GENERATED from
    the same (k, w) so the two cannot drift. Whitespace class spelled
    explicitly (RE2 ``\\s`` excludes vertical tab; repo-wide pin)."""
    return f"""
    WITH t AS (
      SELECT {id_col} AS doc,
             regexp_extract_all(lower({text_col}), '[^ \\t\\n\\x0b\\f\\r]+') AS toks
      FROM {table}
    ),
    g AS (
      SELECT doc, i.i AS pos,
             ('0x' || substr(md5(array_to_string(toks[i.i:i.i+{k - 1}], ' ')), 1, 15))::BIGINT AS h
      FROM t, (SELECT unnest(generate_series(1, greatest(len(toks) - {k} + 1, 0))) AS i) i
    ),
    wm AS (
      SELECT doc, pos,
             min(h) OVER (PARTITION BY doc ORDER BY pos
                          ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING) AS fp,
             count(*) OVER (PARTITION BY doc) AS m
      FROM g
    )
    SELECT DISTINCT doc, fp FROM wm
    WHERE pos <= greatest(m - {w} + 1, 1)
    """


def winnow_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    w: int = 4,
    min_shared: int = 2,
    max_bucket: int | None = 1000,
    materialize: str = "local",
    validate_ids: bool = True,
) -> DataFrame:
    """(id_a, id_b, shared) pairs of docs sharing >= ``min_shared``
    winnowed fingerprints — the shared-passage candidate generator.

    Same plan family as ``lsh_candidate_pairs``: materialize the
    fingerprint table once, self-join it on ``fp`` through
    ``dedup._capped_self_join`` (a fingerprint bucket over
    ``max_bucket`` yields no pairs), then a pair count (map-side
    combinable). ``min_shared``
    > 1 suppresses single-collision noise the way the winnowing paper
    recommends thresholding matched fingerprints."""
    if min_shared < 1:
        raise ValueError(f"min_shared must be >= 1, got {min_shared}")
    if validate_ids:
        validate_unique_ids(df, id_col, "winnow_candidate_pairs")
    fps = _materialize(
        winnow_fingerprint_table(df, id_col, text_col, k, w), materialize
    )
    return (
        _capped_self_join(fps, ["fp"], max_bucket)
        .groupBy(F.col("a.doc").alias("id_a"), F.col("b.doc").alias("id_b"))
        .agg(F.count("*").alias("shared"))
        .filter(F.col("shared") >= min_shared)
    )
