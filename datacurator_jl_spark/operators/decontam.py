"""Benchmark decontamination: flag training documents sharing word
n-grams with an evaluation/benchmark set.

The standard pre-training hygiene step (GPT-3 appendix C / PaLM /
FineWeb use 8..13-gram overlap): any document that shares at least one
word n-gram with the benchmark corpus is contaminated and is dropped or
flagged before training. The reference has no such op (it curates
microscopy files); this belongs to the beyond-reference LLM-pipeline
tier (SURVEY.md §6), next to dedup and the repetition filters.

PINNED SEMANTICS:
- token = a ``functions/tokens.py`` match over ``lower(text)``;
  n-gram = n consecutive tokens joined by a single space.
- hits = number of DISTINCT n-grams of the document that occur anywhere
  in the benchmark set; contaminated = hits > 0.
- null text or fewer than n tokens -> hits 0, contaminated false.

Scale shape: the benchmark gram set is distinct-ed and BROADCAST —
benchmarks are tiny next to a 100-TB corpus (millions of grams, not
billions), so the per-document probe is a broadcast hash semi-join with
no shuffle on the corpus side; the only corpus-side work is the gram
explode + one groupBy(id) count of matches (partial aggregation, and
only matching grams reach the aggregate). Grams are built in ONE Arrow
pass (per-doc distinct inside the batch — no corpus-wide distinct
shuffle). n is the knob: larger n shrinks both the gram fan-out overlap
rate and the broadcast set.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datacurator_jl_spark.functions.tokens import TOKEN_RE


def word_ngrams_arrow(text: Column, n: int, distinct: bool = False) -> Column:
    """array<string> of space-joined word n-grams in document order;
    empty when the doc has fewer than n tokens (incl. null text). With
    ``distinct`` each gram appears once, order not guaranteed (callers
    explode/join, never index). Vectorized batch in per-core Python
    workers; the JVM never builds the gram arrays."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")

    def batch(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            if not isinstance(t, str):
                out.append([])
                continue
            toks = TOKEN_RE.findall(t.lower())
            if len(toks) < n:
                out.append([])
                continue
            grams = (
                " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
            )
            out.append(list(set(grams)) if distinct else list(grams))
        return pd.Series(out, index=texts.index)

    udf = F.pandas_udf(batch, returnType=T.ArrayType(T.StringType()))
    return udf(text)


def benchmark_ngrams(bench_df: DataFrame, text_col: str, n: int) -> DataFrame:
    """The distinct benchmark gram set — one column ``gram``."""
    return (
        bench_df.select(
            F.explode(word_ngrams_arrow(F.col(text_col), n)).alias("gram")
        )
        .distinct()
    )


def dup_ngram_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    materialize: str = "local",
    validate_ids: bool = True,
) -> DataFrame:
    """Per-document duplicated-n-gram fraction — the cross-document
    "dup fraction" signal of Lee et al., *Deduplicating Training Data
    Makes Language Models Better* (2022): of a document's DISTINCT word
    n-grams, the fraction that occurs in >= 2 distinct documents
    corpus-wide. High values flag templated/syndicated/near-duplicate
    content that doc-level dedup (whole-text or minhash) can miss when
    only parts of the page repeat.

    PINNED SEMANTICS (shared with :func:`decontaminate`):
    - token/gram pins as the module docstring; grams are per-doc
      DISTINCT; doc frequency of a gram = number of distinct documents
      containing it.
    - output per input row: ``n_grams`` (distinct grams), ``dup_grams``
      (those with doc freq >= 2), ``dup_fraction`` = dup/total rounded
      to 6dp; docs with fewer than n tokens (incl. null text) get
      (0, 0, 0.0).

    Scale shape: the (id, gram) frame is materialized ONCE (policy as
    dedup's ``materialize=``), then ONE gram-frequency hash aggregate
    (map-side combine collapses within-partition repeats) and ONE
    shuffle equi-join back on the gram key (both sides partitioned by
    gram — AQE skew-split applies; nothing needs to be broadcastable),
    then one per-doc aggregate. A viral gram is one row after the
    partial agg, not a hot reduce key.
    """
    from datacurator_jl_spark.operators.dedup import _materialize

    clash = [c for c in ("n_grams", "dup_grams", "dup_fraction") if c in df.columns]
    if clash:
        raise ValueError(
            f"dup_ngram_stats: output column(s) {clash} already exist in "
            "the input — rename or drop them first"
        )
    if validate_ids:
        from datacurator_jl_spark.operators.dataframe_ops import (
            validate_unique_ids,
        )

        validate_unique_ids(df, id_col, "dup_ngram_stats")
    grams = word_ngrams_arrow(F.col(text_col), n, distinct=True)
    dg = _materialize(
        df.select(F.col(id_col).alias("_dc_id"), F.explode(grams).alias("gram")),
        materialize,
    )
    freq = dg.groupBy("gram").agg(F.count("*").alias("_dc_df"))
    per_doc = (
        dg.join(freq, "gram")
        .groupBy("_dc_id")
        .agg(
            F.count("*").cast("int").alias("n_grams"),
            F.sum(F.when(F.col("_dc_df") >= 2, 1).otherwise(0))
            .cast("int")
            .alias("dup_grams"),
        )
    )
    out = df.join(per_doc, df[id_col] == per_doc["_dc_id"], "left").drop("_dc_id")
    return out.select(
        *df.columns,
        F.coalesce(F.col("n_grams"), F.lit(0)).alias("n_grams"),
        F.coalesce(F.col("dup_grams"), F.lit(0)).alias("dup_grams"),
        F.round(
            F.when(
                F.coalesce(F.col("n_grams"), F.lit(0)) > 0,
                F.col("dup_grams").cast("double") / F.col("n_grams"),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("dup_fraction"),
    )


def decontaminate(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bench_df: DataFrame,
    bench_text_col: str | None = None,
    n: int = 8,
    drop: bool = False,
    hits_col: str = "hits",
    flag_col: str = "contaminated",
    validate_ids: bool = True,
) -> DataFrame:
    """All original columns plus ``hits_col`` (int, distinct shared
    n-grams) and ``flag_col`` (bool). With ``drop=True``, contaminated
    rows are removed instead (no marker columns added).

    The marker column names are parameters and COLLIDING with an
    existing input column raises (silently clobbering a user's ``hits``
    column would corrupt their data). ``id_col`` must be unique — the
    hit counts come back through a left join on it, so duplicate ids
    would multiply rows; ``validate_ids`` (default on) probes and
    raises, same guard as dedup_paragraphs."""
    if not drop:
        if hits_col == flag_col:
            raise ValueError(
                "decontaminate: hits_col and flag_col must differ "
                f"(both {hits_col!r})"
            )
        clash = [c for c in (hits_col, flag_col) if c in df.columns]
        if clash:
            raise ValueError(
                f"decontaminate: output column(s) {clash} already exist "
                "in the input — pass hits_col=/flag_col= to rename"
            )
    if validate_ids:
        from datacurator_jl_spark.operators.dataframe_ops import (
            validate_unique_ids,
        )

        validate_unique_ids(df, id_col, "decontaminate")
    bench = F.broadcast(benchmark_ngrams(bench_df, bench_text_col or text_col, n))
    # per-doc distinct (no shuffle) — a corpus-wide .distinct() would
    # shuffle every gram of every document just to deduplicate within
    # documents, which (id, gram) uniqueness already gives us
    doc_grams = df.select(
        F.col(id_col).alias("_dc_id"),
        F.explode(word_ngrams_arrow(F.col(text_col), n, distinct=True)).alias("gram"),
    )
    hits = (
        doc_grams.join(bench, "gram")
        .groupBy("_dc_id")
        .agg(F.count(F.lit(1)).cast("int").alias("_dc_hits"))
    )
    out = (
        df.join(hits, df[id_col] == hits["_dc_id"], "left")
        .drop("_dc_id")
        .withColumn("_dc_hits", F.coalesce(F.col("_dc_hits"), F.lit(0)))
    )
    if drop:
        return out.filter(~(F.col("_dc_hits") > 0)).drop("_dc_hits")
    return out.withColumn(flag_col, F.col("_dc_hits") > 0).withColumnRenamed(
        "_dc_hits", hits_col
    )
