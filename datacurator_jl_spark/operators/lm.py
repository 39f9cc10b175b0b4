"""In-engine hashed bigram language model: train on a target slice,
score every doc by cross-entropy (nats/bigram) — the CCNet-style
perplexity signal (Wenzek et al. 2019 score with a KenLM 5-gram; this is
the engine-native trainable stand-in over hashed bigrams) without any
external LM binary.

This closes the DC_KENLM seam's "real model never executed" gap the same
way operators/distill.py closes DC_QUALITY_MODEL's: every learned-model
seam now has an in-engine trainable twin — classifier (d58), importance
weights (d53), and this LM (d60). The KenLM seam (plans/stages.py)
remains the production path when a real model file exists.

PINNED SEMANTICS (Spark == generated DuckDB twin == the tests' per-row
Python mirror — the dsir integer-determinism posture):

- tokens = ``functions/tokens.py`` over ``lower(text)``; events =
  consecutive token bigrams; a doc with < 2 tokens (incl. null text)
  has no events and scores NULL.
- buckets: ``b2 = bucket("w1 w2")`` and context ``b1 = bucket("w1")``,
  both via the dsir ``_h32(gram + '#' + salt) % B`` contract (DuckDB:
  ``('0x' || substr(md5(gram || '#salt'), 1, 8))::BIGINT % B``).
- model = two count tables over the TARGET slice: ``ct2[b2]`` (bigram
  occurrences) and ``ct1[b1]`` (context occurrences) — exact integer
  aggregates.
- per scored event, add-one / bucket-smoothed log-prob quantized ONCE::

      w(b2, b1) = round(1e6 * ln((ct2[b2] + 1) / (ct1[b1] + B)))

  with absent buckets coalesced to 0 BEFORE the +1/+B smoothing, so
  unseen bigrams/contexts in a new corpus score the uniform backoff —
  never NULL, never -inf. The per-doc sum ``Σ c·w`` is then an exact
  order-free bigint.
- output ``xent = -(Σ c·w) / (m · 1e6)`` with ``m = Σ c`` the doc's
  bigram count — a pure function of exact integers (NO final ``exp``:
  log-space output dodges the exp-rounding-boundary hazard entirely;
  perplexity is ``exp(xent)`` for whoever wants it). The only
  cross-engine float risk is the documented dsir ``ln`` ulp position
  (odds ~1e-10 per event bucket pair).

Scale shape: feature extraction is ONE Arrow pass per doc (events
collapse to (b2, b1, c) triples inside the batch; the JVM never sees
token strings); the feature table is the persistable unit. The model is
two ≤ B-row broadcast tables; scoring = two broadcast left joins + one
partial-combinable per-doc aggregate. No window, no corpus self-join,
no driver collect.
"""

from __future__ import annotations

from collections import Counter

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datacurator_jl_spark.functions.arrow_hash import md5_prefix
from datacurator_jl_spark.functions.tokens import TOKEN_RE
from datacurator_jl_spark.operators.dedup import _materialize


def _doc_events(text, salt: str, n_buckets: int) -> Counter:
    """Per-row Python mirror: Counter of (b2, b1) event buckets."""
    if not isinstance(text, str):
        return Counter()
    toks = TOKEN_RE.findall(text.lower())
    grams = [toks[i] + " " + toks[i + 1] for i in range(len(toks) - 1)]
    # bigram buckets, then their context (first-token) buckets, in one call
    b = (md5_prefix(grams + toks[: len(grams)], "#" + salt) % n_buckets).tolist()
    return Counter(zip(b[: len(grams)], b[len(grams) :]))


def lm_events_arrow(
    text: Column, n_buckets: int = 65536, salt: str = "lm_v1"
) -> Column:
    """array<struct<b2,b1,c>> of the doc's (bigram, context) event
    buckets — ONE Arrow pass, counts collapsed per doc in the batch."""
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")

    def batch(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            cnt = _doc_events(t, salt, n_buckets)
            out.append(
                [
                    {"b2": int(b2), "b1": int(b1), "c": int(c)}
                    for (b2, b1), c in sorted(cnt.items())
                ]
            )
        return pd.Series(out, index=texts.index)

    schema = T.ArrayType(
        T.StructType(
            [
                T.StructField("b2", T.LongType()),
                T.StructField("b1", T.LongType()),
                T.StructField("c", T.LongType()),
            ]
        )
    )
    return F.pandas_udf(batch, returnType=schema)(text)


def lm_feature_table(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_buckets: int = 65536,
    salt: str = "lm_v1",
) -> DataFrame:
    """(doc, b2, b1, c) — the persistable event table (already collapsed
    per doc; build once, train and score from it)."""
    e = df.select(
        F.col(id_col).alias("doc"),
        F.explode(lm_events_arrow(F.col(text_col), n_buckets, salt)).alias("f"),
    )
    return e.select(
        "doc",
        F.col("f.b2").alias("b2"),
        F.col("f.b1").alias("b1"),
        F.col("f.c").alias("c"),
    )


def lm_model(
    features: DataFrame,
    target_flags: DataFrame | None = None,
    id_col: str = "doc",
    flag_col: str = "tgt",
) -> tuple[DataFrame, DataFrame]:
    """Train: exact integer count tables ``((b2, ct2), (b1, ct1))`` over
    the target slice (``target_flags`` = (doc, bool); None ⇒ train on
    every doc in ``features``). Each is ≤ B rows — persist/broadcast."""
    f = features
    if target_flags is not None:
        f = f.join(
            target_flags.select(
                F.col(id_col).alias("doc"), F.col(flag_col).alias("_tgt")
            ).filter(F.col("_tgt")),
            "doc",
            "left_semi",
        )
    ct2 = f.groupBy("b2").agg(F.sum("c").alias("ct2"))
    ct1 = f.groupBy("b1").agg(F.sum("c").alias("ct1"))
    return ct2, ct1


def lm_xent_scores(
    features: DataFrame,
    ct2: DataFrame,
    ct1: DataFrame,
    n_buckets: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """(id_col, xent): cross-entropy in nats/bigram of every doc in
    ``features`` under the (ct2, ct1) model — exact integer event sums,
    one double division, no final exp. Unseen buckets back off to the
    smoothed uniform (coalesce-to-0 before +1/+B)."""
    b = float(n_buckets)
    w = F.round(
        F.lit(1000000.0)
        * F.log(
            (F.coalesce(F.col("ct2"), F.lit(0)) + 1).cast("double")
            / (F.coalesce(F.col("ct1"), F.lit(0)) + F.lit(b))
        )
    ).cast("bigint")
    sc = (
        features.join(F.broadcast(ct2), "b2", "left")
        .join(F.broadcast(ct1), "b1", "left")
        .select("doc", "c", w.alias("w"))
        .groupBy("doc")
        .agg(F.sum(F.col("c") * F.col("w")).alias("h"), F.sum("c").alias("m"))
    )
    return sc.select(
        F.col("doc").alias(id_col),
        (
            -F.col("h").cast("double") / (F.col("m") * F.lit(1000000.0))
        ).alias("xent"),
    )


def lm_xent(
    df: DataFrame,
    id_col: str,
    text_col: str,
    target: Column | None = None,
    n_buckets: int = 65536,
    salt: str = "lm_v1",
    materialize: str = "local",
) -> DataFrame:
    """Convenience: build features once, train on the ``target`` slice
    (None ⇒ whole corpus), score every doc. Docs with < 2 tokens come
    back with NULL xent (left join from ``df``) — the dsir contract."""
    feats = _materialize(
        lm_feature_table(df, id_col, text_col, n_buckets, salt), materialize
    )
    flags = None
    if target is not None:
        flags = df.select(
            F.col(id_col).alias("doc"),
            F.coalesce(target, F.lit(False)).alias("tgt"),
        )
    ct2, ct1 = lm_model(feats, flags)
    sc = lm_xent_scores(feats, ct2, ct1, n_buckets, id_col="doc")
    return df.select(F.col(id_col).alias("doc")).join(sc, "doc", "left").select(
        F.col("doc").alias(id_col), "xent"
    )


def lm_xent_sql(
    target_sql: str | None = None,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 65536,
    salt: str = "lm_v1",
) -> str:
    """DuckDB twin of :func:`lm_xent`, GENERATED so constants cannot
    drift (the dsir_score_sql pattern). ``target_sql`` selects the
    training doc ids (one column); None trains on the whole corpus.
    Whitespace class spelled explicitly (RE2 ``\\s`` excludes vtab)."""
    ws = r"[^ \t\n\x0b\f\r]+"
    bkt = "('0x' || substr(md5({g} || '#" + salt + "'), 1, 8))::BIGINT % " + str(
        n_buckets
    )
    tgt = (
        f"ev.doc IN ({target_sql})" if target_sql is not None else "TRUE"
    )
    return f"""
    WITH toks AS (
      SELECT {id_col} AS doc,
             regexp_extract_all(lower({text_col}), '{ws}') AS ts
      FROM {table} WHERE {text_col} IS NOT NULL
    ),
    ev AS (
      SELECT doc,
             {bkt.format(g="(ts[i.i] || ' ' || ts[i.i + 1])")} AS b2,
             {bkt.format(g="ts[i.i]")} AS b1,
             count(*) AS c
      FROM toks, (SELECT unnest(generate_series(1, len(ts) - 1)) AS i) i
      GROUP BY doc, b2, b1
    ),
    ct2 AS (SELECT b2, sum(c) AS ct2 FROM ev WHERE {tgt} GROUP BY b2),
    ct1 AS (SELECT b1, sum(c) AS ct1 FROM ev WHERE {tgt} GROUP BY b1),
    sc AS (
      SELECT ev.doc,
             sum(ev.c * CAST(round(1000000.0 * ln(
               (coalesce(ct2.ct2, 0) + 1)::DOUBLE
               / (coalesce(ct1.ct1, 0) + {float(n_buckets)}))) AS BIGINT)) AS h,
             sum(ev.c) AS m
      FROM ev LEFT JOIN ct2 USING (b2) LEFT JOIN ct1 USING (b1)
      GROUP BY ev.doc
    )
    SELECT d.{id_col},
           -(CAST(sc.h AS DOUBLE) / (sc.m * 1000000.0)) AS xent
    FROM {table} d LEFT JOIN sc ON sc.doc = d.{id_col}
    """
