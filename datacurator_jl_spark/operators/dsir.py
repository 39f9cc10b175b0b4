"""DSIR-style importance weighting over hashed bigram features (Xie et
al., NeurIPS 2023, "Data Selection for Language Models via Importance
Resampling"): score every raw document by the log-likelihood ratio of a
target-domain bag-of-hashed-ngrams model against the raw-corpus model,
so that resampling proportional to the weights shifts the corpus toward
the target distribution.

Where this sits next to the other selection tiers: the quality
classifier (functions/classifier.py, d30) scores docs against a FIXED
learned model; ``top_fraction``/``token_budget_sample`` select by any
score; DSIR supplies the PRINCIPLED score when "quality" means "looks
like this target corpus" (e.g. Wikipedia+books) — the importance weight
log p_target(x) - log p_raw(x) under hashed-ngram unigram models.
Reference analogue: the label/score-then-act chain (conditions scoring
content, actions selecting), src/DataCurator.jl:1544-1568, taken to a
corpus-level learned criterion; beyond-reference tier (SURVEY.md §6).

PINNED SEMANTICS (shared by the Arrow builder, the DuckDB twin
generator ``dsir_score_sql``, and the tests' per-row Python mirror):

- token = a ``functions/tokens.py`` match over ``lower(text)``;
  feature = consecutive token bigram "w1 w2"; a doc with < 2 tokens
  (incl. null text) has NO features and scores NULL.
- bucket(g) = first 8 md5 hex chars of ``g + '#' + salt`` as a 64-bit
  int, mod ``n_buckets`` (the portable ``_h32`` contract — DuckDB:
  ``('0x' || substr(md5(g || '#salt'), 1, 8))::BIGINT % B``).
- model: per bucket b, ct[b] = bigram occurrences in the TARGET slice,
  cr[b] = occurrences in the whole raw corpus; with T = Σct, R = Σcr,
  the weight is the add-one-smoothed log ratio quantized to INTEGER
  micro-nats::

      w[b] = round(1e6 * (ln((ct+1)/(T+B)) - ln((cr+1)/(R+B))))

  Quantization is the cross-engine trick (same as d30's integer
  weights): per-doc scores are then exact order-free bigint sums
  ``Σ c[doc,b]·w[b]``, and the single final ``/1e6`` division is
  bit-identical everywhere. The only cross-engine float risk is a
  1-ulp ``ln`` difference landing exactly on a rounding boundary
  (odds ~1e-10 per bucket — documented, not observed).

Scale shape: feature extraction is ONE Arrow pass per doc (per-doc
bucket counts collapse inside the batch — the JVM never sees gram
strings, and a doc ships at most ``min(m-1, n_buckets)`` compact
(bucket, count) pairs). The exploded feature table is the persistable
unit (like ``dedup.signature_table``); the model is ≤ ``n_buckets``
rows and rides as a broadcast — scoring is a broadcast hash join plus
one map-side-combinable per-doc sum. No corpus self-join, no window
function, no driver collect.
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


def _doc_buckets(text, salt: str, n_buckets: int) -> Counter:
    if not isinstance(text, str):
        return Counter()
    toks = TOKEN_RE.findall(text.lower())
    grams = [toks[i] + " " + toks[i + 1] for i in range(len(toks) - 1)]
    return Counter((md5_prefix(grams, "#" + salt) % n_buckets).tolist())


def bigram_buckets_arrow(
    text: Column, n_buckets: int = 65536, salt: str = "dsir_v1"
) -> Column:
    """array<struct<b,c>> of the doc's hashed-bigram bucket counts —
    ONE Arrow batch pass, counts collapsed per doc inside the batch."""
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")

    def batch(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            cnt = _doc_buckets(t, salt, n_buckets)
            out.append([{"b": int(b), "c": int(c)} for b, c in sorted(cnt.items())])
        return pd.Series(out, index=texts.index)

    schema = T.ArrayType(
        T.StructType(
            [T.StructField("b", T.LongType()), T.StructField("c", T.LongType())]
        )
    )
    return F.pandas_udf(batch, returnType=schema)(text)


def dsir_feature_table(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_buckets: int = 65536,
    salt: str = "dsir_v1",
) -> DataFrame:
    """(doc, b, c) rows — the persistable hashed-ngram feature table
    (one row per doc × distinct bucket; already collapsed per doc, so
    no groupBy is needed to build it)."""
    e = df.select(
        F.col(id_col).alias("doc"),
        F.explode(bigram_buckets_arrow(F.col(text_col), n_buckets, salt)).alias("f"),
    )
    return e.select("doc", F.col("f.b").alias("b"), F.col("f.c").alias("c"))


def dsir_model(
    features: DataFrame,
    target_flags: DataFrame,
    n_buckets: int,
    id_col: str = "doc",
    flag_col: str = "tgt",
) -> DataFrame:
    """(b, w) integer micro-nat weights from a feature table and a
    (doc, flag) frame marking the target slice. ct/cr/T/R are exact
    integer aggregates; the totals row (1 row) rides as a broadcast
    cross join — no driver collect, so the model composes lazily."""
    f = features.join(
        target_flags.select(
            F.col(id_col).alias("doc"), F.col(flag_col).alias("_tgt")
        ),
        "doc",
    )
    cnt = f.groupBy("b").agg(
        F.sum(F.when(F.col("_tgt"), F.col("c")).otherwise(F.lit(0))).alias("ct"),
        F.sum("c").alias("cr"),
    )
    tot = cnt.agg(F.sum("ct").alias("t"), F.sum("cr").alias("r"))
    b = float(n_buckets)
    w = F.round(
        F.lit(1000000.0)
        * (
            F.log((F.col("ct") + 1).cast("double") / (F.col("t") + b))
            - F.log((F.col("cr") + 1).cast("double") / (F.col("r") + b))
        )
    ).cast("bigint")
    return cnt.crossJoin(F.broadcast(tot)).select("b", w.alias("w"))


def dsir_scores(
    df: DataFrame,
    id_col: str,
    text_col: str,
    target: Column,
    n_buckets: int = 65536,
    salt: str = "dsir_v1",
    materialize: str = "local",
) -> DataFrame:
    """(id, dsir_score) for every input doc: importance weight of the
    ``target``-slice model against the whole corpus, in nats (NULL for
    docs with < 2 tokens). ``target`` is any boolean Column over ``df``
    (e.g. ``F.col('lang') == 'en'``); null flags count as non-target.

    The feature table is materialized ONCE (both the model aggregate
    and the scoring join read it); the model is broadcast. To score a
    NEW corpus against a persisted model, call ``dsir_feature_table``
    + ``dsir_model`` yourself and join — this convenience derives both
    sides from ``df``, the paper's raw-corpus setup."""
    feats = _materialize(
        dsir_feature_table(df, id_col, text_col, n_buckets, salt), materialize
    )
    flags = df.select(
        F.col(id_col).alias("doc"),
        F.coalesce(target, F.lit(False)).alias("tgt"),
    )
    model = dsir_model(feats, flags, n_buckets)
    sc = (
        feats.join(F.broadcast(model), "b")
        .groupBy("doc")
        .agg(F.sum(F.col("c") * F.col("w")).alias("_micro"))
    )
    return (
        df.select(F.col(id_col).alias("doc"))
        .join(sc, "doc", "left")
        .select(
            F.col("doc").alias(id_col),
            (F.col("_micro") / F.lit(1000000.0)).alias("dsir_score"),
        )
    )


def gumbel_topk(
    df: DataFrame,
    score_col: str,
    k: int,
    id_col: str,
    salt: str = "dsir_resample_v1",
    temperature: float = 1.0,
) -> DataFrame:
    """Deterministic Gumbel top-k: sample ``k`` rows WITHOUT replacement
    with probability proportional to ``exp(score/temperature)`` — the
    DSIR paper's resampling step (Gumbel-top-k trick: adding iid
    Gumbel(0,1) noise to the log-weights and taking the arg-top-k IS a
    weighted sample without replacement). The "noise" is a pure
    function of the row id — ``g = -ln(-ln(u))`` with
    ``u = (_h32(id + '#' + salt) + 1) / (2^32 + 1)`` — so the sample is
    reproducible across retries, resumes, and engines (the
    ``hash_sample`` doctrine applied to weighted sampling; a different
    salt draws an independent sample). Rows with NULL score carry no
    weight and are excluded. The sort key is rounded to 6dp before
    ranking (ties broken by id) so both engines rank identical doubles;
    temperature -> 0 degenerates to plain top-k by score, large
    temperature -> uniform.

    Scale shape: ``orderBy(key).limit(k)`` compiles to
    TakeOrderedAndProject — per-partition top-k heaps merged on the
    driver, no global sort, no full shuffle. For k too large to hold on
    the driver, compose ``top_fraction`` with the same key instead."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if temperature <= 0:
        raise ValueError(f"temperature must be > 0, got {temperature}")
    from datacurator_jl_spark.operators.dedup import _h32

    u = (_h32(F.col(id_col).cast("string"), f"#{salt}") + 1) / F.lit(4294967297.0)
    g = -F.log(-F.log(u))
    key = F.round(F.col(score_col) / F.lit(float(temperature)) + g, 6)
    return (
        df.filter(F.col(score_col).isNotNull())
        .withColumn("_g_key", key)
        .orderBy(F.col("_g_key").desc(), F.col(id_col).asc())
        .limit(k)
        .drop("_g_key")
    )


def dsir_score_sql(
    table: str,
    id_col: str,
    text_col: str,
    target_sql: str,
    n_buckets: int = 65536,
    salt: str = "dsir_v1",
) -> str:
    """DuckDB twin of :func:`dsir_scores` — GENERATED from the same
    (n_buckets, salt, target predicate) so the twins cannot drift.
    Whitespace class spelled explicitly (RE2 ``\\s`` excludes vertical
    tab; repo-wide pin); casts pin BIGINT/DOUBLE parity with Spark."""
    B = int(n_buckets)
    return f"""
    WITH t AS (
      SELECT {id_col} AS doc,
             CASE WHEN coalesce({target_sql}, false) THEN 1 ELSE 0 END AS tgt,
             regexp_extract_all(lower({text_col}), '[^ \\t\\n\\x0b\\f\\r]+') AS toks
      FROM {table}
    ),
    g AS (
      SELECT doc, tgt,
             ((('0x' || substr(md5(toks[i.i] || ' ' || toks[i.i + 1] || '#{salt}'),
                 1, 8))::BIGINT) % {B}) AS b
      FROM t, (SELECT unnest(generate_series(1, greatest(len(toks) - 1, 0))) AS i) i
    ),
    f AS (SELECT doc, tgt, b, count(*)::BIGINT AS c FROM g GROUP BY doc, tgt, b),
    cnt AS (
      SELECT b,
             sum(CASE WHEN tgt = 1 THEN c ELSE 0 END)::BIGINT AS ct,
             sum(c)::BIGINT AS cr
      FROM f GROUP BY b
    ),
    tot AS (SELECT sum(ct)::BIGINT AS t, sum(cr)::BIGINT AS r FROM cnt),
    model AS (
      SELECT b,
             round(1000000.0 * (ln((ct + 1)::DOUBLE / (t + {B})::DOUBLE)
                              - ln((cr + 1)::DOUBLE / (r + {B})::DOUBLE)))::BIGINT AS w
      FROM cnt, tot
    ),
    sc AS (
      SELECT doc, sum(c * w)::BIGINT AS micro
      FROM f JOIN model USING (b) GROUP BY doc
    )
    SELECT d.{id_col}, sc.micro / 1000000.0 AS dsir_score
    FROM {table} d LEFT JOIN sc ON d.{id_col} = sc.doc
    """
