"""Distill rule labels into the hashed linear quality classifier — an
in-engine logistic-regression trainer (full-batch gradient descent) over
the same hashed bag-of-words features ``functions/classifier.py`` scores
with, so the recipe's keep/drop decisions (or any weak label) become a
LEARNED model the existing ``DC_QUALITY_MODEL`` seam can serve.

This is the FineWeb-Edu / fastText-supervised loop closed inside the
engine: label a slice with the rule chain (cheap, exact), fit the linear
probe on Spark (this module), export the weights
(:func:`to_quality_model`), and score the full corpus through the
already-shipped Arrow stage (``linear_score_arrow(weights=...)``) — no
side-channel training framework. Reference analogue: the
label/score-then-act chain (conditions scoring content, actions
selecting), /root/reference/src/DataCurator.jl:1544-1568, taken to a
learned criterion; beyond-reference training-data tier (SURVEY.md §6).

PINNED SEMANTICS (Spark loop == generated DuckDB twin == the tests'
per-row Python mirror — the dsir/e09 integer-determinism posture):

- tokens = ``functions/tokens.py`` over ``lower(text)`` WITH
  multiplicity (exactly the classifier's token stream); feature
  bucket(tok) = ``_h32(tok + '#' + salt) % n_buckets`` — the scorer's
  own ``classifier.token_buckets``, so trained weights index the same
  table the scorer reads.
- model: ``p(doc) = sigmoid(bias + (Σ_b c_b · w_b) / dl)`` — the
  scorer's ``bias + mean(w[bucket(tok)])`` parameterization, so an
  exported model drops into ``linear_score_arrow`` unchanged.
- weights/bias live as INTEGER micro-units (w_u = 1e6·w). Per-doc
  margins are then ``(bias_u + s/dl) / 1e6`` with ``s = Σ c·w_u`` an
  EXACT order-free bigint sum; every float enters as a pure function of
  exact integers. |s| ≤ dl·max|w_u| — at lr=100 and a few iterations,
  < 2^63 for any doc under ~10^4 tokens per unit weight; document-scale
  safe (same bounded-int argument as e09's centroid sums).
- init: w_u = 0 over the training corpus's distinct buckets;
  ``bias_u = round(1e6 · ln((n_pos + 0.5) / (n − n_pos + 0.5)))`` — the
  smoothed label log-odds, a pure function of the exact integer label
  counts. Starting at the base rate keeps the first residuals centered,
  so the aggressive default lr drives the WEIGHTS instead of slamming
  the bias past saturation on imbalanced labels (the cold-start
  failure: 90%-keep labels at lr=100 jump the bias to ~+40 in one
  step and sigmoid flatlines).
- per iteration t (exactly ``iters`` iterations, no convergence probe):
  residual ``r_u = round(1e6 · (sigmoid(m) − y))`` (bigint, per doc);
  per-(doc, b) gradient quantum ``gq = round((r_u · c) / dl)`` (bigint);
  updates ``w_u ← w_u − round(lr · Σ gq / N)`` and
  ``bias_u ← bias_u − round(lr · Σ r_u / N)`` with N = training docs.
  All ``round``s are the half-away-from-zero convention Spark/DuckDB
  share (the Python mirror must NOT use banker's ``round``).
- training rows = docs with ≥ 1 token AND a non-null label; the final
  score is ``round(p, 6)`` over exactly those docs. The only
  cross-engine float risk is a 1-ulp ``exp`` difference landing on a
  rounding boundary (odds ~1e-10/doc/iter — the documented dsir ``ln``
  position).

Scale shape: the feature table (doc, b, c, dl) is built in ONE Arrow
pass (per-doc counts collapse inside the batch; the JVM never sees token
strings) and materialized once — the persistable unit. Per iteration:
one broadcast join (weights ≤ n_buckets rows) + one groupBy(doc) partial
agg for margins, one join-back on doc + one groupBy(b) partial agg for
gradients — margins and the residual join share the doc hash
partitioning, so Spark reuses the exchange. Weights are re-materialized
per iteration (iteration k never replays 1..k−1); the only driver
scalars are N (once) and the one-row bias gradient per iteration
(mode_filter precedent). No window, no cartesian, no corpus collect.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datacurator_jl_spark.functions.classifier import token_buckets
from datacurator_jl_spark.functions.tokens import token_codes
from datacurator_jl_spark.operators.dedup import (
    _materialize_spread,
    _round_away,
)


def unigram_buckets_arrow(
    text: Column, n_buckets: int = 1024, salt: str = "qw1"
) -> Column:
    """array<struct<b,c>> of the doc's hashed-unigram bucket counts —
    ONE Arrow pass, counts collapsed per doc inside the batch (the dsir
    bigram builder's unigram twin, classifier bucket function).

    Round-7 kernel (guide §4.2): code the batch's tokens once,
    md5-bucket each batch-UNIQUE token, count per (row, bucket) with one
    ``np.unique`` — replacing a per-doc Python Counter that re-hashed
    every token OCCURRENCE (tests/test_tokens.py holds the per-row
    mirror)."""
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")

    def batch(texts: pd.Series) -> pd.Series:
        import numpy as np

        rows, codes, uniques = token_codes(texts.str.lower())
        out_lists: list = [[] for _ in range(len(texts))]
        bks = token_buckets(uniques, n_buckets, salt)
        uk, cnt = np.unique(rows * n_buckets + bks[codes], return_counts=True)
        for k, c in zip(uk.tolist(), cnt.tolist()):
            out_lists[k // n_buckets].append({"b": k % n_buckets, "c": c})
        return pd.Series(out_lists, index=texts.index)

    schema = T.ArrayType(
        T.StructType(
            [T.StructField("b", T.LongType()), T.StructField("c", T.LongType())]
        )
    )
    return F.pandas_udf(batch, returnType=schema)(text)


def unigram_feature_table(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 1024,
    salt: str = "qw1",
) -> DataFrame:
    """(doc, b, c, dl): exploded hashed-unigram counts + doc length in
    tokens. Docs with zero tokens contribute no rows (they cannot be
    trained or scored — the scorer's null contract). Persist this like
    ``dedup.signature_table``; it serves every (re)fit."""
    feats = df.select(
        F.col(id_col).alias("doc"),
        unigram_buckets_arrow(F.col(text_col), n_buckets, salt).alias("fs"),
    ).filter(F.size("fs") > 0)
    # dl = Σ c folded from the per-doc array BEFORE the explode
    # (round-7, guide §2.4): the old shape exploded first and then
    # re-derived dl with a groupBy + join-back — two shuffles to
    # recompute a value the array already held. The HOF fold is
    # interpreted but runs over ≤ n_buckets-element arrays once per
    # doc; values identical.
    ex = feats.select(
        "doc",
        F.aggregate(
            "fs", F.lit(0).cast("long"), lambda a, x: a + x["c"]
        ).alias("dl"),
        F.explode("fs").alias("f"),
    )
    return ex.select(
        "doc", F.col("f.b").alias("b"), F.col("f.c").alias("c"), "dl"
    )


def lr_fit(
    feats: DataFrame,
    labels: DataFrame,
    iters: int = 2,
    lr: float = 100.0,
    materialize: str = "local",
) -> tuple[DataFrame, int]:
    """Fit the logistic model; returns ``(weights, bias_u)`` where
    weights = (b, w) with w in integer micro-units over exactly the
    buckets the training corpus exercises (absent bucket ⇒ weight 0),
    and ``bias_u`` is the integer micro-unit bias.

    ``feats`` is :func:`unigram_feature_table` output; ``labels`` is
    (doc, y) with y ∈ {0.0, 1.0} double — build it from the engine's
    keep/drop output, a rule condition, or hand labels. Null-y docs are
    excluded from training.
    """
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    train = feats.join(
        labels.select(
            F.col(labels.columns[0]).alias("doc"),
            F.col(labels.columns[1]).cast("double").alias("y"),
        ).filter(F.col("y").isNotNull()),
        "doc",
    )
    # round-7 iteration shape (guide §2.4): materialize ONE
    # per-doc ARRAY frame (doc, dl, y, fs=[(b,c)...]) instead of the
    # exploded rows — each iteration's margin sum then folds the array
    # against an O(1)-indexed weight-array literal in a pure
    # projection: no per-iteration broadcast join, no groupBy(doc)
    # shuffle, and no residual checkpoint (r is a deterministic scalar
    # of cached inputs, recomputed inline by the two tiny aggregates
    # that consume it). All sums stay exact integers, so the fit is
    # bit-equal to the old join+shuffle shape.
    train_arr = _materialize_spread(
        train.groupBy("doc", "dl", "y").agg(
            F.collect_list(F.struct("b", "c")).alias("fs")
        ),
        materialize,
    )
    counts = train_arr.agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").alias("np")
    ).collect()[0]
    n = int(counts["n"])
    if n == 0:
        raise ValueError("lr_fit: empty training set (no labeled docs "
                         "with >= 1 token)")
    n_pos = float(counts["np"])
    import math

    bias_u = _round_away(
        1000000.0 * math.log((n_pos + 0.5) / (float(n) - n_pos + 0.5))
    )
    # round-7: the weight vector is ≤ n_buckets rows BY CONSTRUCTION —
    # hold it driver-side as a dict and rebuild the (tiny, literal)
    # broadcast frame per iteration instead of checkpointing a
    # distributed weights frame each step. The update arithmetic is the
    # SAME exact-integer expression the plan computed —
    # ``w_u -= round_half_away(lr * Σgq / N)`` with the identical
    # (lr * g) / n float evaluation order — so weights are bit-equal to
    # the old shape (the bias update below already used this pattern).
    spark = feats.sparkSession
    w_dict: dict = {}

    def margin_r():
        """Per-doc residual r as a pure projection over train_arr: the
        margin sum folds fs against the weight-array literal (exact
        integer adds, O(1) indexed lookups; try_element_at + coalesce
        covers in-range gaps with the same 0 an absent weight row
        meant). Deterministic, so the two aggregates below can both
        inline it without a checkpoint."""
        if w_dict:
            w_arr = F.lit([int(w_dict.get(i, 0)) for i in range(max(w_dict) + 1)])
            s = F.aggregate(
                "fs",
                F.lit(0).cast("long"),
                lambda a, x: a
                + x["c"]
                * F.coalesce(
                    F.try_element_at(w_arr, (x["b"] + F.lit(1)).cast("int")),
                    F.lit(0).cast("long"),
                ),
            )
        else:
            s = F.lit(0).cast("long")  # all weights are zero at init
        m = (
            F.lit(int(bias_u)).cast("double")
            + s.cast("double") / F.col("dl").cast("double")
        ) / F.lit(1000000.0)
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-m))
        return (
            F.round(F.lit(1000000.0) * (p - F.col("y")), 0)
            .cast("long")
            .alias("r")
        )

    for _ in range(int(iters)):
        gq = train_arr.select(
            margin_r(), "dl", F.explode("fs").alias("f")
        ).select(
            F.col("f.b").alias("b"),
            F.round(
                F.col("r").cast("double") * F.col("f.c") / F.col("dl"), 0
            )
            .cast("long")
            .alias("gq"),
        )
        grad = gq.groupBy("b").agg(F.sum("gq").alias("g")).collect()
        gb = (
            train_arr.select(margin_r())
            .agg(F.sum("r").alias("g"))
            .collect()[0]["g"]
        )
        # apply AFTER both aggregates: they must see the same weights
        for row in grad:
            w_dict[int(row["b"])] = w_dict.get(int(row["b"]), 0) - _round_away(
                float(lr) * float(row["g"]) / float(n)
            )
        bias_u -= int(
            _round_away(float(lr) * float(gb) / float(n))
        )
    return (
        spark.createDataFrame(
            [(b, wv) for b, wv in sorted(w_dict.items())], "b long, w long"
        ),
        bias_u,
    )


def lr_scores(
    feats: DataFrame, weights: DataFrame, bias_u: int, id_col: str = "doc_id"
) -> DataFrame:
    """(id_col, score): round(sigmoid(margin), 6) under the trained
    model, over exactly the docs present in ``feats`` (≥ 1 token).
    Buckets unseen at fit time carry weight 0 (left join + coalesce)."""
    s = (
        feats.join(F.broadcast(weights), "b", "left")
        .groupBy("doc", "dl")
        .agg(F.sum(F.col("c") * F.coalesce(F.col("w"), F.lit(0))).alias("s"))
    )
    m = (
        F.lit(int(bias_u)).cast("double")
        + F.col("s").cast("double") / F.col("dl").cast("double")
    ) / F.lit(1000000.0)
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-m))
    return s.select(
        F.col("doc").alias(id_col), F.round(p, 6).alias("score")
    )


def to_quality_model(
    weights: DataFrame, bias_u: int, n_buckets: int
) -> dict:
    """Export the fit as the ``DC_QUALITY_MODEL`` JSON payload
    (``{"n_buckets": B, "weights": [float × B], "bias": f}``) —
    ``linear_score_arrow(weights=..., bias=...)`` then scores
    ``bias + mean(w[bucket(tok)])``, which IS this model's margin, so
    ``sigmoid(classifier_score)`` reproduces :func:`lr_scores` (modulo
    the scorer's float-mean vs the trainer's exact-int sum — identical
    to ~1e-12 in practice; the trainer's own scorer stays the exact
    path). The collect is ≤ n_buckets rows — driver-bounded by
    construction."""
    wv = [0.0] * int(n_buckets)
    for row in weights.collect():
        wv[int(row["b"])] = row["w"] / 1000000.0
    return {
        "n_buckets": int(n_buckets),
        "weights": wv,
        "bias": bias_u / 1000000.0,
    }


def distill_score_sql(
    label_sql: str,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 1024,
    salt: str = "qw1",
    iters: int = 2,
    lr: float = 100.0,
) -> str:
    """DuckDB twin of ``lr_fit`` + ``lr_scores``, GENERATED so the
    constants and iteration count can never drift from the Spark call
    (the bm25_topk_sql / dsir_score_sql pattern): the ``iters``
    gradient steps unroll as CTE chains (the e09 pattern).
    ``label_sql`` must select (doc, y double) — e.g. the d04 oracle's
    keep column CASE'd to 1.0/0.0. Whitespace class spelled explicitly
    (RE2 ``\\s`` excludes vertical tab)."""
    ws = r"[^ \t\n\x0b\f\r]+"
    bucket = (
        f"('0x' || substr(md5(tok || '#{salt}'), 1, 8))::BIGINT % {n_buckets}"
    )
    parts = [
        f"""
    WITH labels AS ({label_sql}),
    toks AS (
      SELECT {id_col} AS doc, unnest(regexp_extract_all(lower({text_col}), '{ws}')) AS tok
      FROM {table} WHERE {text_col} IS NOT NULL
    ),
    feats AS (
      SELECT doc, b, count(*) AS c FROM (
        SELECT doc, {bucket} AS b FROM toks)
      GROUP BY doc, b
    ),
    dls AS (SELECT doc, sum(c) AS dl FROM feats GROUP BY doc),
    train AS (
      SELECT f.doc, f.b, f.c, d.dl, l.y
      FROM feats f JOIN dls d USING (doc)
      JOIN labels l ON l.doc = f.doc
      WHERE l.y IS NOT NULL
    ),
    n AS (SELECT count(DISTINCT doc) AS n FROM train),
    w0 AS (SELECT DISTINCT b, CAST(0 AS BIGINT) AS w FROM train),
    bias0 AS (
      SELECT CAST(round(1000000.0 * ln((sum(y) + 0.5) / (count(*) - sum(y) + 0.5))) AS BIGINT) AS bu
      FROM (SELECT DISTINCT doc, y FROM train)
    )"""
    ]
    for t in range(1, int(iters) + 1):
        parts.append(f""",
    m{t} AS (
      SELECT s.doc, s.dl, s.y,
             ((SELECT bu FROM bias{t-1}) + CAST(s.s AS DOUBLE) / CAST(s.dl AS DOUBLE))
             / 1000000.0 AS m
      FROM (SELECT doc, dl, y, sum(c * w) AS s
            FROM train JOIN w{t-1} USING (b) GROUP BY doc, dl, y) s
    ),
    r{t} AS (
      SELECT doc, dl,
             CAST(round(1000000.0 * (1.0 / (1.0 + exp(-m)) - y)) AS BIGINT) AS r
      FROM m{t}
    ),
    grad{t} AS (
      SELECT b, sum(gq) AS g FROM (
        SELECT f.b, CAST(round((CAST(r.r AS DOUBLE) * f.c) / f.dl) AS BIGINT) AS gq
        FROM train f JOIN r{t} r USING (doc))
      GROUP BY b
    ),
    w{t} AS (
      SELECT w.b,
             w.w - CAST(coalesce(
               round({lr} * CAST(g.g AS DOUBLE) / (SELECT n FROM n)), 0) AS BIGINT) AS w
      FROM w{t-1} w LEFT JOIN grad{t} g USING (b)
    ),
    bias{t} AS (
      SELECT (SELECT bu FROM bias{t-1})
             - CAST(round({lr} * CAST((SELECT sum(r) FROM r{t}) AS DOUBLE)
                          / (SELECT n FROM n)) AS BIGINT) AS bu
    )""")
    parts.append(f"""
    SELECT s.doc AS {id_col},
           round(1.0 / (1.0 + exp(-(
             ((SELECT bu FROM bias{int(iters)})
              + CAST(s.s AS DOUBLE) / CAST(s.dl AS DOUBLE)) / 1000000.0))), 6) AS score
    FROM (SELECT doc, dl, sum(c * w) AS s
          FROM train JOIN w{int(iters)} USING (b) GROUP BY doc, dl) s
    """)
    return "".join(parts)
