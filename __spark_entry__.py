"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship recipe-driven quality filter on the
sf0.001 documents table. ``queries()`` / ``oracle_sql()`` expose every
oracle-checked operator (see datacurator_jl_spark/queries.py).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: recipe-compiled web-text quality filter over the sf0.001
    documents table -> (doc_id, keep, rule_id, quality, lang_pred)."""
    from pyspark.sql import functions as F

    from datacurator_jl_spark.engine import Pipeline
    from datacurator_jl_spark.functions import text as X
    from datacurator_jl_spark.functions.arrow_stats import token_stats_arrow
    from datacurator_jl_spark.recipe import parse_recipe

    spec = parse_recipe(
        {
            "global": {"act_on_success": True, "name_col": "doc_id", "text_col": "text"},
            "any": {
                "conditions": [
                    "has_text",
                    ["min_length", 100],
                    ["word_count_between", [10, 10000]],
                    ["symbol_ratio_below", 0.1],
                    ["word_repetition_below", 0.7],
                    ["min_stopword_hits", 1],
                    "always",
                ],
                "actions": ["keep_going"] * 6 + ["keep"],
                "counter_actions": ["drop"] * 6 + ["keep_going"],
            },
        }
    )
    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    res = Pipeline(spec).apply(df)
    t = F.col("text")
    s = F.col("_s")
    return res.df.withColumn("_s", token_stats_arrow(t)).select(
        "doc_id",
        F.col("dc_kept").alias("keep"),
        F.col("dc_rule_id").alias("rule_id"),
        F.round(X.quality_score(t, s), 6).alias("quality"),
        X.lang_id(t, s).alias("lang_pred"),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from datacurator_jl_spark.queries import QUERIES

    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    from datacurator_jl_spark.queries import ORACLES

    return dict(ORACLES)
