"""Hashed linear classifier (functions/classifier.py): value identity
of the Arrow kernel and the Python oracle (DuckDB via d30; the
independent per-row reference is in tests/test_tokens.py), null
semantics, the DC_QUALITY_MODEL json seam, and recipe-condition wiring."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from datacurator_jl_spark.functions.classifier import (
    classifier_score_py,
    linear_score,
    linear_score_arrow,
    load_linear_model,
)

ROWS = [
    (1, "The quick brown fox jumps over the lazy dog"),
    (2, "the THE tHe"),              # case folding + multiplicity
    (3, "word"),
    (4, ""),                          # zero tokens -> null
    (5, "   \t\n"),                   # whitespace only -> null
    (6, None),                        # null text -> null
    (7, "unicode naïve café tokens"),
]


@pytest.fixture()
def docs(spark):
    return spark.createDataFrame(ROWS, "id long, text string")


def test_arrow_python_identity(docs):
    out = docs.select("id", linear_score_arrow(F.col("text")).alias("a")).collect()
    texts = dict(ROWS)
    for r in out:
        py = classifier_score_py(texts[r["id"]])
        assert r["a"] == py, (r["id"], r["a"], py)


def test_null_semantics(docs):
    got = {
        r["id"]: r["s"]
        for r in docs.select("id", linear_score_arrow(F.col("text")).alias("s")).collect()
    }
    assert got[4] is None and got[5] is None and got[6] is None
    assert got[1] is not None


def test_score_is_case_insensitive_and_counts_multiplicity(spark):
    df = spark.createDataFrame(
        [(1, "the THE"), (2, "the"), (3, "the the the")], "id long, text string"
    )
    got = {
        r["id"]: r["s"]
        for r in df.select("id", linear_score_arrow(F.col("text")).alias("s")).collect()
    }
    # all tokens identical after folding -> mean weight is the same
    assert got[1] == got[2] == got[3]


def test_json_model_seam(docs, tmp_path, monkeypatch):
    model = {"n_buckets": 8, "weights": [float(i) for i in range(8)], "bias": 0.5}
    p = tmp_path / "q.json"
    p.write_text(json.dumps(model))
    # explicit path beats env; env beats stand-in
    a = docs.select("id", linear_score(F.col("text"), model_path=str(p)).alias("s"))
    standin = docs.select("id", linear_score(F.col("text")).alias("s"))
    ga = {r["id"]: r["s"] for r in a.collect()}
    gs = {r["id"]: r["s"] for r in standin.collect()}
    assert ga != gs
    # model scores = bias + mean(w[bucket]) with all weights >= 0 -> >= bias
    assert all(v >= 0.5 for k, v in ga.items() if v is not None)
    assert ga[6] is None  # null text still null under a model
    monkeypatch.setenv("DC_QUALITY_MODEL", str(p))
    ge = {
        r["id"]: r["s"]
        for r in docs.select("id", linear_score(F.col("text")).alias("s")).collect()
    }
    assert ge == ga


def test_load_linear_model_validates(tmp_path):
    p = tmp_path / "bad.json"
    p.write_text(json.dumps({"n_buckets": 4, "weights": [1.0]}))
    with pytest.raises(ValueError, match="entries"):
        load_linear_model(str(p))
    with pytest.raises(ValueError, match="entries"):
        linear_score_arrow(F.lit("x"), n_buckets=4, weights=[1.0])


def test_classifier_condition_in_recipe(spark):
    from datacurator_jl_spark.engine import Pipeline
    from datacurator_jl_spark.recipe import parse_recipe
    from datacurator_jl_spark.testing.oracle import oracle_labels

    rows = [
        ("u%d" % i, t)
        for i, t in enumerate(
            [
                "good wholesome educational content here",
                "spam spam spam buy now",
                "",
                None,
                "another normal document with plain words",
            ]
        )
    ]
    df = spark.createDataFrame(rows, "url string, text string")
    spec = parse_recipe(
        {
            "global": {"act_on_success": True},
            "any": {
                "conditions": [["classifier_score_above", -0.05]],
                "actions": ["keep"],
            },
        }
    )
    out = Pipeline(spec).apply(df).df.toPandas().sort_values("url")
    ora = oracle_labels(df.toPandas(), spec).sort_values("url")
    kept_spark = set(out["url"])
    kept_ora = set(ora[ora["keep"]]["url"])
    assert kept_spark == kept_ora


# ---- compression ratio (functions/compress.py) ----


def test_compression_ratio_arrow_matches_python(spark):
    from datacurator_jl_spark.functions.compress import (
        compression_ratio_arrow,
        compression_ratio_py,
    )

    rows = [
        (1, "abc " * 200),                      # highly repetitive -> low
        (2, "The quick brown fox jumps over the lazy dog."),
        (3, ""),                                # empty -> null
        (4, None),                              # null -> null
        (5, "naïve café — unicode bytes"),      # utf-8 BYTE lengths
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    got = {
        r["id"]: r["c"]
        for r in df.select(
            "id", compression_ratio_arrow(F.col("text")).alias("c")
        ).collect()
    }
    for i, t in rows:
        assert got[i] == compression_ratio_py(t), (i, got[i])
    assert got[3] is None and got[4] is None
    assert got[1] < 0.1 < got[2]  # repetition compresses far below prose


def test_compression_condition_in_recipe(spark):
    from datacurator_jl_spark.engine import Pipeline
    from datacurator_jl_spark.recipe import parse_recipe
    from datacurator_jl_spark.testing.oracle import oracle_labels

    rows = [
        ("u1", "abc " * 300),   # too repetitive -> outside band
        ("u2", "plain prose with a reasonable mix of words and letters"),
        ("u3", None),
    ]
    df = spark.createDataFrame(rows, "url string, text string")
    spec = parse_recipe(
        {
            "global": {"act_on_success": True},
            "any": {
                "conditions": [["compression_ratio_between", [0.3, 1.1]]],
                "actions": ["keep"],
            },
        }
    )
    out = Pipeline(spec).apply(df).df.toPandas().sort_values("url")
    ora = oracle_labels(df.toPandas(), spec).sort_values("url")
    assert list(out["dc_kept"]) == list(ora["keep"])
    assert list(out["dc_rule_id"]) == list(ora["rule_id"])
