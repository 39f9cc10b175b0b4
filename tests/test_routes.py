"""Every condition that reads a shared struct (``registry.SHARED_COLS``)
has one route: a condition compiled on its own, with a bare
``RuleContext``, builds the same Arrow kernel the engine pre-projects,
so it decides exactly as the same rule does under ``Pipeline.apply``.

The rows include null, empty and whitespace-only text, where a second
route would most likely drift (null ⇒ zero struct, empty-string line
semantics).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datacurator_jl_spark.engine import Pipeline
from datacurator_jl_spark.recipe import parse_recipe
from datacurator_jl_spark.registry import (
    CLASSIFIER_CONDITIONS,
    COMPRESSION_CONDITIONS,
    REPSTATS_CONDITIONS,
    RuleContext,
    compile_condition,
)

#: word-stat conditions (the ``_dc_stats`` struct) with a threshold that
#: splits the rows below
WORD_STAT_CONDITIONS = [
    ["min_words", 5],
    ["max_words", 12],
    ["word_count_between", [3, 20]],
    ["mean_word_length_between", [3.0, 6.0]],
    ["symbol_ratio_below", 0.05],
    ["stopword_ratio_above", 0.2],
    ["min_stopword_hits", 2],
    ["word_repetition_below", 0.3],
    ["line_repetition_below", 0.2],
    ["lang_is", "en"],
    ["lang_is", "de"],
    ["lang_confident", 2],
    ["perplexity_below", 1.5],
    ["quality_above", 0.5],
]

ARGS = {
    "top_ngram_char_frac_below": [2, 0.2],
    "dup_ngram_char_frac_below": [5, 0.1],
    "dup_line_frac_below": [0.3],
    "dup_line_char_frac_below": [0.3],
    "dup_para_frac_below": [0.3],
    "dup_para_char_frac_below": [0.3],
    "classifier_score_above": [0.0],
    "classifier_score_below": [0.0],
    "compression_ratio_between": [[0.3, 1.1]],
}
assert set(ARGS) == REPSTATS_CONDITIONS | CLASSIFIER_CONDITIONS | COMPRESSION_CONDITIONS

SHARED_CONDITIONS = WORD_STAT_CONDITIONS + [[name, *args] for name, args in ARGS.items()]

ROWS = [
    (1, None),
    (2, ""),
    (3, "   "),
    (4, " \t\n\x0b\x0c\r "),
    (5, "The quick, brown fox! AND the (lazy) dog."),
    (6, "der Der DER und 'und' nicht? das ist nicht mit der Katze"),
    (7, "le la  les\tet\nest que"),
    (8, "the-fox and_dog the. the"),
    (9, "spam spam spam spam spam spam\nspam spam spam spam spam spam\n\nspam"),
    (10, "$$$ ### @@@ %%% ^^^ &&& *** ((( ))) !!! ???"),
    (11, "It was the best of times, it was the worst of times, and all of "
         "us were there with this word for what we had.\nA second line is "
         "here.\n\nA second line is here."),
    (12, "one para here\n\none para here\n\nanother para"),
]


@pytest.fixture(scope="module")
def frame(spark):
    return spark.createDataFrame(ROWS, "id int, text string").withColumn(
        "url", F.concat(F.lit("u"), F.col("id").cast("string"))
    )


def _outcome(rule_id: str) -> bool | None:
    """Decoded condition value from the two-rule recipe below."""
    return {"any:0": True, "any:1": False}.get(rule_id.rsplit(":", 1)[0])


@pytest.mark.parametrize("cond", SHARED_CONDITIONS, ids=lambda c: f"{c[0]}-{c[1:]}")
def test_standalone_condition_equals_engine_rule(frame, cond):
    # rule 0 keeps where cond is true, rule 1 drops where it is false;
    # a null condition fires neither and falls to default_keep
    spec = parse_recipe(
        {
            "global": {"act_on_success": True, "name_col": "url", "text_col": "text"},
            "any": {
                "conditions": [cond, ["not", cond]],
                "actions": ["keep", "drop"],
                "counter_actions": ["keep_going", "keep_going"],
            },
        }
    )
    engine = {
        r.id: _outcome(r.dc_rule_id)
        for r in Pipeline(spec).apply(frame).df.select("id", "dc_rule_id").collect()
    }
    standalone = {
        r.id: r.c
        for r in frame.select("id", compile_condition(cond, RuleContext()).alias("c")).collect()
    }
    assert standalone == engine


def test_standalone_word_stat_plan_is_one_arrow_stage(frame):
    """A bare ``lang_is`` reads the Arrow stats struct: no JVM
    ``aggregate(`` fold over the words array."""
    c = compile_condition(["lang_is", "en"], RuleContext())
    plan = frame.select("id", c.alias("c"))._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan, plan
    assert "aggregate(" not in plan, plan
