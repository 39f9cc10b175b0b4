"""Every operator with two physical routes is pinned here: each test
forces the second route through its module constant (or builds the
reference shape inline) and expects the same output.

- Shared-struct conditions (``registry.SHARED_COLS``): a condition
  compiled on its own, with a bare ``RuleContext``, builds the same
  Arrow kernel the engine pre-projects, so it decides exactly as the
  same rule does under ``Pipeline.apply``. The rows include null, empty
  and whitespace-only text, where a second route would most likely
  drift (null ⇒ zero struct, empty-string line semantics).
- Connected components: driver union-find vs the distributed min-label
  loop (``dedup.DRIVER_COMPONENTS_MAX_EDGES``), for scalar and struct
  labels and the unlabeled-endpoint fallback; per-bucket star edges vs
  the pairwise clique.
- k-means: the NumPy driver fit vs the Spark Lloyd's plan
  (``similarity.DRIVER_KMEANS_MAX_ROWS``).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datacurator_jl_spark.engine import Pipeline
from datacurator_jl_spark.operators import dedup as DD
from datacurator_jl_spark.operators import similarity as SIM
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


# -- driver vs distributed components, star vs clique, k-means ----------------


def _mk_edges(spark, pairs):
    both = pairs + [(b, a) for a, b in pairs]
    return DD._materialize(
        spark.createDataFrame(both, "src long, dst long"), "local"
    )


def test_driver_components_match_distributed_plain_labels(spark, monkeypatch):
    """The driver union-find path (round-7) must reach the exact
    component-min fixpoint the distributed min-label loop reaches —
    chain-shaped graph (diameter 5) plus a singleton."""
    # chain 1-2-3-4-5-6, pair (10, 11), singleton 20
    pairs = [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (10, 11)]
    universe = spark.createDataFrame(
        [(d,) for d in [1, 2, 3, 4, 5, 6, 10, 11, 20]], "doc long"
    )
    edges = _mk_edges(spark, pairs)
    labels = DD._materialize(
        universe.select("doc").distinct().withColumn("comp", F.col("doc")),
        "local",
    )
    got_driver = {
        (r["doc"], r["comp"])
        for r in DD._propagate_min_labels(edges, labels, 25, "local").collect()
    }
    monkeypatch.setattr(DD, "DRIVER_COMPONENTS_MAX_EDGES", 0)
    got_dist = {
        (r["doc"], r["comp"])
        for r in DD._propagate_min_labels(edges, labels, 25, "local").collect()
    }
    assert got_driver == got_dist
    assert (20, 20) in got_driver  # singleton keeps its self-label
    assert all(c == 1 for d, c in got_driver if d in {1, 2, 3, 4, 5, 6})


def test_driver_components_match_distributed_struct_labels(spark, monkeypatch):
    """Struct (rank, id) labels — the incremental-ingest flavor where
    base docs (rank 0) must win any mixed component — must also be
    bit-identical between the two paths."""
    pairs = [(1, 2), (2, 3), (5, 6)]  # 3 is a base doc; 5-6 all-new
    new_ids = [1, 2, 5, 6]
    base_ids = [3]
    labels_rows = [
        (d, {"rank": 1, "id": d}) for d in new_ids
    ] + [(d, {"rank": 0, "id": d}) for d in base_ids]
    labels = DD._materialize(
        spark.createDataFrame(
            labels_rows, "doc long, comp struct<rank:int, id:long>"
        ),
        "local",
    )
    edges = _mk_edges(spark, pairs)
    got_driver = {
        (r["doc"], tuple(r["comp"]))
        for r in DD._propagate_min_labels(edges, labels, 25, "local").collect()
    }
    monkeypatch.setattr(DD, "DRIVER_COMPONENTS_MAX_EDGES", 0)
    got_dist = {
        (r["doc"], tuple(r["comp"]))
        for r in DD._propagate_min_labels(edges, labels, 25, "local").collect()
    }
    assert got_driver == got_dist
    # the 1-2-3 component is base-rooted; 5-6 stays new-rooted at min id
    by_doc = dict(got_driver)
    assert by_doc[1] == (0, 3) and by_doc[2] == (0, 3)
    assert by_doc[5] == (1, 5) and by_doc[6] == (1, 5)


def test_driver_components_fall_back_on_unlabeled_endpoint(spark):
    """An edge endpoint with no initial label cannot forward labels in
    the distributed loop — the driver path must refuse (fall back)
    rather than bridge through it."""
    pairs = [(1, 99), (99, 2)]  # 99 has no label row
    labels = DD._materialize(
        spark.createDataFrame(
            [(1, 1), (2, 2)], "doc long, comp long"
        ),
        "local",
    )
    edges = _mk_edges(spark, pairs)
    out = {
        (r["doc"], r["comp"])
        for r in DD._propagate_min_labels(edges, labels, 25, "local").collect()
    }
    # distributed semantics: 1 and 2 cannot see each other through 99
    assert out == {(1, 1), (2, 2)}


def test_driver_kmeans_fit_matches_distributed(spark, monkeypatch):
    """The driver numpy k-means twin (round-7) must produce BIT-EQUAL
    centroids to the distributed Lloyd's plan — duplicate vectors
    (exact 6dp ties), opposite vectors, k > n, and iters=0 included.
    The zero-norm vector is excluded from fit by both paths."""
    import random

    random.seed(3)
    rows = []
    for i in range(120):
        if i % 5 == 0:
            v = [1.0, 0.0, 0.0]
        elif i % 5 == 1:
            v = [-1.0, 0.0, 0.0]
        else:
            v = [random.uniform(-1, 1) for _ in range(3)]
        rows.append((i, v))
    rows.append((500, [0.0, 0.0, 0.0]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def cents(d):
        return {(r["cid"], tuple(r["centroid"])) for r in d.collect()}

    cases = [(4, 3), (1, 0), (200, 2)]
    driver = [
        cents(SIM.kmeans_fit(df, "vec_id", "embedding", k=k, iters=iters))
        for k, iters in cases
    ]
    monkeypatch.setattr(SIM, "DRIVER_KMEANS_MAX_ROWS", 0)
    for (k, iters), a in zip(cases, driver):
        b = cents(SIM.kmeans_fit(df, "vec_id", "embedding", k=k, iters=iters))
        assert a == b, (k, iters)


def test_bucket_star_edges_components_match_pairwise(spark):
    """Round-7: per-bucket STAR edges must yield the same connected
    components as the full pairwise candidate join — overlapping
    buckets chain components across bands exactly as before."""
    from datacurator_jl_spark.operators.dedup import (
        _bucket_star_edges,
        _materialize,
        components_from_pairs,
    )

    # buckets: (band, key) groups with overlap: doc 3 bridges two keys
    rows = [
        (1, 0, 10), (2, 0, 10), (3, 0, 10),   # bucket A: {1,2,3}
        (3, 1, 20), (4, 1, 20), (5, 1, 20),   # bucket B: {3,4,5} — chains
        (7, 0, 30), (8, 0, 30),               # bucket C: {7,8}
        (9, 1, 40),                           # singleton bucket
    ]
    buckets = _materialize(
        spark.createDataFrame(rows, "doc long, band int, key long"), "local"
    )
    universe = spark.createDataFrame([(i,) for i in range(1, 10)], "doc long")
    star = _bucket_star_edges(buckets, None)
    a, b = buckets.alias("a"), buckets.alias("b")
    clique = (
        a.join(b, ["band", "key"])
        .filter(F.col("a.doc") < F.col("b.doc"))
        .select(F.col("a.doc").alias("id_a"), F.col("b.doc").alias("id_b"))
        .distinct()
    )
    got_star = {
        (r["doc"], r["comp"])
        for r in components_from_pairs(star, universe).collect()
    }
    got_clique = {
        (r["doc"], r["comp"])
        for r in components_from_pairs(clique, universe).collect()
    }
    assert got_star == got_clique
    assert (5, 1) in got_star     # chained across buckets A/B
    assert (8, 7) in got_star and (9, 9) in got_star
