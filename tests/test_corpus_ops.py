"""Cross-document corpus hygiene ops: boilerplate line removal
(operators/boilerplate.py) and benchmark decontamination
(operators/decontam.py) — pinned edge semantics + plan shape."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datacurator_jl_spark.operators.boilerplate import (
    boilerplate_lines,
    remove_boilerplate_lines,
)
from datacurator_jl_spark.operators.decontam import (
    decontaminate,
    word_ngrams_arrow,
)


@pytest.fixture()
def bp_df(spark):
    rows = [
        (1, "COOKIE BANNER\nreal content one\n\nCOOKIE FOOT"),
        (2, "COOKIE BANNER\nreal content two\nCOOKIE FOOT"),
        (3, "COOKIE BANNER\nrare header\nCOOKIE FOOT"),
        (4, "COOKIE BANNER"),          # every line removed -> null
        (5, ""),                        # single empty line, kept
        (6, None),                      # null text -> null out
        (7, "rare header\nunique tail"),  # 'rare header' only in 2 docs
    ]
    return spark.createDataFrame(rows, "id long, text string")


def test_boilerplate_set(bp_df):
    got = {
        r["line"]: r["n_docs"]
        for r in boilerplate_lines(bp_df, "id", "text", min_docs=3).collect()
    }
    # BANNER in 4 docs, FOOT in 3; 'rare header' only 2 -> not boilerplate
    assert got == {"COOKIE BANNER": 4, "COOKIE FOOT": 3}


def test_remove_boilerplate_semantics(bp_df):
    out = {
        r["id"]: (r["clean"], r["n_removed"])
        for r in remove_boilerplate_lines(
            bp_df, "id", "text", min_docs=3, out_col="clean"
        ).collect()
    }
    # empty interior line is preserved; order kept
    assert out[1] == ("real content one\n", 2)
    assert out[2] == ("real content two", 2)
    assert out[3] == ("rare header", 2)
    assert out[4] == (None, 1)   # all lines removed -> null, not ''
    assert out[5] == ("", 0)     # empty text survives untouched
    assert out[6] == (None, None)  # null text -> null out, null count
    assert out[7] == ("rare header\nunique tail", 0)


def test_remove_boilerplate_inplace_replaces_text(bp_df):
    out = remove_boilerplate_lines(bp_df, "id", "text", min_docs=3)
    assert set(out.columns) == {"id", "text", "n_removed"}
    row = {r["id"]: r["text"] for r in out.collect()}
    assert row[2] == "real content two"


def test_boilerplate_anti_join_is_broadcast(bp_df):
    plan = (
        remove_boilerplate_lines(bp_df, "id", "text", min_docs=3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_word_ngrams(spark):
    df = spark.createDataFrame(
        [("a b c d",), ("one",), (None,), ("  x \t y  ",)], "text string"
    )
    got = [r[0] for r in df.select(word_ngrams_arrow(F.col("text"), 3)).collect()]
    assert got[0] == ["a b c", "b c d"]
    assert got[1] == []  # fewer than n tokens
    assert got[2] == []  # null text
    df2 = spark.createDataFrame([("  x \t y  ",)], "text string")
    assert df2.select(word_ngrams_arrow(F.col("text"), 2)).first()[0] == ["x y"]


def test_decontaminate_hits_and_drop(spark):
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps"),   # shares 'the quick brown'
            (2, "completely novel text here"),
            (3, None),
            (4, "too short"),
        ],
        "id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "THE QUICK BROWN cat sat")], "id long, text string"
    )
    out = {
        r["id"]: (r["hits"], r["contaminated"])
        for r in decontaminate(docs, "id", "text", bench, n=3).collect()
    }
    assert out[1] == (1, True)  # lowercased 'the quick brown' matches
    assert out[2] == (0, False)
    assert out[3] == (0, False)  # null text never contaminated
    assert out[4] == (0, False)  # < n tokens
    kept = decontaminate(docs, "id", "text", bench, n=3, drop=True)
    assert set(kept.columns) == {"id", "text"}
    assert {r["id"] for r in kept.collect()} == {2, 3, 4}


def test_decontaminate_duplicate_grams_count_once(spark):
    docs = spark.createDataFrame(
        [(1, "ab cd ab cd ab cd")], "id long, text string"
    )
    bench = spark.createDataFrame([(9, "ab cd xx")], "id long, text string")
    # 'ab cd' appears 3x in the doc but hits counts DISTINCT shared grams
    row = decontaminate(docs, "id", "text", bench, n=2).first()
    assert row["hits"] == 1


def test_recipe_boilerplate_prepass(spark):
    from datacurator_jl_spark.engine import Pipeline
    from datacurator_jl_spark.recipe import parse_recipe

    spec = parse_recipe(
        {
            # act_on_success=false: the drop fires when has_text FAILS
            "global": {"act_on_success": False, "remove_boilerplate": 3},
            "any": {"conditions": ["has_text"], "actions": ["drop"]},
        }
    )
    rows = [
        ("u1", "AD\ncontent one"),
        ("u2", "AD\ncontent two"),
        ("u3", "AD\ncontent three"),
        ("u4", "AD"),  # becomes null text -> has_text fails -> dropped
    ]
    df = spark.createDataFrame(rows, "url string, text string")
    out = {
        r["url"]: (r["dc_kept"], r["scrubbed_text"])
        for r in Pipeline(spec).apply(df).df.collect()
    }
    assert out["u1"] == (True, "content one")
    assert out["u2"] == (True, "content two")
    assert out["u3"] == (True, "content three")
    assert out["u4"][0] is False


def test_recipe_boilerplate_validation():
    from datacurator_jl_spark.recipe import RecipeError, parse_recipe

    for bad in (1, 0, -3, True, "many", 2.5):
        with pytest.raises(RecipeError, match="remove_boilerplate"):
            parse_recipe(
                {
                    "global": {"remove_boilerplate": bad},
                    "any": {"conditions": ["always"], "actions": ["keep"]},
                }
            )


def test_decontaminate_probe_is_broadcast(spark):
    docs = spark.createDataFrame([(1, "a b c")], "id long, text string")
    bench = spark.createDataFrame([(9, "a b")], "id long, text string")
    plan = (
        decontaminate(docs, "id", "text", bench, n=2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan


# ---- paragraph-level exact dedup (operators/paragraph_dedup.py) ----

from datacurator_jl_spark.operators.paragraph_dedup import (  # noqa: E402
    dedup_paragraphs,
    duplicated_paragraphs,
)


@pytest.fixture()
def para_df(spark):
    rows = [
        (1, "SHARED LEDE\n\nunique one\n\nSHARED LEDE"),  # within-doc repeat
        (2, "SHARED LEDE\n\nunique two"),
        (3, "unique three\n\nSHARED LEDE"),
        (4, "SHARED LEDE"),        # all paragraphs removed -> null
        (5, "a\n\n\n\nb"),         # empty middle paragraph preserved
        (6, None),                 # null text -> null out
        (7, ""),                   # single empty paragraph, kept
    ]
    return spark.createDataFrame(rows, "id long, text string")


def test_duplicated_paragraphs_set(para_df):
    got = {
        r["paragraph"]: (r["n_occurrences"], r["first_id"], r["first_pos"])
        for r in duplicated_paragraphs(para_df, "id", "text").collect()
    }
    # 5 occurrences (2 in doc 1 + docs 2/3/4); first is doc 1 pos 0
    assert got == {"SHARED LEDE": (5, 1, 0)}


def test_dedup_paragraphs_semantics(para_df):
    out = {
        r["id"]: (r["clean"], r["n_removed"])
        for r in dedup_paragraphs(
            para_df, "id", "text", out_col="clean"
        ).collect()
    }
    # doc 1 keeps the FIRST occurrence only (within-doc repeat removed)
    assert out[1] == ("SHARED LEDE\n\nunique one", 1)
    assert out[2] == ("unique two", 1)
    assert out[3] == ("unique three", 1)
    assert out[4] == (None, 1)       # every paragraph removed -> null
    assert out[5] == ("a\n\n\n\nb", 0)  # empty paragraph never deduped
    assert out[6] == (None, None)
    assert out[7] == ("", 0)


def test_dedup_paragraphs_stable_under_partitioning(para_df):
    a = sorted(
        dedup_paragraphs(para_df, "id", "text").collect(),
        key=lambda r: r["id"],
    )
    b = sorted(
        dedup_paragraphs(para_df.repartition(5), "id", "text").collect(),
        key=lambda r: r["id"],
    )
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_dedup_paragraphs_literal_separator(spark):
    # sep is literal, not regex: '.' must not split on every char
    df = spark.createDataFrame([(1, "x.y"), (2, "x.y")], "id long, text string")
    out = {
        r["id"]: r["text"]
        for r in dedup_paragraphs(df, "id", "text", sep=".").collect()
    }
    assert out == {1: "x.y", 2: None}  # 'x' and 'y' both dedup to doc 1


def test_dedup_paragraphs_winner_is_aggregate_not_window(para_df):
    """Winner selection must be a (partial-combinable) hash aggregate, not
    a per-paragraph row_number window — a viral paragraph would drag every
    copy through one window task."""
    plan = (
        dedup_paragraphs(para_df, "id", "text")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    import re as _re
    wins = [l for l in plan.splitlines() if _re.search(r"\bWindow\b", l)]
    # the only allowed window-free plan: reassembly is SortAggregate/
    # ObjectHashAggregate, winner is HashAggregate with a partial pass
    assert not wins, wins
    assert "partial_min" in plan or "partial min" in plan.lower()


def test_remove_boilerplate_duplicate_ids_raise(spark):
    """ADVICE r3: duplicate ids would merge distinct rows' lines into
    one interleaved text on every copy — the guard raises instead."""
    df = spark.createDataFrame(
        [(1, "a\nb"), (1, "c\nd"), (2, "a\nz")], "id long, text string"
    )
    with pytest.raises(ValueError, match="not unique"):
        remove_boilerplate_lines(df, "id", "text", min_docs=2)
    # opt-out for guaranteed-unique upstreams still runs
    ok = spark.createDataFrame([(1, "a\nb"), (2, "a\nz")], "id long, text string")
    assert remove_boilerplate_lines(
        ok, "id", "text", min_docs=2, validate_ids=False
    ).count() == 2


def test_decontaminate_collision_and_duplicate_ids_raise(spark):
    bench = spark.createDataFrame([(9, "a b c")], "id long, text string")
    clash = spark.createDataFrame(
        [(1, "a b c", 7)], "id long, text string, hits int"
    )
    with pytest.raises(ValueError, match="already exist"):
        decontaminate(clash, "id", "text", bench, n=2)
    # renamed marker columns leave the user's 'hits' untouched
    out = decontaminate(
        clash, "id", "text", bench, n=2, hits_col="dc_hits", flag_col="dc_flag"
    ).first()
    assert out["hits"] == 7 and out["dc_hits"] == 2 and out["dc_flag"] is True
    dup = spark.createDataFrame(
        [(1, "a b c"), (1, "x y z")], "id long, text string"
    )
    with pytest.raises(ValueError, match="not unique"):
        decontaminate(dup, "id", "text", bench, n=2)
    # drop=True never adds marker columns, so a 'hits' column is no clash
    kept = decontaminate(clash, "id", "text", bench, n=2, drop=True)
    assert set(kept.columns) == {"id", "text", "hits"} and kept.count() == 0


@pytest.mark.parametrize(
    "extra",
    [
        {"blocklist": ["spam.example"], "name_col": "missing_name"},
        {"keep_latest": ["no_ts", "doc_id"]},
        {"remove_boilerplate": 3, "text_col": "missing_text"},
        {"paragraph_dedup": True, "text_col": "missing_text"},
        {"remove_duplicated_spans": 5, "text_col": "missing_text"},
        {"dedup": "exact", "text_col": "missing_text"},
        {"max_dup_ngram_fraction": 0.5, "text_col": "missing_text"},
        {"domain_cap": 5, "domain_cap_col": "no_such_col"},
        {"mixture": {"a": 1.0}, "mixture_total": 1, "mixture_col": "no_such_col"},
        {"mixture": {"a": 1.0}, "mixture_total": 1, "mixture_col": "doc_id",
         "mixture_weight_col": "no_such_col"},
    ],
    ids=[
        "blocklist", "keep_latest", "remove_boilerplate", "paragraph_dedup",
        "remove_duplicated_spans", "dedup", "max_dup_ngram_fraction",
        "domain_cap", "mixture", "mixture_weight_col",
    ],
)
def test_prepass_missing_column_raises(spark, extra):
    """ADVICE r3: a [global] pre-pass configured on an absent column must
    fail at apply() time, not silently no-op (fail-before-data)."""
    from datacurator_jl_spark.engine import Pipeline
    from datacurator_jl_spark.recipe import RecipeError, parse_recipe

    df = spark.createDataFrame([(1, "some text")], "doc_id long, text string")
    g = {"act_on_success": True, "name_col": "doc_id", "text_col": "text"}
    g.update(extra)
    spec = parse_recipe(
        {"global": g, "any": {"conditions": ["always"], "actions": ["keep"]}}
    )
    with pytest.raises(RecipeError, match="absent from the input"):
        Pipeline(spec).apply(df)


def test_near_dedup_leaves_id_probe_to_later_prepass(spark):
    """drop_near_dupes runs no duplicate-id probe, so the dup-fraction
    pass after it must still run its own: duplicate ids still raise."""
    from datacurator_jl_spark.engine import Pipeline
    from datacurator_jl_spark.recipe import parse_recipe

    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon"), (1, "one two three four five"),
         (2, "red green blue cyan magenta")],
        "doc_id long, text string",
    )
    spec = parse_recipe(
        {"global": {"act_on_success": True, "name_col": "doc_id",
                    "text_col": "text", "dedup": "near",
                    "max_dup_ngram_fraction": 0.9},
         "any": {"conditions": ["always"], "actions": ["keep"]}}
    )
    with pytest.raises(ValueError, match="not unique"):
        Pipeline(spec).apply(df).df.count()


def test_checkpointing_prepasses_honor_dedup_materialize(spark, tmp_path):
    """A path-valued dedup_materialize governs every checkpointing
    pre-pass, not only the dedup family: each of the four passes below
    persists its output under the directory."""
    import glob
    import os

    from datacurator_jl_spark.engine import Pipeline
    from datacurator_jl_spark.recipe import parse_recipe

    mat = str(tmp_path / "mat")
    rows = [
        (i, f"body {i} of the page\nshared footer line", "a" if i % 2 else "b")
        for i in range(8)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    spec = parse_recipe(
        {"global": {"act_on_success": True, "name_col": "doc_id",
                    "text_col": "text", "remove_boilerplate": 3,
                    "paragraph_dedup": True, "domain_cap": 3,
                    "mixture": {"a": 0.5, "b": 0.5}, "mixture_total": 4,
                    "dedup_materialize": mat},
         "any": {"conditions": ["always"], "actions": ["keep"]}}
    )
    out = Pipeline(spec).apply(df).df
    assert out.count() == 4
    assert "shared footer line" not in out.first()["scrubbed_text"]
    assert len(glob.glob(os.path.join(mat, "dc-mat-*"))) >= 4


def test_dup_ngram_stats_semantics(spark):
    """Round-4 dup-fraction signal (Lee et al. 2022): per-doc distinct
    grams; dup = gram in >= 2 DISTINCT docs (within-doc repetition alone
    is not cross-doc duplication); short/null docs -> (0, 0, 0.0)."""
    from datacurator_jl_spark.operators.decontam import dup_ngram_stats

    rows = [
        (1, "a b c d"),          # grams: 'a b','b c','c d'
        (2, "a b c x"),          # shares 'a b','b c' with doc 1
        (3, "q q q q"),          # within-doc repeat only: 'q q' x1 distinct
        (4, "one"),              # < n tokens
        (5, None),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    got = {
        r.id: (r.n_grams, r.dup_grams, r.dup_fraction)
        for r in dup_ngram_stats(df, "id", "text", n=2).collect()
    }
    assert got[1] == (3, 2, round(2 / 3, 6))
    assert got[2] == (3, 2, round(2 / 3, 6))
    assert got[3] == (1, 0, 0.0)   # 'q q' only in doc 3 -> not duplicated
    assert got[4] == (0, 0, 0.0)
    assert got[5] == (0, 0, 0.0)
    # guards: collision + duplicate ids
    with pytest.raises(ValueError, match="already exist"):
        dup_ngram_stats(df.withColumnRenamed("text", "dup_fraction"),
                        "id", "dup_fraction", n=2)
    dup = spark.createDataFrame([(1, "a b"), (1, "c d")], "id long, text string")
    with pytest.raises(ValueError, match="not unique"):
        dup_ngram_stats(dup, "id", "text", n=2)


def test_remove_duplicated_spans_semantics(spark):
    """ExactSubstr-style fixed-window span removal (round-4, Lee et al.
    2022): every token covered by a duplicated n-token window goes;
    within-doc repeats count; case-insensitive keys over case-preserved
    tokens; null/empty/all-removed pins match remove_boilerplate_lines."""
    from datacurator_jl_spark.operators.span_dedup import (
        duplicated_windows,
        remove_duplicated_spans,
    )

    rows = [
        (1, "AA bb cc dd"),
        (2, "xx aa BB cc yy"),     # shares lowercased window 'aa bb cc'
        (3, "qq qq qq qq qq"),     # self-duplicated -> fully removed
        (4, ""),
        (5, None),
        (6, "solo"),               # < n tokens: no windows, untouched
        (7, "  spaced   out  "),   # token-normalized output
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    dups = {
        r.window: r.n_occurrences
        for r in duplicated_windows(df, "id", "text", n=3).collect()
    }
    assert dups == {"aa bb cc": 2, "qq qq qq": 3}
    got = {
        r.id: (r.clean, r.n_removed)
        for r in remove_duplicated_spans(
            df, "id", "text", n=3, out_col="clean"
        ).collect()
    }
    assert got[1] == ("dd", 3)
    assert got[2] == ("xx yy", 3)
    assert got[3] == (None, 5)      # every token removed -> null, not ''
    assert got[4] == ("", 0)
    assert got[5] == (None, None)
    assert got[6] == ("solo", 0)
    assert got[7] == ("spaced out", 0)
    # duplicate ids raise (reassembly guard)
    dup = spark.createDataFrame([(1, "a b c"), (1, "d e f")], "id long, text string")
    with pytest.raises(ValueError, match="not unique"):
        remove_duplicated_spans(dup, "id", "text", n=2)


def test_null_ids_and_count_col_guards(spark):
    """Round-4 review fixes: NULL ids raise eagerly (a null id never
    matches the reassembly join — text would be silently nulled), and
    count_col collisions/aliasing raise across the reassembly ops."""
    from datacurator_jl_spark.operators.paragraph_dedup import dedup_paragraphs
    from datacurator_jl_spark.operators.span_dedup import (
        remove_duplicated_spans,
    )

    nullid = spark.createDataFrame(
        [(None, "unique words never repeated anywhere"), (1, "x y z w")],
        "id long, text string",
    )
    for op in (
        lambda d: remove_duplicated_spans(d, "id", "text", n=3),
        lambda d: remove_boilerplate_lines(d, "id", "text", min_docs=2),
        lambda d: dedup_paragraphs(d, "id", "text"),
    ):
        with pytest.raises(ValueError, match="NULL ids"):
            op(nullid)
    clash = spark.createDataFrame(
        [(1, "a b c", 9)], "id long, text string, n_removed int"
    )
    with pytest.raises(ValueError, match="already exists"):
        remove_duplicated_spans(clash, "id", "text", n=2)
    with pytest.raises(ValueError, match="must differ"):
        remove_duplicated_spans(
            clash, "id", "text", n=2, out_col="c", count_col="c"
        )
    # the engine pre-passes use an internal count name, so a corpus with
    # its own n_removed column still runs
    from datacurator_jl_spark.engine import Pipeline
    from datacurator_jl_spark.recipe import parse_recipe

    spec = parse_recipe(
        {
            "global": {"act_on_success": True, "name_col": "id",
                       "remove_boilerplate": 2,
                       "remove_duplicated_spans": 2, "paragraph_dedup": True},
            "any": {"conditions": ["always"], "actions": ["keep"]},
        }
    )
    corpus = spark.createDataFrame(
        [(1, "a b", 7), (2, "c d", 8)], "id long, text string, n_removed int"
    )
    assert Pipeline(spec).apply(corpus).df.count() == 2
