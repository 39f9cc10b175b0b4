"""Operator tests: buildcomp semantics, dataframe ops, dedup suite,
similarity search, mode band-pass, skew helpers."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

import datacurator_jl_spark.operators.buildcomp as BC
import datacurator_jl_spark.operators.dataframe_ops as DO
import datacurator_jl_spark.operators.dedup as DD
import datacurator_jl_spark.operators.similarity as SIM
from datacurator_jl_spark.operators.mode_filter import column_mode, mode_bandpass


@pytest.fixture(scope="module")
def num_df(spark):
    rows = [
        (1, 5.0, "a"),
        (2, 10.0, "b"),
        (3, 15.0, "a"),
        (4, float("nan"), "b"),
        (5, None, "a"),
        (6, 0.0, "c"),
        (7, 10.0, "a"),
        (8, 10.0, "c"),
    ]
    return spark.createDataFrame(rows, "id int, x double, g string")


def test_between_is_strict_both_sides(spark, num_df):
    got = {r.id for r in num_df.filter(BC.buildcomp(F.col("x"), "between", (5.0, 15.0))).collect()}
    assert got == {2, 7, 8}  # 5.0 and 15.0 excluded, NaN/null excluded


def test_nan_vs_null_distinct(spark, num_df):
    assert {r.id for r in num_df.filter(BC.buildcomp(F.col("x"), "isnan")).collect()} == {4}
    assert {r.id for r in num_df.filter(BC.buildcomp(F.col("x"), "ismissing")).collect()} == {5}
    assert {r.id for r in num_df.filter(BC.buildcomp(F.col("x"), "iszero")).collect()} == {6}


def test_not_wrapper(spark, num_df):
    got = {r.id for r in num_df.filter(BC.buildcomp(F.col("x"), ["not", "less"], 10.0)).collect()}
    # NOT(x<10): 10.0,15.0,10.0,10.0 pass; NaN: NaN<10 is false -> not false = true (Spark NaN semantics)
    assert got == {2, 3, 4, 7, 8}


def test_delete_keeps_null_mask_rows(spark, num_df):
    out = DO.delete_rows(num_df, [("x", "less", 6.0)])
    got = {r.id for r in out.collect()}
    assert got == {2, 3, 4, 5, 7, 8}  # id 5 (null) kept, ids 1 and 6 deleted


def test_unknown_columns_warn_and_noop(spark, num_df):
    with pytest.warns(UserWarning, match="unknown columns"):
        out = DO.extract_columns(num_df, ["id", "bogus"])
    assert out.columns == ["id"]


def test_groupbycolumn_named_aggs(spark, num_df):
    out = DO.groupbycolumn(num_df, ["g"], ["x", "x"], ["sum", "count"], ["x_sum", "n"])
    got = {r.g: (r.x_sum, r.n) for r in out.collect()}
    assert got["c"] == (10.0, 2)
    assert got["b"][1] == 2


def test_column_mode_tie_breaks_smallest(spark, num_df):
    assert column_mode(num_df, "x") == 10.0
    tie = spark.createDataFrame([(1.0,), (1.0,), (2.0,), (2.0,)], "v double")
    assert column_mode(tie, "v") == 1.0  # tie -> smallest value


def test_mode_bandpass_strict_bounds(spark):
    df = spark.createDataFrame([(float(v),) for v in [5, 5, 5, 1, 9, 6, 4]], "v double")
    out = mode_bandpass(df, "v", -0.5, 0.5)
    vals = sorted(r.v for r in out.collect())
    sd = df.agg(F.stddev_samp("v")).collect()[0][0]
    assert all(5 - 0.5 * sd < v < 5 + 0.5 * sd for v in vals)
    assert vals  # non-empty


# --- dedup ------------------------------------------------------------------


@pytest.fixture(scope="module")
def dup_df(spark):
    rows = [
        (1, "the quick brown fox", "a"),
        (2, "the quick brown fox", "a"),       # exact dup of 1
        (3, "the quick brown fox jumps", "a"),  # near dup
        (4, "completely different text here", "b"),
        (5, "the quick brown fox", "b"),       # exact dup of 1, other block
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, src string")


def test_exact_dedup_and_drop(spark, dup_df):
    groups = {r.keep_id: r.n_copies for r in DD.exact_dedup(dup_df, "doc_id", "text").collect()}
    assert groups[1] == 3
    kept = {r.doc_id for r in DD.drop_exact_dupes(dup_df, "doc_id", "text").collect()}
    assert kept == {1, 3, 4}


def test_minhash_identical_docs_same_signature(spark, dup_df):
    sig = DD.minhash_signature(dup_df, "text", k=4).collect()
    by_id = {r.doc_id: tuple(r[f"mh{i}"] for i in range(4)) for r in sig}
    assert by_id[1] == by_id[2] == by_id[5]
    assert by_id[1] != by_id[4]


def test_lsh_pairs_find_dups(spark, dup_df):
    pairs = {
        (r.id_a, r.id_b)
        for r in DD.lsh_candidate_pairs(dup_df, "doc_id", "text", k=8, bands=4).collect()
    }
    assert (1, 2) in pairs and (1, 5) in pairs and (2, 5) in pairs
    assert not any(4 in p for p in pairs)


def test_simhash_near_dup_low_hamming(spark, dup_df):
    rows = {r.doc_id: r.simhash for r in DD.simhash(dup_df, "text", bits=16).collect()}
    assert rows[1] == rows[2]  # identical text -> identical simhash

    def hamming(a, b):
        return bin(a ^ b).count("1")

    assert hamming(rows[1], rows[3]) <= hamming(rows[1], rows[4])


def test_ngram_jaccard_blocked(spark, dup_df):
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in DD.ngram_jaccard_pairs(dup_df, "doc_id", "text", "src", 0.5).collect()
    }
    assert pairs[(1, 2)] == 1.0
    assert (1, 5) not in pairs  # different block (src) -> never compared
    assert 0.5 <= pairs[(1, 3)] < 1.0


# --- similarity -------------------------------------------------------------


@pytest.fixture(scope="module")
def emb_df(spark):
    rows = [
        (0, [1.0, 0.0, 0.0], 0),
        (1, [0.9, 0.1, 0.0], 0),
        (2, [0.0, 1.0, 0.0], 1),
        (3, [0.1, 0.9, 0.0], 1),
        (4, [-1.0, 0.0, 0.0], 0),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")


def test_cosine_topk_ranks_correctly(spark, emb_df):
    out = SIM.cosine_topk(emb_df, emb_df.filter("vec_id = 0"), k=2).collect()
    ranked = [r.neighbor_id for r in sorted(out, key=lambda r: r.rank)]
    assert ranked == [1, 3]  # closest first; ties broken by id


def test_ivf_probes_own_cluster(spark, emb_df):
    out = SIM.ivf_topk(emb_df, emb_df.filter("vec_id = 0"), cluster_col="label", k=3, nprobe=1).collect()
    ids = {r.neighbor_id for r in out}
    assert ids == {1, 4}  # only label-0 cluster scanned


def test_cosine_topk_broadcasts_queries(spark, emb_df):
    plan = SIM.cosine_topk(emb_df, emb_df.limit(2))._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


# --- skew -------------------------------------------------------------------


def test_two_phase_agg_matches_plain_groupby(spark, docs_df):
    from datacurator_jl_spark.operators.skew import domain_of, two_phase_agg

    with_dom = docs_df.withColumn("domain", domain_of(F.col("url")))
    skewed = two_phase_agg(
        with_dom, "domain", {"n": ("count", "url"), "max_len": ("max", "text")}, salt=8
    )
    plain = with_dom.groupBy("domain").agg(
        F.count("url").alias("n"), F.max("text").alias("max_len")
    )
    a = {r.domain: (r.n, r.max_len) for r in skewed.collect()}
    b = {r.domain: (r.n, r.max_len) for r in plain.collect()}
    assert a == b


def test_salted_repartition_spreads_hot_key(spark, docs_df):
    from datacurator_jl_spark.operators.skew import salted_repartition

    out = salted_repartition(docs_df, F.col("url"), salt=8, num_partitions=8)
    sizes = [r.n for r in out.groupBy(F.spark_partition_id().alias("p")).agg(F.count("*").alias("n")).collect()]
    assert len(sizes) > 1  # spread over multiple partitions


def test_near_dup_components_transitive(spark):
    """a~b and b~c must cluster a,b,c together even if a!~c directly
    (the property pairwise dedup misses and components fix)."""
    from datacurator_jl_spark.operators.dedup import (
        drop_near_dupes,
        near_dup_components,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, base),
        (2, base + " extra"),       # ~ 1
        (3, base + " extra words"),  # ~ 2, maybe not ~ 1
        (10, "completely different content about spark aggregation plans"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    comps = {r.doc: r.comp for r in near_dup_components(df, "doc_id", "text", k=8, bands=8).collect()}
    assert comps[1] == comps[2] == comps[3] == 1
    assert comps[10] == 10
    kept = {r.doc_id for r in drop_near_dupes(df, "doc_id", "text", k=8, bands=8).collect()}
    assert kept == {1, 10}


def test_hash_sample_deterministic_and_proportional(spark, docs_df):
    from datacurator_jl_spark.operators.dataframe_ops import hash_sample

    a = {r.url for r in hash_sample(docs_df, "url", 0.25).select("url").collect()}
    b = {r.url for r in hash_sample(docs_df, "url", 0.25).select("url").collect()}
    assert a == b  # pure function of the key
    n = docs_df.count()
    assert 0.15 * n < len(a) < 0.35 * n  # ~25%
    half = {r.url for r in hash_sample(docs_df, "url", 0.5).select("url").collect()}
    assert a <= half  # nested: smaller fraction is a subset of larger


def test_srp_signature_properties(spark):
    from datacurator_jl_spark.operators.similarity import (
        srp_near_dup_pairs,
        srp_signature,
    )

    base = [1.0, 0.5] * 32  # dim 64
    near = list(base)
    near[0] += 0.01
    far = [(-1.0) * v for v in base]
    rows = [(1, base), (2, near), (3, far), (4, None)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    sigs = {r.vec_id: r.srp_sig for r in srp_signature(df, "embedding", 64).collect()}
    assert sigs[1] == sigs[2]  # tiny perturbation -> same bucket bits
    assert sigs[3] == sigs[1] ^ 0xFFFF  # antipodal -> all 16 bits flipped
    assert sigs[4] is None  # null embedding -> NULL signature (round-4)
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in srp_near_dup_pairs(df, "vec_id", "embedding", 64).collect()
    }
    assert pairs.get((1, 2)) == 0
    assert (1, 3) not in pairs  # hamming 16 > max_hamming


def test_srp_near_dup_skew_guards(spark, tmp_path):
    """One synthetic hot bucket (1k identical embeddings) must not
    reintroduce the O(bucket^2) self-join: max_bucket drops the
    degenerate bucket wholesale, null/ragged embeddings (NULL signature)
    never gain candidacy, and the directory materialize policy persists
    the bucket frame as a parquet signature table."""
    from datacurator_jl_spark.operators.similarity import srp_near_dup_pairs

    hot = [(i, [1.0, 0.5] * 32) for i in range(1000)]
    invalid = [(10_000 + i, None) for i in range(25)]
    invalid += [(10_500 + i, [0.5] * 8) for i in range(25)]  # ragged dim
    # [-0.3]*64 shares NO band value with the hot cluster (verified
    # against srp_planes(64,16,7)), so the pair survives the bucket cap
    pair = [(20_000, [-0.3] * 64), (20_001, [-0.3] * 64)]
    df = spark.createDataFrame(
        hot + invalid + pair, "vec_id long, embedding array<float>"
    )
    capped = srp_near_dup_pairs(df, "vec_id", "embedding", 64, max_bucket=100)
    assert {(r.id_a, r.id_b) for r in capped.collect()} == {(20_000, 20_001)}
    # null/ragged embeddings never pair even with the cap off: NULL rule
    un = srp_near_dup_pairs(
        df.filter("vec_id >= 10000"), "vec_id", "embedding", 64, max_bucket=None
    )
    assert {(r.id_a, r.id_b) for r in un.collect()} == {(20_000, 20_001)}
    # LEGITIMATE signature 0 (identical zero vectors) keeps candidacy
    zeros = spark.createDataFrame(
        [(1, [0.0] * 64), (2, [0.0] * 64)], "vec_id long, embedding array<float>"
    )
    zp = srp_near_dup_pairs(zeros, "vec_id", "embedding", 64, max_bucket=None)
    assert {(r.id_a, r.id_b) for r in zp.collect()} == {(1, 2)}
    # directory policy: persisted parquet signature table, same answer
    mat = srp_near_dup_pairs(
        df, "vec_id", "embedding", 64, max_bucket=100, materialize=str(tmp_path)
    )
    assert {(r.id_a, r.id_b) for r in mat.collect()} == {(20_000, 20_001)}
    assert any(p.name.startswith("dc-mat-") for p in tmp_path.iterdir())


@pytest.mark.parametrize("bands", [0, 3])
@pytest.mark.parametrize("op", ["minhash_lsh", "srp"])
def test_band_count_must_divide_the_signature(spark, op, bands):
    """8 minhash lanes or 16 SRP bits cut into 0 or 3 bands would divide
    by zero or silently leave the last lanes out of every band key: a
    ValueError, not a bare assert that ``python -O`` strips."""
    with pytest.raises(ValueError, match="positive multiple of bands"):
        if op == "minhash_lsh":
            df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
            DD.lsh_candidate_pairs(df, "doc_id", "text", k=8, bands=bands)
        else:
            df = spark.createDataFrame(
                [(1, [1.0] * 4)], "vec_id long, embedding array<float>"
            )
            SIM.srp_near_dup_pairs(df, "vec_id", "embedding", 4, bits=16, bands=bands)


# One hot key (docs 1-3) and one cold key (docs 4-5): identical texts,
# blocks and embeddings within a key, nothing shared across keys (the
# cold embedding is the hot one negated, so every SRP bit differs).
_HOT = "alpha bravo charlie delta echo foxtrot golf hotel"
_COLD = "india juliet kilo lima mike november oscar papa"
_VEC = [1.0, 0.5, -0.25, 2.0]
_SKEW_ROWS = [(i, "hot", _HOT, _VEC) for i in (1, 2, 3)] + [
    (i, "cold", _COLD, [-x for x in _VEC]) for i in (4, 5)
]


def _pairs(df):
    return {(r["id_a"], r["id_b"]) for r in df.collect()}


def _victims(df, cap):
    kept = DD.drop_contained_docs(df, "id", "text", "blk", max_block=cap)
    return {1, 2, 3, 4, 5} - {r["id"] for r in kept.collect()}


def _winnow_pairs(df, cap):
    from datacurator_jl_spark.operators.winnow import winnow_candidate_pairs

    return _pairs(winnow_candidate_pairs(df, "id", "text", min_shared=1, max_bucket=cap))


#: every keyed self-join pair generator, as (frame, cap) -> pairs (or,
#: for drop_contained_docs, victims)
PAIR_GENERATORS = {
    "lsh_candidate_pairs": lambda df, cap: _pairs(
        DD.lsh_candidate_pairs(df, "id", "text", max_bucket=cap)
    ),
    "estimate_jaccard_pairs": lambda df, cap: _pairs(
        DD.estimate_jaccard_pairs(df, "id", "text", max_bucket=cap)
    ),
    "ngram_containment_pairs": lambda df, cap: _pairs(
        DD.ngram_containment_pairs(df, "id", "text", "blk", max_block=cap)
    ),
    "drop_contained_docs": _victims,
    "ngram_jaccard_pairs": lambda df, cap: _pairs(
        DD.ngram_jaccard_pairs(df, "id", "text", "blk", max_block=cap, prefilter="none")
    ),
    "srp_near_dup_pairs": lambda df, cap: _pairs(
        SIM.srp_near_dup_pairs(df, "id", "emb", 4, max_bucket=cap)
    ),
    "winnow_candidate_pairs": _winnow_pairs,
}


@pytest.mark.parametrize("name", sorted(PAIR_GENERATORS))
def test_over_cap_key_yields_no_pairs(spark, name):
    """The skew cap of every pair generator: a key one row over the cap
    yields no pairs (or victims), a key under it is unchanged, and a key
    exactly at the cap still pairs."""
    df = spark.createDataFrame(
        _SKEW_ROWS, "id long, blk string, text string, emb array<double>"
    )
    if name == "drop_contained_docs":
        hot, cold = {2, 3}, {5}  # identical sets: the larger id loses
    else:
        hot, cold = {(1, 2), (1, 3), (2, 3)}, {(4, 5)}
    run = PAIR_GENERATORS[name]
    assert run(df, None) == hot | cold
    assert run(df, 3) == hot | cold
    assert run(df, 2) == cold


def test_line_ratio_heuristics_edges(spark):
    from datacurator_jl_spark.functions import text as X

    rows = [
        (1, "ends well.\n- bullet\nmore...\t\n\t \nplain"),
        (2, ""),
        (3, None),
        (4, "• uni bullet\nno end"),
    ]
    df = spark.createDataFrame(rows, "id int, text string")
    got = {
        r.id: (r.e, r.b, r.t)
        for r in df.select(
            "id",
            F.round(X.ellipsis_line_ratio(F.col("text")), 6).alias("e"),
            F.round(X.bullet_line_ratio(F.col("text")), 6).alias("b"),
            F.round(X.terminal_punct_line_ratio(F.col("text")), 6).alias("t"),
        ).collect()
    }
    # doc 1: 5 lines; 1 ellipsis (trailing tab ok), 1 bullet; 4 non-blank
    # lines ("\t " is blank), 2 end in terminal punct ('.', '...')
    assert got[1] == (0.2, 0.2, 0.5)
    assert got[2] == (0.0, 0.0, 0.0)
    assert got[4] == (0.0, 0.5, 0.0)


def test_near_dup_components_string_ids_converge(spark):
    """Round-2 review regression: the old sum('comp') convergence probe
    was null for STRING ids, silently stopping propagation after one
    round. A 3-chain keyed so the min label needs 2 hops to reach the
    far end must still fully converge."""
    from datacurator_jl_spark.operators.dedup import near_dup_components

    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [("m1", base + " x"), ("a0", base), ("z9", base + " x y")]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    comps = {
        r.doc: r.comp
        for r in near_dup_components(df, "doc_id", "text", k=8, bands=8).collect()
    }
    assert comps == {"a0": "a0", "m1": "a0", "z9": "a0"}


# ---- corpus analysis reports (operators/report.py) ----


def test_corpus_report_edges(spark):
    from datacurator_jl_spark.operators.report import corpus_report

    rows = [
        ("a", "x y z"), ("a", "x y z"), ("a", None),
        ("b", ""),
    ]
    df = spark.createDataFrame(rows, "src string, text string")
    got = {r["src"]: r.asDict() for r in corpus_report(df, "src", "text").collect()}
    a = got["a"]
    assert (a["n_docs"], a["n_null_text"], a["total_tokens"]) == (3, 1, 6)
    assert a["dup_rate"] == 0.5  # 2 non-null texts, 1 distinct
    b = got["b"]
    assert (b["total_tokens"], b["dup_rate"], b["mean_tokens"]) == (0, 0.0, 0.0)


def test_top_terms_semantics(spark):
    from datacurator_jl_spark.operators.report import top_terms

    df = spark.createDataFrame(
        [("The the apple",), ("banana apple THE",), (None,)], "text string"
    )
    got = [
        (r["term"], r["n"], r["rank"])
        for r in top_terms(df, "text", 2).orderBy("rank").collect()
    ]
    # 'the' x3 (case-folded), then 'apple' x2; ties impossible here
    assert got == [("the", 3, 1), ("apple", 2, 2)]
    with pytest.raises(ValueError, match="k"):
        top_terms(df, "text", 0)


def test_top_terms_tie_break_deterministic(spark):
    from datacurator_jl_spark.operators.report import top_terms

    df = spark.createDataFrame([("b a",), ("a b",)], "text string")
    got = [(r["term"], r["rank"]) for r in top_terms(df, "text", 2).orderBy("rank").collect()]
    assert got == [("a", 1), ("b", 2)]  # equal counts -> term order


def test_corpus_report_approx_distinct_close_and_plan_free_of_expand(spark):
    """approx=True keeps dup_rate within HLL tolerance of the exact
    report; the exact path's distinct runs over md5, not raw text."""
    from datacurator_jl_spark.operators.report import corpus_report

    rows = [(i, "g", "dup text" if i % 3 == 0 else f"unique {i}")
            for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id bigint, grp string, text string")
    exact = corpus_report(df, "grp", "text").collect()[0]
    approx = corpus_report(df, "grp", "text", approx=True).collect()[0]
    assert abs(exact.dup_rate - approx.dup_rate) < 0.05
    assert exact.n_docs == approx.n_docs == 300
    plan = corpus_report(df, "grp", "text")._jdf.queryExecution() \
        .executedPlan().toString()
    assert "md5" in plan, plan
