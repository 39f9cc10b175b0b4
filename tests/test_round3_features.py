"""Round-3 coverage: NULL-signature LSH semantics (token-less docs never
pair — the ADVICE medium finding), Jaccard block-size skew guards
(max_block / LSH prefilter), explicit materialization policies for the
dedup path, near-dup non-convergence warning, and pre-dedup row-count
semantics."""

from __future__ import annotations

import glob
import os

import pandas as pd
import pyspark.sql.functions as F
import pytest

from datacurator_jl_spark.engine import Pipeline
from datacurator_jl_spark.operators import dedup as DD
from datacurator_jl_spark.recipe import parse_recipe


# --- token-less docs in the LSH path (ADVICE r2, medium) --------------------
#
# Blank docs (empty / whitespace-only / NULL text) have NULL minhash
# signatures. The pinned semantics — matching the DuckDB oracle, where
# NULL never equals NULL — are: no signature => no candidacy. Before the
# round-3 fix, F.hash mapped the NULL lanes to a regular band key and
# every blank doc paired with every other blank doc.

_BLANKY_ROWS = [
    ("a1", "the quick brown fox jumps over the lazy dog", "s1"),
    ("a2", "the quick brown fox jumps over the lazy dog", "s1"),
    ("b1", "", "s1"),
    ("b2", "   \n\t ", "s1"),
    ("b3", None, "s2"),
    ("b4", "\x0b", "s2"),  # vertical tab only: token-less in Java/Python
    ("c1", "completely different words entirely here", "s2"),
]


@pytest.fixture(scope="module")
def blanky_df(spark):
    return spark.createDataFrame(
        _BLANKY_ROWS, "doc_id string, text string, source string"
    ).cache()


def test_tokenless_docs_never_pair(blanky_df):
    pairs = DD.lsh_candidate_pairs(blanky_df, "doc_id", "text").collect()
    got = {(r.id_a, r.id_b) for r in pairs}
    assert got == {("a1", "a2")}  # blanks pair with nothing, incl. each other


def test_tokenless_docs_survive_near_dedup(blanky_df):
    kept = {
        r.doc_id
        for r in DD.drop_near_dupes(blanky_df, "doc_id", "text").select("doc_id").collect()
    }
    # ALL blank docs survive (each its own singleton); only the real dup drops
    assert kept == {"a1", "b1", "b2", "b3", "b4", "c1"}


def test_tokenless_components_match_duckdb_oracle(spark, blanky_df):
    """The d14 oracle gate at sf0.01 has zero token-less docs; this runs
    the SAME recursive-CTE DuckDB oracle over a corpus that has them."""
    import duckdb

    from datacurator_jl_spark.queries import ORACLES

    got = (
        DD.near_dup_components(blanky_df, "doc_id", "text")
        .toPandas()
        .sort_values("doc")
        .reset_index(drop=True)
    )
    con = duckdb.connect()
    con.register(
        "documents",
        pd.DataFrame(_BLANKY_ROWS, columns=["doc_id", "text", "source"]),
    )
    exp = (
        con.execute(ORACLES["d14_near_dup_components"])
        .df()
        .sort_values("doc")
        .reset_index(drop=True)
    )
    assert list(got["doc"]) == list(exp["doc"])
    assert list(got["comp"]) == list(exp["comp"])


def test_dedup_near_prepass_keeps_blank_docs(spark, blanky_df):
    """`[global] dedup = "near"` inherits the NULL-signature fix: a
    NULL-text row must NOT be dropped as a 'near-duplicate' of an
    unrelated empty row."""
    spec = parse_recipe(
        {
            "global": {"act_on_success": True, "dedup": "near"},
            "any": {"conditions": ["always"], "actions": ["keep"]},
        }
    )
    df = blanky_df.withColumnRenamed("doc_id", "url")
    out = Pipeline(spec).apply(df).df
    kept = {r.url for r in out.select("url").collect()}
    assert {"b1", "b2", "b3", "b4"} <= kept


# --- Jaccard block-size skew guards (VERDICT r2 #1) --------------------------


def _jaccard_corpus(spark, mega: int = 30, small: int = 4):
    # one mega-block of identical docs + one small block of near-dups
    rows = [(f"m{i:03d}", "alpha beta gamma delta", "mega") for i in range(mega)]
    rows += [(f"s{i}", "one two three four five six seven", "small") for i in range(small)]
    return spark.createDataFrame(rows, "doc_id string, text string, source string")


def test_lsh_prefilter_is_subset_and_exact(spark):
    df = _jaccard_corpus(spark, mega=8, small=4)
    default = DD.ngram_jaccard_pairs(df, "doc_id", "text", "source", 0.5, max_block=None)
    pre = DD.ngram_jaccard_pairs(
        df, "doc_id", "text", "source", 0.5, prefilter="lsh"
    )
    dflt = {(r.id_a, r.id_b): r.jaccard for r in default.collect()}
    got = {(r.id_a, r.id_b): r.jaccard for r in pre.collect()}
    cand = {
        (r.id_a, r.id_b)
        for r in DD.lsh_candidate_pairs(df, "doc_id", "text").collect()
    }
    # exact Jaccard over the LSH candidate set: subset of the default
    # output, identical values, and exactly the candidates that pass
    assert set(got) <= set(dflt)
    assert got == {k: v for k, v in dflt.items() if k in cand}
    assert got  # non-degenerate: identical docs are sure LSH candidates


def test_auto_prefilter_boundary(spark):
    """Round-4: prefilter='auto' (the new default) picks the exact
    blocked join below AUTO_LSH_THRESHOLD docs and the LSH scale path
    at/above it — the boundary is pinned here."""
    from datacurator_jl_spark.operators.dedup import (
        AUTO_LSH_THRESHOLD,
        _select_prefilter,
    )

    assert AUTO_LSH_THRESHOLD == 1_000_000  # documented knob
    assert _select_prefilter(AUTO_LSH_THRESHOLD - 1) == "none"
    assert _select_prefilter(AUTO_LSH_THRESHOLD) == "lsh"
    assert _select_prefilter(10, threshold=10) == "lsh"

    df = _jaccard_corpus(spark, mega=8, small=4)
    exact = {
        (r.id_a, r.id_b): r.jaccard
        for r in DD.ngram_jaccard_pairs(
            df, "doc_id", "text", "source", 0.5, prefilter="none"
        ).collect()
    }
    # small input: auto == exact path, byte-identical
    auto = {
        (r.id_a, r.id_b): r.jaccard
        for r in DD.ngram_jaccard_pairs(
            df, "doc_id", "text", "source", 0.5
        ).collect()
    }
    assert auto == exact
    # forced over the boundary: auto == the LSH path
    lsh = {
        (r.id_a, r.id_b): r.jaccard
        for r in DD.ngram_jaccard_pairs(
            df, "doc_id", "text", "source", 0.5, prefilter="lsh"
        ).collect()
    }
    forced = {
        (r.id_a, r.id_b): r.jaccard
        for r in DD.ngram_jaccard_pairs(
            df, "doc_id", "text", "source", 0.5, auto_threshold=1
        ).collect()
    }
    assert forced == lsh
    with pytest.raises(ValueError, match="prefilter"):
        DD.ngram_jaccard_pairs(
            df, "doc_id", "text", "source", 0.5, prefilter="bogus"
        )


def test_auto_prefilter_is_block_shape_aware(spark):
    """Round-5 (VERDICT r4 next #3): a sub-threshold corpus concentrated
    in ONE over-cap block must take the LSH path — recovering the hot
    block's genuine near-dups up to bucket caps — instead of the exact
    path dropping the block wholesale (recall, not cost)."""
    from datacurator_jl_spark.operators.dedup import _select_prefilter

    # selector unit boundary: over-cap largest block forces lsh even far
    # below the doc-count threshold; at/under cap falls back to count rule
    assert _select_prefilter(100, max_block_count=31, max_block=30) == "lsh"
    assert _select_prefilter(100, max_block_count=30, max_block=30) == "none"
    assert _select_prefilter(100, max_block_count=31, max_block=None) == "none"

    # end-to-end: 30-doc hot block > max_block=10, 4-doc tail block
    df = _jaccard_corpus(spark, mega=30, small=4)
    exact = {
        (r.id_a, r.id_b)
        for r in DD.ngram_jaccard_pairs(
            df, "doc_id", "text", "source", 0.5, max_block=10, prefilter="none"
        ).collect()
    }
    # the explicit exact path drops the hot block wholesale
    assert exact == {(f"s{i}", f"s{j}") for i in range(4) for j in range(i + 1, 4)}
    auto = {
        (r.id_a, r.id_b)
        for r in DD.ngram_jaccard_pairs(
            df, "doc_id", "text", "source", 0.5, max_block=10
        ).collect()
    }
    # auto routes to LSH: the hot block's identical-doc pairs are
    # recovered (they are sure LSH candidates), tail pairs preserved
    assert {("m000", "m001"), ("s0", "s1")} <= auto
    assert len(auto) == 30 * 29 // 2 + 4 * 3 // 2


# --- materialization policies (VERDICT r2 #2) --------------------------------


def test_materialize_policies_agree(spark, blanky_df, tmp_path):
    local = {
        (r.id_a, r.id_b)
        for r in DD.lsh_candidate_pairs(blanky_df, "doc_id", "text").collect()
    }

    # 'reliable' without a checkpoint dir is an explicit, early error
    if spark.sparkContext._jsc.sc().getCheckpointDir().isEmpty():
        with pytest.raises(ValueError, match="setCheckpointDir"):
            DD.lsh_candidate_pairs(
                blanky_df, "doc_id", "text", materialize="reliable"
            )
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    reliable = {
        (r.id_a, r.id_b)
        for r in DD.lsh_candidate_pairs(
            blanky_df, "doc_id", "text", materialize="reliable"
        ).collect()
    }
    assert reliable == local
    assert glob.glob(str(tmp_path / "ckpt" / "**" / "rdd-*"), recursive=True)

    sig_dir = str(tmp_path / "sigs")
    path_pol = {
        (r.id_a, r.id_b)
        for r in DD.lsh_candidate_pairs(
            blanky_df, "doc_id", "text", materialize=sig_dir
        ).collect()
    }
    assert path_pol == local
    # the signature table was persisted as real parquet (restartable)
    written = glob.glob(os.path.join(sig_dir, "dc-mat-*", "*.parquet"))
    assert written


def test_materialize_policies_agree_components(spark, blanky_df, tmp_path):
    base = DD.near_dup_components(blanky_df, "doc_id", "text").collect()
    durable = DD.near_dup_components(
        blanky_df, "doc_id", "text", materialize=str(tmp_path / "mats")
    ).collect()
    assert {(r.doc, r.comp) for r in base} == {(r.doc, r.comp) for r in durable}


def test_dedup_materialize_validated_eagerly():
    """A typo'd policy keyword must raise at parse time, not silently
    become an output directory named after the typo (review finding)."""
    from datacurator_jl_spark.recipe import RecipeError

    for bad in ("Local", "relaible", True):
        with pytest.raises(RecipeError, match="dedup_materialize"):
            parse_recipe(
                {
                    "global": {"dedup": "near", "dedup_materialize": bad},
                    "any": {"conditions": ["always"], "actions": ["keep"]},
                }
            )


def test_json_models_use_ascii_tokenization():
    """Fixture models obey the repo-pinned ASCII \\S+ token contract:
    unicode whitespace (\\xa0) does NOT split tokens (review finding)."""
    import json

    from datacurator_jl_spark.plans.stages import JsonPerplexityModel

    import tempfile

    with tempfile.NamedTemporaryFile("w", suffix=".json", delete=False) as fh:
        json.dump({"words": {"foo": 1.0, "bar": 3.0}, "unk": 100.0}, fh)
        path = fh.name
    m = JsonPerplexityModel(path)
    scores = m.score_batch(pd.Series(["foo bar", "foo\xa0bar"]))
    assert scores.iloc[0] == 2.0  # two known tokens
    assert scores.iloc[1] == 100.0  # ONE unknown token "foo\xa0bar", not two knowns
    os.unlink(path)


def test_recipe_level_dedup_materialize(spark, blanky_df, tmp_path):
    """`[global] dedup_materialize = <dir>` routes the near-dedup
    pre-pass intermediates to persisted parquet signature tables."""
    sig_dir = str(tmp_path / "recipe_sigs")
    spec = parse_recipe(
        {
            "global": {
                "act_on_success": True,
                "dedup": "near",
                "dedup_materialize": sig_dir,
            },
            "any": {"conditions": ["always"], "actions": ["keep"]},
        }
    )
    df = blanky_df.withColumnRenamed("doc_id", "url")
    kept = {r.url for r in Pipeline(spec).apply(df).df.select("url").collect()}
    assert kept == {"a1", "b1", "b2", "b3", "b4", "c1"}
    assert glob.glob(os.path.join(sig_dir, "dc-mat-*", "*.parquet"))


# --- non-convergence warning (ADVICE r2, low) --------------------------------


def test_near_dup_components_warns_on_non_convergence(spark, monkeypatch):
    rows = [
        ("a", "identical twin text body"),
        ("b", "identical twin text body"),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    # pin the DISTRIBUTED loop (round-7: small edge sets normally route
    # to the driver union-find, which always converges)
    monkeypatch.setattr(DD, "DRIVER_COMPONENTS_MAX_EDGES", 0)
    # max_iter=1: round 1 still flips b's label, so the loop exits without
    # observing a fixpoint and must say so instead of silently returning
    with pytest.warns(RuntimeWarning, match="fixpoint"):
        DD.near_dup_components(df, "doc_id", "text", max_iter=1)


# --- arrow_hash LRU caches (VERDICT r2 minor #3) ------------------------------


def test_arrow_hash_lru_eviction(monkeypatch):
    """The per-worker word caches evict by recency instead of the old
    clear-all valve: recently-USED words survive an overflow, values are
    identical before and after re-derivation."""
    from datacurator_jl_spark.functions import arrow_hash as AH

    monkeypatch.setattr(AH, "_CACHE_CAP", 10)
    AH._MH_CACHES.pop(3, None)
    sig1 = AH._minhash_batch(pd.Series([" ".join(f"w{i}" for i in range(12))]), 3)
    cache = AH._MH_CACHES[3]
    assert len(cache) == 12  # eviction runs at NEXT batch entry
    AH._minhash_batch(pd.Series(["w0"]), 3)  # overflow -> evict to 7, re-add w0
    assert len(cache) == 8 and "w0" in cache
    # refresh w0/w5 recency, push past the cap, overflow on the next batch
    AH._minhash_batch(pd.Series(["w0 w5 n1 n2 n3"]), 3)
    AH._minhash_batch(pd.Series(["zz"]), 3)
    assert {"w0", "w5", "n1", "n2", "n3"} <= set(cache)  # recent survive
    assert "w6" not in cache and "w7" not in cache  # stale evicted
    assert len(cache) <= 10
    # determinism across eviction: recomputed lanes equal the originals
    sig2 = AH._minhash_batch(pd.Series([" ".join(f"w{i}" for i in range(12))]), 3)
    assert sig1.equals(sig2)
    AH._MH_CACHES.pop(3, None)


# --- domain-quota input-skew pre-cap (VERDICT r2 minor #3) -------------------


def test_domain_precap_bounds_shuffle_input():
    """The stateless pre-cap ahead of the stateful quota shuffle: at most
    `quota` rows per domain leave each partition, in arrival order, and
    no row the global quota would admit is ever dropped."""
    from datacurator_jl_spark.streaming.stream import _domain_precap

    b1 = pd.DataFrame({"_domain": ["big"] * 6 + ["small", None], "_key": [f"k{i}" for i in range(8)]})
    b2 = pd.DataFrame({"_domain": ["big", "big", None, None, None], "_key": [f"j{i}" for i in range(5)]})
    out = pd.concat(list(_domain_precap(3)(iter([b1, b2]))))
    # per domain (incl. null), at most quota=3 admitted across the
    # partition's batches, and they are the FIRST arrivals
    assert list(out["_key"]) == ["k0", "k1", "k2", "k6", "k7", "j2", "j3"]


def test_domain_quota_stream_capped_after_precap(spark, tmp_path):
    from datacurator_jl_spark.streaming.stream import domain_quota_stream

    pdf = pd.DataFrame(
        {
            "url": [f"http://big.com/{i}" for i in range(40)]
            + [f"http://tiny.org/{i}" for i in range(2)],
            "text": ["x"] * 42,
        }
    )
    src = str(tmp_path / "docs")
    spark.createDataFrame(pdf).repartition(4).write.parquet(src)
    stream = spark.readStream.schema("url string, text string").parquet(src)
    q = (
        domain_quota_stream(stream, quota=5)
        .writeStream.format("memory")
        .queryName("precapstream")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    counts = {
        r.domain: r.n
        for r in spark.sql(
            "select domain, count(*) n from precapstream group by domain"
        ).collect()
    }
    assert counts == {"big.com": 5, "tiny.org": 2}


# --- pre-dedup row-count semantics (ADVICE r2, low) ---------------------------


def test_has_n_rows_asserts_input_cardinality(spark):
    rows = [("u1", "same text"), ("u2", "same text"), ("u3", "other")]
    df = spark.createDataFrame(rows, "url string, text string")
    spec = parse_recipe(
        {
            "global": {"act_on_success": True, "dedup": "exact"},
            "any": {"conditions": [["has_n_rows", 3]], "actions": ["keep"]},
        }
    )
    out = Pipeline(spec).apply(df).df
    # 3 input rows (the shape assertion target) -> condition true;
    # 2 survive the exact-dedup pre-pass
    assert out.count() == 2
    assert {r.dc_rule_id for r in out.collect()} == {"any:0:has_n_rows"}


# --- incremental ingest dedup vs a persisted signature table ------------------


@pytest.fixture()
def ingest_frames(spark):
    base = spark.createDataFrame(
        [
            (2, "the quick brown fox jumps over the lazy dog"),
            (4, "an entirely different base document about spark"),
        ],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (11, "the quick brown fox jumps over the lazy dog"),  # dup of base 2
            (13, "a genuinely novel document with fresh words"),   # unique
            (15, "repeated new content inside one batch only"),
            (17, "repeated new content inside one batch only"),    # dup of 15
            (19, "   \t\n"),                                       # token-less
        ],
        "doc_id long, text string",
    )
    return base, new


def test_incremental_survivors_semantics(ingest_frames):
    base, new = ingest_frames
    sigs = DD.signature_table(base, "doc_id", "text")
    got = {
        r["doc_id"]
        for r in DD.incremental_near_dup_survivors(
            new, sigs, "doc_id", "text"
        ).collect()
    }
    # 11 is a near-dup of base 2 -> dropped; 15 beats 17 (component-min
    # among the new); token-less 19 has no signature -> no candidacy,
    # survives; base ids never appear in the output
    assert got == {13, 15, 19}


def test_incremental_base_always_wins_regardless_of_id_order(spark):
    # the NEW doc has the SMALLER id: min-label on raw ids would crown it;
    # the (rank, id) struct labels must still root the component at base
    base = spark.createDataFrame(
        [(100, "shared duplicate text across ingests")], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [(1, "shared duplicate text across ingests")], "doc_id long, text string"
    )
    sigs = DD.signature_table(base, "doc_id", "text")
    assert DD.incremental_near_dup_survivors(new, sigs, "doc_id", "text").count() == 0


def test_incremental_preserves_new_columns(ingest_frames):
    base, new = ingest_frames
    sigs = DD.signature_table(base, "doc_id", "text")
    out = DD.incremental_near_dup_survivors(
        new.withColumn("extra", F.lit("x")), sigs, "doc_id", "text"
    )
    assert out.columns == ["doc_id", "text", "extra"]


def test_signature_table_shape(ingest_frames):
    base, new = ingest_frames
    sigs = DD.signature_table(new, "doc_id", "text", k=4)
    assert sigs.columns == ["doc", "mh0", "mh1", "mh2", "mh3"]
    # token-less doc 19 is excluded: no signature, nothing to persist
    assert {r["doc"] for r in sigs.select("doc").collect()} == {11, 13, 15, 17}


def test_incremental_second_batch_against_updated_sigs(ingest_frames):
    """The ingest loop contract: sigs(t+1) = sigs(t) UNION sigs(survivors)."""
    base, new = ingest_frames
    sigs = DD.signature_table(base, "doc_id", "text")
    kept = DD.incremental_near_dup_survivors(new, sigs, "doc_id", "text")
    sigs2 = sigs.unionByName(DD.signature_table(kept, "doc_id", "text"))
    batch2 = new.sparkSession.createDataFrame(
        [
            (21, "repeated new content inside one batch only"),  # dup of kept 15
            (23, "second wave bringing something completely new"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]
        for r in DD.incremental_near_dup_survivors(
            batch2, sigs2, "doc_id", "text"
        ).collect()
    }
    assert got == {23}


# --- blocklist filtering (operator + recipe condition) ------------------------


from datacurator_jl_spark.operators.dataframe_ops import blocklist_filter  # noqa: E402
from datacurator_jl_spark.registry import RuleContext, compile_condition  # noqa: E402


@pytest.fixture()
def bl_df(spark):
    rows = [
        (1, "spam.com", "x"), (2, "good.org", "y"),
        (3, None, "z"), (4, "ads.net", "w"),
    ]
    return spark.createDataFrame(rows, "id long, domain string, text string")


def test_blocklist_filter_inline_and_df_paths_agree(bl_df, spark):
    blocked_vals = ["spam.com", "ads.net", "unused.io"]
    inline = {r["id"] for r in blocklist_filter(bl_df, "domain", blocked_vals).collect()}
    bdf = spark.createDataFrame([(v,) for v in blocked_vals], "d string")
    joined = {r["id"] for r in blocklist_filter(bl_df, "domain", bdf).collect()}
    # null domain never matches a blocklist -> kept on BOTH paths
    assert inline == joined == {2, 3}


def test_allowlist_drops_nulls(bl_df, spark):
    allowed = spark.createDataFrame([("good.org",), ("spam.com",)], "d string")
    got = {
        r["id"]
        for r in blocklist_filter(bl_df, "domain", allowed, keep_listed=True).collect()
    }
    assert got == {1, 2}  # null domain matches nothing -> dropped
    inline = {
        r["id"]
        for r in blocklist_filter(
            bl_df, "domain", ["good.org", "spam.com"], keep_listed=True
        ).collect()
    }
    assert inline == got


def test_blocklist_df_join_is_broadcast(bl_df, spark):
    bdf = spark.createDataFrame([("spam.com",)], "d string")
    plan = (
        blocklist_filter(bl_df, "domain", bdf)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_blocklist_df_must_be_single_column(bl_df, spark):
    two = spark.createDataFrame([("a", "b")], "x string, y string")
    with pytest.raises(ValueError, match="one column"):
        blocklist_filter(bl_df, "domain", two)


def test_name_in_list_conditions(bl_df):
    ctx = RuleContext(name_col="domain", text_col="text")
    blocked = compile_condition(["name_in_list", ["spam.com", "ads.net"]], ctx)
    out = bl_df.withColumn("hit", blocked).collect()
    got = {r["id"]: r["hit"] for r in out}
    assert got == {1: True, 2: False, 3: None, 4: True}  # null name -> null
    ok = compile_condition(["name_not_in_list", ["spam.com", "ads.net"]], ctx)
    got2 = {r["id"]: r["ok"] for r in bl_df.withColumn("ok", ok).collect()}
    assert got2 == {1: False, 2: True, 3: None, 4: False}


def test_name_in_list_rejects_bare_string(bl_df):
    from datacurator_jl_spark.recipe import RecipeError

    ctx = RuleContext(name_col="domain", text_col="text")
    with pytest.raises(RecipeError, match="LIST"):
        bl_df.withColumn("c", compile_condition(["name_in_list", "spam.com"], ctx))


# --- containment near-dup (truncated/excerpt detector) ------------------------


def test_containment_catches_excerpts_jaccard_misses(spark):
    full = " ".join(f"w{i}" for i in range(100))
    excerpt = " ".join(f"w{i}" for i in range(10))  # strict 10% subset
    df = spark.createDataFrame(
        [(1, full, "blk"), (2, excerpt, "blk"), (3, "unrelated text", "blk")],
        "id long, text string, blk string",
    )
    cont = DD.ngram_containment_pairs(df, "id", "text", "blk", threshold=0.9)
    got = [(r["id_a"], r["id_b"], r["containment"]) for r in cont.collect()]
    assert got == [(1, 2, 1.0)]
    # Jaccard at any useful threshold misses it (J = 10/100 = 0.1)
    jac = DD.ngram_jaccard_pairs(df, "id", "text", "blk", threshold=0.5)
    assert jac.count() == 0


def test_containment_tokenless_docs_never_pair(spark):
    df = spark.createDataFrame(
        [(1, "", "b"), (2, "   ", "b"), (3, None, "b"), (4, "x", "b")],
        "id long, text string, blk string",
    )
    assert DD.ngram_containment_pairs(df, "id", "text", "blk").count() == 0


def test_containment_block_cap(spark):
    rows = [(i, "common words here", "mega") for i in range(10)] + [
        (100, "common words here", "ok"),
        (101, "common words here", "ok"),
    ]
    df = spark.createDataFrame(rows, "id long, text string, blk string")
    out = DD.ngram_containment_pairs(df, "id", "text", "blk", max_block=5)
    got = {(r["id_a"], r["id_b"]) for r in out.collect()}
    assert got == {(100, 101)}  # the mega block is capped away entirely


# --- recipe-surface pre-passes: blocklist / paragraph_dedup / domain_cap ------


def test_recipe_full_prepass_chain(spark):
    rows = [
        # blocked domain
        ("http://spam.com/a", "spam.com", "anything at all"),
        # two docs sharing a paragraph; the copy survives in u1 only
        ("http://a.org/1", "a.org", "SHARED PARA\n\nunique alpha"),
        ("http://a.org/2", "a.org", "SHARED PARA\n\nunique beta"),
        # three unique docs in one domain -> domain_cap=2 keeps two
        ("http://b.net/1", "b.net", "first b document standing alone"),
        ("http://b.net/2", "b.net", "second b document standing alone"),
        ("http://b.net/3", "b.net", "third b document standing alone"),
    ]
    df = spark.createDataFrame(rows, "url string, source string, text string")
    spec = parse_recipe(
        {
            "global": {
                "act_on_success": True,
                "blocklist": ["http://spam.com/a"],
                "paragraph_dedup": True,
                "domain_cap": 2,
            },
            "any": {"conditions": ["has_text"], "actions": ["keep"]},
        }
    )
    out = Pipeline(spec).apply(df).df
    got = {r["url"]: r["text"] for r in out.collect()}
    assert "http://spam.com/a" not in got
    assert got["http://a.org/1"] == "SHARED PARA\n\nunique alpha"
    assert got["http://a.org/2"] == "unique beta"
    assert sum(1 for u in got if "b.net" in u) == 2
    assert len(got) == 4  # 2 a.org + 2 b.net


def test_recipe_paragraph_dedup_then_exact_dedup(spark):
    """A whole-doc exact dup IS a paragraph dup: with both passes on,
    the paragraph pass nulls the loser's text first (globally-first
    occurrence survives), and the exact pass then sees distinct
    (text, null) rows — pinned cascade order."""
    rows = [
        ("u1", "same doc text"),
        ("u2", "same doc text"),
        ("u3", "another doc"),
    ]
    df = spark.createDataFrame(rows, "url string, text string")
    spec = parse_recipe(
        {
            "global": {"act_on_success": True, "paragraph_dedup": True,
                       "dedup": "exact"},
            "any": {"conditions": ["has_text"], "actions": ["keep"]},
        }
    )
    out = {r["url"]: r["text"] for r in Pipeline(spec).apply(df).df.collect()}
    assert out["u1"] == "same doc text" and out["u3"] == "another doc"
    # u2 lost its only paragraph -> null text -> fails has_text ->
    # no rule fires -> default_keep with null text
    assert out["u2"] is None


def test_recipe_prepass_validation():
    with pytest.raises(Exception, match="blocklist"):
        parse_recipe({"global": {"blocklist": "spam.com"}, "any": {
            "conditions": ["always"], "actions": ["keep"]}})
    with pytest.raises(Exception, match="paragraph_dedup"):
        parse_recipe({"global": {"paragraph_dedup": 1}, "any": {
            "conditions": ["always"], "actions": ["keep"]}})
    with pytest.raises(Exception, match="domain_cap"):
        parse_recipe({"global": {"domain_cap": 0}, "any": {
            "conditions": ["always"], "actions": ["keep"]}})
    with pytest.raises(Exception, match="domain_cap"):
        parse_recipe({"global": {"domain_cap": True}, "any": {
            "conditions": ["always"], "actions": ["keep"]}})


# --- minhash Jaccard estimation over LSH candidates ---------------------------


def test_estimate_jaccard_identical_docs_score_one(spark):
    df = spark.createDataFrame(
        [
            (1, "shared words in this document body"),
            (2, "shared words in this document body"),
            (3, "completely different content nothing alike"),
        ],
        "doc_id long, text string",
    )
    got = [
        (r["id_a"], r["id_b"], r["est_jaccard"])
        for r in DD.estimate_jaccard_pairs(
            df, "doc_id", "text", threshold=0.9
        ).collect()
    ]
    assert got == [(1, 2, 1.0)]  # identical word sets -> all lanes equal


def test_estimate_jaccard_threshold_prunes(spark):
    # docs sharing SOME lanes (band collision) but not all: the estimate
    # lands strictly below 1 and a high threshold prunes the pair
    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "alpha beta gamma delta epsilon zeta eta theta"),
        ],
        "doc_id long, text string",
    )
    loose = DD.estimate_jaccard_pairs(df, "doc_id", "text", threshold=0.0)
    rows = loose.collect()
    if rows:  # pair surfaces only if >=1 band collides (data-dependent)
        est = rows[0]["est_jaccard"]
        assert 0.0 < est <= 1.0
        strict = DD.estimate_jaccard_pairs(df, "doc_id", "text", threshold=est + 0.01)
        assert strict.count() == 0


# --- review-pass guards (round-3 self-review) ---------------------------------


def test_band_buckets_rejects_non_divisible_bands(spark):
    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    sigs = DD.signature_table(df, "doc_id", "text", k=8)
    with pytest.raises(ValueError, match="multiple of bands"):
        DD.incremental_near_dup_survivors(df, sigs, "doc_id", "text", k=8, bands=3)


def test_paragraph_dedup_rejects_duplicate_ids(spark):
    from datacurator_jl_spark.operators.paragraph_dedup import dedup_paragraphs

    df = spark.createDataFrame(
        [(1, "A\n\nB"), (1, "C\n\nD"), (2, "E")], "id long, text string"
    )
    with pytest.raises(ValueError, match="not unique"):
        dedup_paragraphs(df, "id", "text")
    # opt-out for callers that guarantee uniqueness upstream
    assert dedup_paragraphs(
        df.dropDuplicates(["id"]), "id", "text", validate_ids=False
    ).count() == 2


def test_compression_rules_share_one_arrow_stage(spark):
    """TWO compression band rules read the single pre-projected _dc_comp
    struct: exactly one zlib Arrow stage in the decision-frame plan."""
    rows = [("u1", "plain words " * 10)]
    df = spark.createDataFrame(rows, "url string, text string")
    spec = parse_recipe(
        {
            "global": {"act_on_success": True},
            "any": {
                "conditions": [
                    ["compression_ratio_between", [0.0, 0.05]],
                    ["compression_ratio_between", [0.05, 2.0]],
                ],
                "actions": ["drop", "keep"],
            },
        }
    )
    out = Pipeline(spec).apply(df).df
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1, plan
    assert "_dc_comp" not in out.columns


def test_drop_contained_docs_semantics(spark):
    full = " ".join(f"w{i}" for i in range(100))
    mid = " ".join(f"w{i}" for i in range(50))     # contained in full
    tiny = " ".join(f"w{i}" for i in range(10))    # contained in both
    df = spark.createDataFrame(
        [
            (1, full, "b"), (2, mid, "b"), (3, tiny, "b"),
            (4, "unrelated other words entirely", "b"),
            (5, full, "b"),  # identical to 1: tie on size -> larger id drops
        ],
        "id long, text string, blk string",
    )
    got = {
        r["id"]
        for r in DD.drop_contained_docs(df, "id", "text", "blk", 0.9).collect()
    }
    # chain: tiny and mid both victims (non-iterative), 5 loses the tie
    assert got == {1, 4}


def test_drop_contained_docs_blockwise_and_tokenless(spark):
    df = spark.createDataFrame(
        [
            (1, "a b c d e", "x"), (2, "a b", "y"),  # different blocks: no pair
            (3, "", "x"), (4, None, "x"),            # token-less never victims
        ],
        "id long, text string, blk string",
    )
    got = {
        r["id"] for r in DD.drop_contained_docs(df, "id", "text", "blk").collect()
    }
    assert got == {1, 2, 3, 4}


def test_nfc_normalize_transform(spark):
    """Round-4 NFC normalization: the Arrow stage composes combining
    sequences, is null-safe, and is wired as a recipe transform."""
    from datacurator_jl_spark.functions.transforms import nfc_normalize

    rows = [(1, "café"), (2, "Å"), (3, None), (4, "plain")]
    df = spark.createDataFrame(rows, "id int, text string")
    got = {
        r.id: r.n
        for r in df.select("id", nfc_normalize(F.col("text")).alias("n")).collect()
    }
    assert got[1] == "caf\xe9" and len(got[1]) == 4
    assert got[2] == "\xc5" and len(got[2]) == 1
    assert got[3] is None and got[4] == "plain"
    # recipe-level: transform action applies it to the text column
    spec = parse_recipe(
        {
            "global": {"act_on_success": True, "name_col": "id", "text_col": "text"},
            "any": {
                "conditions": ["always"],
                "actions": [["all_actions", ["nfc_normalize"], "keep"]],
            },
        }
    )
    # transformed text lands in scrubbed_text; the input column is kept
    out = {r.id: r.scrubbed_text for r in Pipeline(spec).apply(df).df.collect()}
    assert out[1] == "caf\xe9" and out[2] == "\xc5"
    assert len(out[1]) == 4 and len(out[2]) == 1


def test_max_dup_ngram_fraction_prepass(spark):
    """Round-4 [global] max_dup_ngram_fraction: docs whose duplicated
    n-gram share exceeds the cap drop BEFORE the rule chain; validation
    is eager and the pre-pass is batch-only."""
    rows = [
        ("u1", "alpha beta gamma delta"),      # shares all grams with u2
        ("u2", "alpha beta gamma delta"),
        ("u3", "wholly unique words entirely"),
    ]
    df = spark.createDataFrame(rows, "url string, text string")
    spec = parse_recipe(
        {
            "global": {"act_on_success": True,
                       "max_dup_ngram_fraction": 0.5, "dup_ngram_n": 2},
            "any": {"conditions": ["always"], "actions": ["keep"]},
        }
    )
    kept = {r.url for r in Pipeline(spec).apply(df).df.collect()}
    assert kept == {"u3"}  # u1/u2: every gram duplicated -> fraction 1.0
    # composition with dedup: whole-doc dups removed first, so the
    # survivor u1 no longer has a cross-doc duplicate -> everything stays
    spec2 = parse_recipe(
        {
            "global": {"act_on_success": True, "dedup": "exact",
                       "max_dup_ngram_fraction": 0.5, "dup_ngram_n": 2},
            "any": {"conditions": ["always"], "actions": ["keep"]},
        }
    )
    kept2 = {r.url for r in Pipeline(spec2).apply(df).df.collect()}
    assert kept2 == {"u1", "u3"}
    # eager validation
    for bad in (1.5, -0.1, "x", True):
        with pytest.raises(Exception, match="max_dup_ngram_fraction"):
            parse_recipe(
                {"global": {"max_dup_ngram_fraction": bad},
                 "any": {"conditions": ["always"], "actions": ["keep"]}}
            )
    with pytest.raises(Exception, match="dup_ngram_n"):
        parse_recipe(
            {"global": {"max_dup_ngram_fraction": 0.5, "dup_ngram_n": 0},
             "any": {"conditions": ["always"], "actions": ["keep"]}}
        )
    # batch-only
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        df.write.mode("overwrite").parquet(td + "/docs")
        from datacurator_jl_spark.recipe import RecipeError

        with pytest.raises(RecipeError, match="batch-only"):
            Pipeline(spec).apply(
                spark.readStream.schema("url string, text string").parquet(
                    td + "/docs"
                )
            )


def test_remove_duplicated_spans_prepass(spark):
    """Round-4 [global] remove_duplicated_spans = N: duplicated windows
    stripped before the rule chain; validation eager; batch-only."""
    rows = [
        ("u1", "INTRO alpha beta gamma delta TAIL"),
        ("u2", "other alpha beta gamma delta words"),
        ("u3", "wholly unrelated content here"),
    ]
    df = spark.createDataFrame(rows, "url string, text string")
    spec = parse_recipe(
        {
            "global": {"act_on_success": True, "remove_duplicated_spans": 4},
            "any": {"conditions": ["always"], "actions": ["keep"]},
        }
    )
    out = {r.url: r.scrubbed_text for r in Pipeline(spec).apply(df).df.collect()}
    assert out["u1"] == "INTRO TAIL"
    assert out["u2"] == "other words"
    assert out["u3"] == "wholly unrelated content here"
    for bad in (1, 0, True, "x"):
        with pytest.raises(Exception, match="remove_duplicated_spans"):
            parse_recipe(
                {"global": {"remove_duplicated_spans": bad},
                 "any": {"conditions": ["always"], "actions": ["keep"]}}
            )
