"""Round-5 coverage: the DC_TOKENIZER seam (native default byte-identical,
JSON vocab fixture swapping counts end-to-end through the token-budget
machinery), the simhash-prefix containment block key (mega-domain split),
and the block-shape-aware prefilter (covered in test_round3_features)."""

from __future__ import annotations

import json

import pandas as pd
import pyspark.sql.functions as F
import pytest

from datacurator_jl_spark.functions import text as X
from datacurator_jl_spark.functions.tokenizer import (
    JsonVocabTokenizer,
    token_count_column,
)
from datacurator_jl_spark.operators import dedup as DD

# --- DC_TOKENIZER seam (VERDICT r4 next #4) ---------------------------------

_TOK_TEXTS = [
    "helloworld aaaa",
    "hello hello",
    "plain words here",
    "",
    "   ",
    None,
    "xyz",
]


@pytest.fixture(scope="module")
def vocab_path(tmp_path_factory):
    p = tmp_path_factory.mktemp("tok") / "vocab.json"
    p.write_text(json.dumps({"vocab": ["hello", "wor", "ld", "aa", "words"]}))
    return str(p)


def test_tokenizer_default_is_native_byte_identical(spark):
    """No tokenizer configured -> token_count_column IS the native regex
    estimate (same Column expression), pinned value-identical here."""
    df = spark.createDataFrame(
        pd.DataFrame({"i": range(len(_TOK_TEXTS)), "text": _TOK_TEXTS}),
        "i int, text string",
    )
    rows = df.select(
        "i",
        token_count_column(F.col("text")).alias("seam"),
        X.token_count(F.col("text")).alias("native"),
    ).collect()
    for r in rows:
        assert r.seam == r.native, (r.i, r.seam, r.native)


def test_json_vocab_tokenizer_greedy_semantics(vocab_path):
    tok = JsonVocabTokenizer(vocab_path)
    got = tok.count_batch(pd.Series(_TOK_TEXTS))
    # helloworld = hello|wor|ld (3), aaaa = aa|aa (2) -> 5
    # hello hello -> 1 + 1; plain(5 chars OOV)=5, words=1, here=4 -> 10
    # blanks/None -> 0 tokens (None stays null); xyz -> 3 single chars
    exp = [5, 2, 10, 0, 0, None, 3]
    assert [None if pd.isna(v) else int(v) for v in got] == exp


def test_tokenizer_fixture_swaps_counts_end_to_end(spark, vocab_path, monkeypatch):
    """The seam swaps counts THROUGH d25's machinery: the same
    token_budget_sample call selects a different prefix when DC_TOKENIZER
    points at the fixture, and the fixture counts match the Python
    reference exactly."""
    from datacurator_jl_spark.operators.sampling import token_budget_sample

    rows = [
        # (doc_id, text, score) — score orders the greedy prefix
        ("a", "helloworld helloworld", 9.0),  # native=2  bpe=6
        ("b", "hello hello hello", 8.0),      # native=3  bpe=3
        ("c", "aaaa aaaa", 7.0),              # native=2  bpe=4
        ("d", "xyz", 6.0),                    # native=1  bpe=3
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string, score double")

    def budget_ids(tokenizer_env: str | None) -> list[str]:
        if tokenizer_env is None:
            monkeypatch.delenv("DC_TOKENIZER", raising=False)
        else:
            monkeypatch.setenv("DC_TOKENIZER", tokenizer_env)
        d = df.withColumn("toks", token_count_column(F.col("text")).cast("int"))
        out = token_budget_sample(d, "toks", 10, order_by="score", id_col="doc_id")
        return sorted(r.doc_id for r in out.select("doc_id").collect())

    # native counts (letter RUNS): a(2)+b(3)+c(2)+d(1) cum 2,5,7,8 -> all 4
    assert budget_ids(None) == ["a", "b", "c", "d"]
    # fixture BPE counts: a(6)+b(3) cum 6,9; c would hit 13 > 10 -> a,b only
    assert budget_ids(vocab_path) == ["a", "b"]


def test_tokenizer_seam_reaches_recipe_counters(spark, vocab_path, monkeypatch):
    """registry METRICS['token_count'] charges fixture tokens when the
    seam is configured (budget counters in real BPE tokens)."""
    from datacurator_jl_spark.registry import METRICS, RuleContext

    df = spark.createDataFrame(
        [("u1", "helloworld")], "url string, text string"
    )
    ctx = RuleContext()  # default text_col="text"
    monkeypatch.setenv("DC_TOKENIZER", vocab_path)
    (bpe,) = df.select(METRICS["token_count"](ctx).alias("c")).collect()[0]
    monkeypatch.delenv("DC_TOKENIZER")
    (native,) = df.select(METRICS["token_count"](ctx).alias("c")).collect()[0]
    assert bpe == 3  # hello|wor|ld
    assert native == 1  # one letter run


# --- simhash-prefix containment block key (VERDICT r4 next #5) ---------------


def _mega_domain_corpus(spark, n: int = 48):
    """One domain, diverse content: the containment block-key worst case
    under domain keying (a single degenerate block)."""
    rows = []
    for i in range(n):
        words = " ".join(f"w{i}x{j}" for j in range(12))
        rows.append((f"m{i:03d}", words, "megadomain"))
    # one genuine excerpt pair: the excerpt keeps 19/20 of the full doc's
    # words, so the dominant word mass (and the simhash prefix) coincide
    full = " ".join(f"shared{j}" for j in range(20))
    excerpt = " ".join(f"shared{j}" for j in range(19))
    rows += [("full0", full, "megadomain"), ("part0", excerpt, "megadomain")]
    return spark.createDataFrame(rows, "doc_id string, text string, source string")


def test_simhash_prefix_block_splits_mega_domain(spark):
    df = _mega_domain_corpus(spark)
    blocked = DD.simhash_prefix_block(df, "text", prefix_bits=6)
    sizes = (
        blocked.groupBy("blk_simhash").count().toPandas()["count"].tolist()
    )
    n = df.count()
    # the degenerate single-domain block splits across many content blocks
    assert len(sizes) > 4
    assert max(sizes) < n // 2
    # schema contract: bigint key, no leftover simhash column
    assert dict(blocked.dtypes)["blk_simhash"] == "bigint"
    assert "_dc_sh" not in blocked.columns


def test_simhash_prefix_block_preserves_excerpt_pair(spark):
    """End-to-end: containment over simhash-prefix blocks finds the
    excerpt pair a domain-blocked run would bury in the mega-block (and
    the exact pair blocked-by-domain finds too — same containment)."""
    df = _mega_domain_corpus(spark)
    blocked = DD.simhash_prefix_block(df, "text", prefix_bits=6)
    pairs = {
        (r.id_a, r.id_b)
        for r in DD.ngram_containment_pairs(
            blocked, "doc_id", "text", "blk_simhash", threshold=0.8
        ).collect()
    }
    assert ("full0", "part0") in pairs


def test_validate_unique_ids_memoizes_per_frame(spark, monkeypatch):
    """ADVICE r4: chained operator calls over the SAME frame probe once;
    a derived frame (uniqueness could change) probes again; a failing
    frame is never memoized."""
    from datacurator_jl_spark.operators import dataframe_ops as DO

    ok = spark.createDataFrame([("a", 1), ("b", 2)], "id string, v int")
    cls = type(ok)  # the concrete (classic) DataFrame class
    calls = {"n": 0}
    orig = cls.groupBy

    def counting_groupby(self, *a, **k):
        calls["n"] += 1
        return orig(self, *a, **k)

    monkeypatch.setattr(cls, "groupBy", counting_groupby)
    DO.validate_unique_ids(ok, "id", "op1")
    DO.validate_unique_ids(ok, "id", "op2")  # memo hit: no second probe
    assert calls["n"] == 1
    derived = ok.filter(F.col("v") > 0)
    DO.validate_unique_ids(derived, "id", "op3")  # new object: probes
    assert calls["n"] == 2

    dup = spark.createDataFrame([("a", 1), ("a", 2)], "id string, v int")
    with pytest.raises(ValueError, match="not unique"):
        DO.validate_unique_ids(dup, "id", "op4")
    with pytest.raises(ValueError, match="not unique"):
        DO.validate_unique_ids(dup, "id", "op5")  # failure never memoized


def test_latest_version_semantics(spark):
    """Argmax-per-key dedup: NULL ts never wins unless the whole group is
    NULL-ts; equal timestamps settle on the tiebreak; payload columns
    ride the winner struct untouched."""
    import datetime as dt

    from datacurator_jl_spark.operators.dataframe_ops import latest_version

    t1 = dt.datetime(2024, 1, 1)
    t2 = dt.datetime(2024, 6, 1)
    rows = [
        # key A: later ts wins regardless of tiebreak order
        ("A", t1, 9, "old"),
        ("A", t2, 1, "new"),
        # key B: NULL ts never beats a real one
        ("B", None, 99, "null-ts"),
        ("B", t1, 2, "real-ts"),
        # key C: all NULL ts -> tiebreak decides
        ("C", None, 3, "c3"),
        ("C", None, 7, "c7"),
        # key D: equal ts -> larger tiebreak wins
        ("D", t1, 4, "d4"),
        ("D", t1, 8, "d8"),
    ]
    df = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, crawl_id int, payload string"
    )
    got = {
        r.url: (r.warc_ts, r.crawl_id, r.payload)
        for r in latest_version(df, ["url"], "warc_ts", "crawl_id").collect()
    }
    assert got == {
        "A": (t2, 1, "new"),
        "B": (t1, 2, "real-ts"),
        "C": (None, 7, "c7"),
        "D": (t1, 8, "d8"),
    }


def test_keep_latest_recipe_prepass(spark):
    """`[global] keep_latest = [ts, tiebreak]` collapses crawl versions
    to the newest BEFORE the rules (stale versions never reach them);
    column order is preserved; bad shapes fail eagerly."""
    import datetime as dt

    from datacurator_jl_spark.engine import Pipeline
    from datacurator_jl_spark.recipe import RecipeError, parse_recipe

    spec = parse_recipe(
        {
            "global": {
                "act_on_success": True,
                "keep_latest": ["warc_ts", "crawl_id"],
            },
            "any": {"conditions": ["has_text"], "actions": ["keep"]},
        }
    )
    t1, t2 = dt.datetime(2024, 1, 1), dt.datetime(2024, 6, 1)
    df = spark.createDataFrame(
        [
            ("u1", t1, 1, "stale version"),
            ("u1", t2, 2, "fresh version"),
            ("u2", t1, 3, "only version"),
        ],
        "url string, warc_ts timestamp, crawl_id int, text string",
    )
    out = Pipeline(spec).apply(df).df
    assert out.columns[:4] == ["url", "warc_ts", "crawl_id", "text"]
    got = {r.url: r.text for r in out.select("url", "text").collect()}
    assert got == {"u1": "fresh version", "u2": "only version"}

    with pytest.raises(RecipeError, match="keep_latest"):
        parse_recipe(
            {
                "global": {"act_on_success": True, "keep_latest": ["only_ts"]},
                "any": {"conditions": ["always"], "actions": ["keep"]},
            }
        )
    # fail-before-data on a typo'd column
    bad = parse_recipe(
        {
            "global": {"act_on_success": True, "keep_latest": ["nope", "crawl_id"]},
            "any": {"conditions": ["always"], "actions": ["keep"]},
        }
    )
    with pytest.raises(RecipeError, match="keep_latest"):
        Pipeline(bad).apply(df)


def test_simhash_prefix_block_validates_bits(spark, docs_df):
    with pytest.raises(ValueError, match="prefix_bits"):
        DD.simhash_prefix_block(docs_df, "text", prefix_bits=0)
    with pytest.raises(ValueError, match="prefix_bits"):
        DD.simhash_prefix_block(docs_df, "text", prefix_bits=17, bits=16)


@pytest.mark.parametrize("bits", [0, 61, 64, 70])
def test_simhash_rejects_bits_past_the_word_hash(spark, docs_df, bits):
    """The word hash has 60 bits: a wider simhash would repeat the
    bits=60 value and leave its top blocks empty."""
    with pytest.raises(ValueError, match="bits must be in 1..60"):
        DD.simhash(docs_df, "text", bits=bits)
    if bits > 6:
        with pytest.raises(ValueError, match="bits must be in 1..60"):
            DD.simhash_prefix_block(docs_df, "text", bits=bits)
