"""Round-6 features: exact-dedup argmax semantics, block-shape-selector
edge cases (ADVICE r5), max_by latest_version with non-orderable payload,
and the two-phase salted group caps."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


# -- drop_exact_dupes (min_by argmax) semantics ------------------------------


def test_drop_exact_dupes_null_text_and_null_id(spark):
    """md5(NULL) is NULL, so null-text rows form ONE dup group; a NULL id
    loses to any real id (DuckDB NULLS LAST, pinned in the docstring).
    validate_ids=False here because the degenerate NULL id under test is
    exactly what the default probe rejects."""
    from datacurator_jl_spark.operators.dedup import drop_exact_dupes

    df = spark.createDataFrame(
        [
            (None, "same", "winner-by-null-id-losing"),
            ("a", "same", "x"),
            ("b", "other", "y"),
            ("c", None, "null-text-1"),
            ("d", None, "null-text-2"),
        ],
        "doc_id string, text string, meta string",
    )
    kept = {
        r.doc_id
        for r in drop_exact_dupes(
            df, "doc_id", "text", validate_ids=False
        ).collect()
    }
    # "same" group: 'a' beats NULL id; null-text group: 'c' beats 'd'
    assert kept == {"a", "b", "c"}


def test_drop_exact_dupes_rejects_bad_ids(spark):
    """The semi-join keys on the id alone, so the uniqueness contract is
    load-bearing — the default probe must fail fast on duplicate ids."""
    from datacurator_jl_spark.operators.dedup import drop_exact_dupes

    df = spark.createDataFrame(
        [("a", "t1"), ("a", "t2")], "doc_id string, text string"
    )
    with pytest.raises(ValueError, match="not unique"):
        drop_exact_dupes(df, "doc_id", "text")


def test_drop_exact_dupes_map_payload_passes_through(spark):
    """min_by orders only by the id key, so a non-orderable (map) payload
    column must ride through untouched — max(struct(...)) would fail at
    analysis here."""
    from datacurator_jl_spark.operators.dedup import drop_exact_dupes

    df = spark.createDataFrame(
        [("a", "t", {"k": "v1"}), ("b", "t", {"k": "v2"})],
        "doc_id string, text string, meta map<string,string>",
    )
    rows = drop_exact_dupes(df, "doc_id", "text").collect()
    assert len(rows) == 1
    assert rows[0].doc_id == "a" and rows[0].meta == {"k": "v1"}


# -- _select_prefilter edge cases (ADVICE r5) --------------------------------


def test_select_prefilter_zero_max_block_disables_cap():
    """max_block=0 means 'cap disabled' (truthiness contract shared with
    every other cap site), not 'any non-empty block is over cap'."""
    from datacurator_jl_spark.operators.dedup import _select_prefilter

    assert _select_prefilter(100, max_block_count=50, max_block=0) == "none"
    assert _select_prefilter(100, max_block_count=50, max_block=None) == "none"
    assert _select_prefilter(100, max_block_count=50, max_block=49) == "lsh"


def test_auto_histogram_excludes_null_blocks(spark, monkeypatch):
    """NULL block keys never pair in either path, so a hot NULL block
    must not drive the block-shape statistic that routes to LSH."""
    from datacurator_jl_spark.operators import dedup as DD

    seen = {}
    orig = DD._select_prefilter

    def spy(n_docs, threshold=DD.AUTO_LSH_THRESHOLD, max_block_count=0,
            max_block=None):
        seen.update(n=n_docs, mx=max_block_count, cap=max_block)
        return orig(n_docs, threshold, max_block_count, max_block)

    monkeypatch.setattr(DD, "_select_prefilter", spy)
    # 8 null-block rows (over the cap of 5) + a real 2-row block under it
    rows = [(f"n{i}", None, f"word{i} a b") for i in range(8)] + [
        ("r1", "blk", "shared words one two three"),
        ("r2", "blk", "shared words one two three"),
    ]
    out = DD.ngram_jaccard_pairs(
        spark.createDataFrame(rows, "doc_id string, src string, text string"),
        "doc_id", "text", "src", 0.5, max_block=5, prefilter="auto",
    ).collect()
    assert seen["mx"] == 2, seen  # NULL block's 8 rows excluded
    assert seen["n"] == 10  # total docs stays unfiltered
    # exact path ran: the real block's genuine pair is present
    assert {(r.id_a, r.id_b) for r in out} == {("r1", "r2")}


# -- latest_version via max_by (ADVICE r5) -----------------------------------


def test_latest_version_map_payload(spark):
    """A map-typed metadata column must not break the argmax (the
    engine's [global] keep_latest defaults payload_cols to every
    remaining column, so analysis failure would ban maps corpus-wide)."""
    from datacurator_jl_spark.operators.dataframe_ops import latest_version

    df = spark.createDataFrame(
        [
            ("u", "2024-01-01", 1, {"v": "old"}),
            ("u", "2024-06-01", 2, {"v": "new"}),
            ("w", None, 3, {"v": "only"}),
        ],
        "url string, warc_ts string, crawl_id int, meta map<string,string>",
    )
    rows = {r.url: r for r in latest_version(df, ["url"], "warc_ts", "crawl_id").collect()}
    assert rows["u"].meta == {"v": "new"} and rows["u"].crawl_id == 2
    assert rows["w"].meta == {"v": "only"}  # all-NULL-ts group still wins


# -- two-phase salted group caps (VERDICT r5 Next #4) ------------------------


@pytest.fixture(scope="module")
def skew_groups(spark):
    # one hot group (120 rows), several small ones, plus a NULL group
    return spark.createDataFrame(
        [(f"k{i}", "hot" if i < 120 else f"g{i % 7}") for i in range(160)]
        + [(f"z{i}", None) for i in range(9)],
        "key string, grp string",
    ).cache()


def _key_sets(df):
    return {r.key for r in df.select("key").collect()}


def test_stratified_sample_output_independent_of_salt_parts(skew_groups):
    from datacurator_jl_spark.operators.sampling import stratified_hash_sample

    base = _key_sets(stratified_hash_sample(skew_groups, "grp", "key", 0.25,
                                            salt_parts=1))
    for parts in (4, 16):
        assert _key_sets(stratified_hash_sample(
            skew_groups, "grp", "key", 0.25, salt_parts=parts)) == base


def test_group_cap_output_independent_of_salt_parts(skew_groups):
    from datacurator_jl_spark.operators.sampling import group_cap_sample

    for kw in ({"cap": 10}, {"alpha": 0.5}):
        base = _key_sets(group_cap_sample(skew_groups, "grp", "key",
                                          salt_parts=1, **kw))
        for parts in (4, 16):
            got = _key_sets(group_cap_sample(skew_groups, "grp", "key",
                                             salt_parts=parts, **kw))
            assert got == base, kw


def test_domain_quota_batch_output_independent_of_salt_parts(skew_groups):
    from datacurator_jl_spark.streaming.stream import domain_quota_batch

    base = _key_sets(domain_quota_batch(skew_groups, 10, "grp", "key",
                                        salt_parts=1))
    for parts in (4, 16):
        assert _key_sets(domain_quota_batch(
            skew_groups, 10, "grp", "key", salt_parts=parts)) == base


def test_drop_over_cap_matches_window_semantics(spark):
    """The shared groupBy+semi-join cap guard keeps exactly the rows a
    count-over-window filter kept (non-null keys; NULL-key rows drop —
    they can never pair downstream, documented)."""
    from pyspark.sql import Window

    from datacurator_jl_spark.operators.dedup import _drop_over_cap

    rows = [
        (f"r{i}", "hot" if i >= 100 else (f"b{i % 7}" if i % 11 else None))
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "id string, blk string").cache()
    got = {r.id for r in _drop_over_cap(df, ["blk"], 25).collect()}
    w = Window.partitionBy("blk")
    ref = {
        r.id
        for r in df.withColumn("_n", F.count("*").over(w))
        .filter(F.col("_n") <= 25)
        .collect()
        if r.blk is not None
    }
    assert got == ref and got  # non-empty: some blocks are under the cap


def test_vocab_fixture_deterministic_and_checked_in():
    """The 1k-piece BPE-style fixture regenerates byte-identical and the
    checked-in file matches the builder (the tokenizer bench and any
    DC_TOKENIZER e2e run depend on it)."""
    import json
    import os

    from datacurator_jl_spark.testing.vocab import VOCAB_SIZE, build_vocab

    v = build_vocab()
    assert v == build_vocab() and len(v) == VOCAB_SIZE
    assert "the" in v and "ing" in v and "a" in v  # word/affix/char tiers
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "datacurator_jl_spark", "testing", "fixtures", "bpe_vocab_1k.json",
    )
    with open(path) as fh:
        assert json.load(fh)["vocab"] == v


def test_fixture_tokenizer_segments_realistically():
    """Corpus-core words count as single pieces; OOV words decompose
    into multiple subword pieces (greedy longest match)."""
    import os

    import pandas as pd

    from datacurator_jl_spark.functions.tokenizer import JsonVocabTokenizer

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "datacurator_jl_spark", "testing", "fixtures", "bpe_vocab_1k.json",
    )
    t = JsonVocabTokenizer(path)
    got = t.count_batch(
        pd.Series(["the quick brown fox jumps over a lazy dog", "xylophonist"])
    ).tolist()
    assert got[0] == 9  # every word is a whole vocab piece
    assert got[1] > 1  # OOV word splits into several pieces


def test_cosine_topk_broadcast_guard(spark):
    """cosine_topk broadcasts its query side; past max_broadcast_rows it
    must fail fast with a pointer to ivf_topk, not OOM the driver
    mid-broadcast (VERDICT r5 Next #7)."""
    from datacurator_jl_spark.operators.similarity import cosine_topk

    vecs = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(8)],
        "vec_id int, embedding array<float>",
    )
    with pytest.raises(ValueError, match="ivf_topk"):
        cosine_topk(vecs, vecs, k=2, max_broadcast_rows=5)
    # under the cap (and with the probe disabled) it still works
    assert cosine_topk(vecs, vecs.limit(3), k=2).count() > 0
    assert cosine_topk(vecs, vecs.limit(2), k=1,
                       max_broadcast_rows=None).count() > 0


def test_two_phase_cap_plan_has_salted_pre_window(spark, skew_groups):
    """salt_parts>1 adds the (group, slice) pre-cap window; salt_parts=1
    reproduces the single-window plan."""
    from datacurator_jl_spark.operators.sampling import group_cap_sample

    one = group_cap_sample(skew_groups, "grp", "key", cap=5, salt_parts=1)
    two = group_cap_sample(skew_groups, "grp", "key", cap=5, salt_parts=16)
    # count exec nodes precisely: Spark 4 also inserts WindowGroupLimit
    # nodes (its own map-side pre-limit for CONSTANT rank predicates),
    # which contain the substring "Window"
    p1 = one._jdf.queryExecution().executedPlan().toString()
    p2 = two._jdf.queryExecution().executedPlan().toString()
    assert p1.count("Window [") == 1, p1
    assert p2.count("Window [") == 2, p2
    assert "pmod" in p2


def test_incremental_base_prune_output_identical(spark):
    """The round-6 base-side semi-join prune must be output-identical to
    the old full-union shape, including ``max_bucket`` drop decisions on
    buckets the base side dominates. Corpus: a base-only cluster whose
    band keys never appear in the batch (prune fodder), a base/new
    near-dup, a new-new dup pair, a token-less new doc, and a hot bucket
    (3 base copies + 1 new copy of one text) that max_bucket=3 must drop
    in BOTH shapes (count 4 > 3), rescuing the new copy."""
    from datacurator_jl_spark.operators import dedup as DD
    from datacurator_jl_spark.operators.dedup import (
        _band_buckets,
        _materialize,
        _propagate_min_labels,
    )

    base = spark.createDataFrame(
        [
            (1, "base only cluster text that the batch never mentions"),
            (2, "another purely base resident document kept around"),
            (3, "shared near duplicate text spanning base and batch"),
            (4, "hot bucket text repeated verbatim many times over"),
            (5, "hot bucket text repeated verbatim many times over"),
            (6, "hot bucket text repeated verbatim many times over"),
        ],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (11, "shared near duplicate text spanning base and batch"),
            (12, "fresh content with no counterpart anywhere at all"),
            (13, "batch internal duplicate appearing exactly twice here"),
            (14, "batch internal duplicate appearing exactly twice here"),
            (15, "hot bucket text repeated verbatim many times over"),
            (16, "   "),
        ],
        "doc_id long, text string",
    )
    sigs = DD.signature_table(base, "doc_id", "text")
    for max_bucket in (3, 1000, None):
        got = {
            r["doc_id"]
            for r in DD.incremental_near_dup_survivors(
                new, sigs, "doc_id", "text", max_bucket=max_bucket
            ).collect()
        }

        # old full-union shape, inlined (pre-prune reference semantics)
        k, bands = 8, 4
        new_sigs = DD.signature_table(new, "doc_id", "text", k)
        tagged = sigs.select(
            "doc", *[f"mh{i}" for i in range(k)], F.lit(True).alias("is_base")
        ).unionByName(
            new_sigs.select(
                "doc", *[f"mh{i}" for i in range(k)], F.lit(False).alias("is_base")
            )
        )
        buckets = _materialize(
            _band_buckets(tagged, k, bands, max_bucket=max_bucket), "local"
        )
        a, b = buckets.alias("a"), buckets.alias("b")
        pairs = (
            a.join(b, ["band", "key"])
            .filter(
                (F.col("a.doc") < F.col("b.doc"))
                & ~(F.col("a.is_base") & F.col("b.is_base"))
            )
            .select(F.col("a.doc").alias("id_a"), F.col("b.doc").alias("id_b"))
            .distinct()
        )
        edges = _materialize(
            pairs.select(
                F.col("id_a").alias("src"), F.col("id_b").alias("dst")
            ).unionAll(
                pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
            ),
            "local",
        )
        labels = _materialize(
            sigs.select(
                "doc",
                F.struct(F.lit(0).alias("rank"), F.col("doc").alias("id")).alias(
                    "comp"
                ),
            ).unionByName(
                new.select(F.col("doc_id").alias("doc"))
                .distinct()
                .select(
                    "doc",
                    F.struct(F.lit(1).alias("rank"), F.col("doc").alias("id")).alias(
                        "comp"
                    ),
                )
            ),
            "local",
        )
        labels = _propagate_min_labels(edges, labels, 25, "local")
        want = {
            r["doc"]
            for r in labels.filter(
                (F.col("comp.rank") == 1) & (F.col("comp.id") == F.col("doc"))
            ).collect()
        }
        assert got == want, (max_bucket, got, want)
    # sanity on the capped case: the hot bucket is dropped in both
    # shapes, so the new copy 15 survives; 11 dies to base 3; 13 beats 14
    assert got == want  # last iteration (max_bucket=None)


# -- encoding-noise / mojibake signals (functions/text.py, d50) --------------


def _noise_corpus():
    # built via chr() so no raw control/C1 bytes live in the source file
    moji2 = "caf" + chr(0xC3) + chr(0xA9) + " naive"          # "cafÃ©"
    moji3 = chr(0xE2) + chr(0x20AC) + chr(0x2122) + "clock"   # "â€™"-shape
    real_latin1 = "’é“".encode("utf-8").decode("latin-1")     # 3 sequences
    ctl = "bell" + chr(7) + " esc" + chr(27) + " c1" + chr(0x85) + chr(0x9D)
    nul = "n" + chr(0) + "ul and del" + chr(0x7F)
    legit = "caf" + chr(0xE9) + chr(0x201D) + " fine"         # é” = no match
    return [
        "plain english text.",
        moji2,
        moji3,
        real_latin1,
        "lost" + chr(0xFFFD) + "bytes" + chr(0xFFFD) * 2,
        ctl,
        nul,
        "tab\tok\nnl\rcr",          # legitimate whitespace controls
        legit,
        "",
        None,
        "日本語テキスト",
    ]


def test_encoding_noise_matches_python_oracle(spark):
    """Spark exprs vs the per-row Python oracle on an adversarial corpus:
    mojibake (2- and 3-byte shapes, real latin-1/cp1252 round-trips),
    control chars incl. NUL/DEL/C1, replacement chars, clean unicode,
    the 'café”' near-miss, empty, and NULL."""
    import re

    from datacurator_jl_spark.functions import text as T
    from datacurator_jl_spark.testing.oracle import _encoding_noise_ratio

    texts = _noise_corpus()
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "i int, t string")
    got = {
        r["i"]: (r["repl"], r["ctrl"], r["moji"], r["ratio"])
        for r in df.select(
            "i",
            T.replacement_char_count(F.col("t")).alias("repl"),
            T.control_char_count(F.col("t")).alias("ctrl"),
            T.mojibake_count(F.col("t")).alias("moji"),
            F.round(T.encoding_noise_ratio(F.col("t")), 6).alias("ratio"),
        ).collect()
    }
    ctrl_set = set(T.CONTROL_CHARS)
    for i, t in enumerate(texts):
        if t is None:
            assert got[i] == (None, None, None, 0.0), (i, got[i])
            continue
        exp = (
            t.count(chr(0xFFFD)),
            sum(1 for ch in t if ch in ctrl_set),
            len(re.findall(T.MOJIBAKE_PATTERN, t)),
            round(_encoding_noise_ratio(t), 6),
        )
        assert got[i] == exp, (i, repr(t), got[i], exp)
    # spot-pin the interesting rows so the oracle itself can't drift
    assert got[1][2] == 1 and got[2][2] == 1 and got[3][2] == 3
    assert got[4][0] == 3 and got[5][1] == 4 and got[6][1] == 2
    assert got[7] == (0, 0, 0, 0.0) and got[8][2] == 0 and got[11][2] == 0


def test_mojibake_sql_pattern_twin(tmp_path):
    """MOJIBAKE_PATTERN (literal chars, Java/Python) and
    MOJIBAKE_PATTERN_SQL (RE2 \\x{..} ranges for DuckDB) must match the
    same sequences — fuzz both against the same corpus."""
    import re

    import duckdb

    from datacurator_jl_spark.functions import text as T

    texts = [t for t in _noise_corpus() if t is not None]
    con = duckdb.connect()
    pat = T.MOJIBAKE_PATTERN_SQL.replace("'", "''")
    for t in texts:
        lit = t.replace("'", "''").replace(chr(0), "")  # SQL can't carry NUL
        n_sql = con.sql(
            f"select len(regexp_extract_all('{lit}', '{pat}'))"
        ).fetchone()[0]
        n_py = len(re.findall(T.MOJIBAKE_PATTERN, t.replace(chr(0), "")))
        assert n_sql == n_py, repr(t)


def test_encoding_noise_below_condition_end_to_end(spark):
    """Engine decision labels for encoding_noise_below match the per-row
    Python oracle (the three-twin contract for the new condition)."""
    import pandas as pd

    from datacurator_jl_spark.engine import Pipeline
    from datacurator_jl_spark.recipe import parse_recipe
    from datacurator_jl_spark.testing.oracle import oracle_labels

    spec = parse_recipe(
        {
            "global": {"act_on_success": True},
            "any": {
                "conditions": [["not", ["encoding_noise_below", 0.05]]],
                "actions": ["drop"],
            },
        }
    )
    texts = _noise_corpus()
    pdf = pd.DataFrame(
        {"url": [f"u{i:02d}" for i in range(len(texts))], "text": texts}
    )
    df = spark.createDataFrame(pdf.astype({"text": "object"}),
                               "url string, text string")
    got = (
        Pipeline(spec).apply(df).df.select("url", "dc_kept", "dc_rule_id")
        .toPandas().sort_values("url").reset_index(drop=True)
    )
    exp = oracle_labels(pdf, spec).sort_values("url").reset_index(drop=True)
    assert list(got["dc_kept"]) == list(exp["keep"])
    assert list(got["dc_rule_id"]) == list(exp["rule_id"])
    # the clean docs survive, the noisy ones die
    kept = set(got[got["dc_kept"]]["url"])
    assert "u00" in kept and "u07" in kept and "u11" in kept
    assert "u01" not in kept and "u04" not in kept and "u05" not in kept


# -- winnowing fingerprints (operators/winnow.py, d51/d52) -------------------


def test_winnow_matches_python_mirror(spark):
    """Arrow fingerprint arrays vs the per-row _winnow_one mirror on the
    edge matrix: null text, < k tokens, exactly k tokens (one gram),
    m == w (single window), m > w, repeated grams (tie invariance)."""
    from datacurator_jl_spark.functions.tokens import TOKEN_RE
    from datacurator_jl_spark.operators.winnow import (
        _winnow_one, winnow_fingerprints_arrow,
    )

    texts = [
        None,
        "",
        "a b",                       # < k tokens -> no fingerprints
        "a b c",                     # exactly one gram
        "a b c d e f",               # m=4=w: single global min
        "one two three four five six seven eight nine ten",
        "spam spam spam spam spam spam spam spam",  # all grams identical
        "A B c D e F g H i J k L m N",              # lowercasing pin
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "i int, t string"
    )
    got = {
        r["i"]: sorted(r["fps"])
        for r in df.select(
            "i", winnow_fingerprints_arrow(F.col("t"), k=3, w=4).alias("fps")
        ).collect()
    }
    for i, t in enumerate(texts):
        toks = TOKEN_RE.findall(t.lower()) if t is not None else []
        assert got[i] == _winnow_one(toks, 3, 4), (i, t)
    assert got[0] == [] and got[2] == [] and len(got[3]) == 1
    assert len(got[4]) == 1 and len(got[6]) == 1  # tie-invariant value set


def test_winnow_shared_run_guarantee(spark):
    """The winnowing guarantee: two docs sharing a token run of length
    >= w + k - 1 (here 6) share at least one fingerprint, and
    winnow_candidate_pairs surfaces exactly that pair."""
    from datacurator_jl_spark.operators.winnow import winnow_candidate_pairs

    shared_run = "alpha beta gamma delta epsilon zeta eta theta"
    df = spark.createDataFrame(
        [
            ("a", "intro words here " + shared_run + " closing remark"),
            ("b", "совсем other start " + shared_run + " different tail"),
            ("c", "unrelated content entirely distinct tokens only here"),
        ],
        "doc_id string, text string",
    )
    pairs = {
        (r["id_a"], r["id_b"])
        for r in winnow_candidate_pairs(
            df, "doc_id", "text", k=3, w=4, min_shared=1
        ).collect()
    }
    assert ("a", "b") in pairs
    assert not any("c" in p for p in pairs)


def test_winnow_candidate_pairs_cap_drops_hot_key(spark):
    """A fingerprint bucket over max_bucket (boilerplate passage on many
    docs) is dropped as a KEY; a genuine small pair survives."""
    from datacurator_jl_spark.operators.winnow import winnow_candidate_pairs

    boiler = "all rights reserved copyright footer text here now"
    rows = [(f"h{i}", f"u{i}niq filler w{i}ords " + boiler) for i in range(30)]
    rows += [
        ("s1", "rare shared sentence appearing twice only here today"),
        ("s2", "rare shared sentence appearing twice only here today"),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    pairs = {
        (r["id_a"], r["id_b"])
        for r in winnow_candidate_pairs(
            df, "doc_id", "text", k=3, w=4, min_shared=1, max_bucket=10
        ).collect()
    }
    assert ("s1", "s2") in pairs
    # every boilerplate fp bucket holds 30 docs > cap -> no h-h pairs
    # via those keys; h docs may only pair through their unique fillers
    # (impossible: fillers are distinct) — so no h pair at all
    assert not any(a.startswith("h") and b.startswith("h") for a, b in pairs)


# ---------------------------------------------------------------------------
# incremental exact dedup (round 6)
# ---------------------------------------------------------------------------


def test_incremental_exact_survivors_semantics(spark):
    from datacurator_jl_spark.operators.dedup import (
        exact_hash_table,
        incremental_exact_survivors,
    )

    base = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta"), (3, None)],
        "id bigint, text string",
    )
    batch = spark.createDataFrame(
        [
            (10, "alpha beta"),   # re-crawl of base 1 -> dropped
            (11, "fresh one"),    # new -> kept
            (12, "fresh one"),    # within-batch dupe -> loses to 11
            (13, "fresh two"),    # new -> kept
            (14, None),           # null text: base has a null too -> dropped
        ],
        "id bigint, text string",
    )
    bh = exact_hash_table(base, "text")
    got = {
        r["id"]
        for r in incremental_exact_survivors(batch, bh, "id", "text").collect()
    }
    assert got == {11, 13}


def test_incremental_exact_normalized_mode(spark):
    from datacurator_jl_spark.operators.dedup import (
        exact_hash_table,
        incremental_exact_survivors,
    )

    base = spark.createDataFrame([(1, "Alpha  Beta")], "id bigint, text string")
    batch = spark.createDataFrame(
        [(10, "alpha beta\n"), (11, "alpha beta!")], "id bigint, text string"
    )
    bh = exact_hash_table(base, "text", normalized=True)
    got = {
        r["id"]
        for r in incremental_exact_survivors(
            batch, bh, "id", "text", normalized=True
        ).collect()
    }
    assert got == {11}  # 10 is a normalized re-encoding of base 1


def test_incremental_exact_rejects_duplicate_ids(spark):
    import pytest

    from datacurator_jl_spark.operators.dedup import (
        exact_hash_table,
        incremental_exact_survivors,
    )

    base = spark.createDataFrame([(1, "x")], "id bigint, text string")
    batch = spark.createDataFrame(
        [(10, "a"), (10, "b")], "id bigint, text string"
    )
    with pytest.raises(Exception, match="unique"):
        incremental_exact_survivors(
            batch, exact_hash_table(base, "text"), "id", "text"
        ).collect()


def test_dedup_base_hashes_recipe_ingest(spark, tmp_path):
    """[global] dedup='exact' + dedup_base_hashes: the exact pre-pass
    dedups the batch against a persisted corpus hash table (within-batch
    winner + anti-join on base content)."""
    from datacurator_jl_spark.engine import Pipeline
    from datacurator_jl_spark.operators.dedup import exact_hash_table
    from datacurator_jl_spark.recipe import parse_recipe

    base = spark.createDataFrame(
        [("b1", "already curated page")], "url string, text string"
    )
    hpath = str(tmp_path / "hashes.parquet")
    exact_hash_table(base, "text").write.parquet(hpath)

    batch = spark.createDataFrame(
        [
            ("u1", "already curated page"),  # base re-crawl -> dropped
            ("u2", "brand new page"),        # kept
            ("u3", "brand new page"),        # batch dupe -> loses to u2
        ],
        "url string, text string",
    )
    spec = parse_recipe(
        {
            "global": {
                "act_on_success": True,
                "dedup": "exact",
                "dedup_base_hashes": hpath,
            },
            "any": {"conditions": [["has_text"]], "actions": ["keep"]},
        }
    )
    res = Pipeline(spec).apply(batch)
    assert {r["url"] for r in res.kept().collect()} == {"u2"}


def test_dedup_base_hashes_requires_exact(spark):
    import pytest

    from datacurator_jl_spark.recipe import RecipeError, parse_recipe

    any_rule = {"conditions": [["has_text"]], "actions": ["keep"]}
    with pytest.raises(RecipeError, match="dedup_base_hashes"):
        parse_recipe(
            {"global": {"dedup": "near", "dedup_base_hashes": "/x"},
             "any": any_rule}
        )
    with pytest.raises(RecipeError, match="dedup_base_hashes"):
        parse_recipe(
            {"global": {"dedup_base_hashes": 7, "dedup": "exact"},
             "any": any_rule}
        )


# ---------------------------------------------------------------------------
# SemDeDup (round 6)
# ---------------------------------------------------------------------------


def _sem_reference(rows, thr):
    """Independent mirror of the pinned SemDeDup rule: per over-threshold
    same-cluster pair, drop the closer-to-centroid member ((cs, id)
    order; 6dp rounding)."""
    import numpy as np

    by = {}
    for i, lab, v in rows:
        if lab is None or v is None:
            continue
        by.setdefault(lab, []).append((i, np.array(v, float)))

    def cos(a, b):
        return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))

    losers = set()
    for lab, mem in by.items():
        cent = np.mean([v for _, v in mem], axis=0)
        cs = {i: round(cos(v, cent), 6) for i, v in mem}
        for x in range(len(mem)):
            for y in range(x + 1, len(mem)):
                (ia, va), (ib, vb) = sorted(
                    [mem[x], mem[y]], key=lambda t: t[0]
                )
                if round(cos(va, vb), 6) >= thr:
                    losers.add(ia if cs[ia] > cs[ib] else ib)
    return losers


def test_semdedup_matches_reference_and_keeps_outlier(spark):
    from datacurator_jl_spark.operators.similarity import semdedup_survivors

    rows = [
        # cluster 0: a tight near-dup fan plus one genuine outlier
        (1, 0, [10.0, 0.0, 0.0]),
        (2, 0, [10.0, 1.0, 0.0]),
        (3, 0, [20.0, 1.0, 0.0]),
        (4, 0, [0.0, 0.0, 9.0]),   # orthogonal: never pairs
        # cluster 1: two members below threshold of each other
        (5, 1, [1.0, 5.0, 0.0]),
        (6, 1, [5.0, 1.0, 0.0]),
        # null cluster / null vector: always survive
        (7, None, [1.0, 1.0, 1.0]),
        (8, 2, None),
    ]
    df = spark.createDataFrame(
        rows, "vec_id bigint, label int, embedding array<double>"
    )
    got = {
        r["vec_id"]
        for r in semdedup_survivors(
            df, "vec_id", "embedding", "label", threshold=0.95
        ).collect()
    }
    losers = _sem_reference(rows, 0.95)
    assert got == {i for i, _, _ in rows} - losers
    assert losers  # the fan must actually drop someone
    assert {4, 5, 6, 7, 8} <= got  # sub-threshold/null rows all survive


def test_semdedup_cap_drops_degenerate_cluster(spark):
    from datacurator_jl_spark.operators.similarity import semdedup_survivors

    rows = [(i, 0, [1.0, 0.0]) for i in range(50)] + [(100, 1, [0.0, 1.0])]
    df = spark.createDataFrame(
        rows, "vec_id bigint, label int, embedding array<double>"
    )
    out = semdedup_survivors(
        df, "vec_id", "embedding", "label", threshold=0.9, max_cluster=10
    )
    # the 50-identical cluster is over cap -> no pairs generated -> all
    # survive (the cap drops the degenerate KEY, never the corpus)
    assert out.count() == 51


# -- BM25 retrieval (d57) ----------------------------------------------------


def _bm25_reference(rows, terms, k=10, k1=1.2, b=0.75):
    """Independent per-row Python BM25 mirroring the pinned expression
    order (operators/retrieval.py): exact-int tf/df/dl, fixed-order
    per-term sum, 6dp round, (score desc, id asc) top-k."""
    import math
    import re

    tok = re.compile(r"\S+", re.ASCII)  # repo-wide tokenization pin
    docs = {i: tok.findall(t.lower()) for i, t in rows if t is not None}
    n = len(docs)
    sum_dl = sum(len(v) for v in docs.values())
    avgdl = sum_dl / n
    dft = {
        t: sum(1 for toks in docs.values() if t in toks) for t in terms
    }
    out = []
    for i, toks in docs.items():
        score = 0.0
        hit = False
        for t in terms:
            tf = toks.count(t)
            if tf == 0 or dft[t] == 0:
                continue
            hit = True
            idf = math.log(1.0 + (n - dft[t] + 0.5) / (dft[t] + 0.5))
            score = score + idf * (
                tf * (k1 + 1.0)
                / (tf + k1 * (1.0 - b + b * len(toks) / avgdl))
            )
        if hit:
            out.append((i, round(score, 6)))
    out.sort(key=lambda r: (-r[1], r[0]))
    return out[:k]


def test_bm25_matches_reference(spark):
    from datacurator_jl_spark.operators.retrieval import bm25_topk

    rows = [
        (1, "spark merge spark window"),
        (2, "spark"),
        (3, "merge merge merge stream stream"),
        (4, "nothing relevant here at all"),
        (5, None),
        (6, "window stream window stream window spark"),
        (7, "spark merge"),  # same bag as 8 -> tie broken by id
        (8, "merge spark"),
    ]
    terms = ["spark", "merge", "window", "stream"]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = [
        (r.doc_id, r.score)
        for r in bm25_topk(df, terms, k=5).collect()
    ]
    assert got == _bm25_reference(rows, terms, k=5)
    # non-matching / null-text docs never appear even with a huge k
    all_ids = {r.doc_id for r in bm25_topk(df, terms, k=100).collect()}
    assert 4 not in all_ids and 5 not in all_ids


def test_bm25_rejects_bad_terms(spark):
    import pytest as _pytest

    from datacurator_jl_spark.operators.retrieval import bm25_topk

    df = spark.createDataFrame([(1, "x")], "doc_id bigint, text string")
    with _pytest.raises(ValueError, match=">= 1 query term"):
        bm25_topk(df, [])
    with _pytest.raises(ValueError, match="distinct"):
        bm25_topk(df, ["a", "a"])


# -- deterministic k-means (e09) ----------------------------------------------


def _kmeans_reference(vecs, k, iters):
    """Independent NumPy/Python Lloyd's mirroring the pinned semantics:
    micro-quantized exact-integer centroid sums, init = k lowest ids,
    sequential-fold cosine rounded 6dp, ties to the lowest cid."""
    import numpy as np

    def quant(v):
        x = np.asarray(v, dtype=np.float64) * 1e6
        return np.where(
            x >= 0, np.floor(x + 0.5), np.ceil(x - 0.5)
        ).astype(np.int64)

    def fold_dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + float(x) * float(y)
        return acc

    def cos6(a, b):
        import math

        s = fold_dot(a, b) / (
            math.sqrt(fold_dot(a, a)) * math.sqrt(fold_dot(b, b))
        )
        return round(s, 6) + 0.0

    pts = {
        i: np.asarray(v, dtype=np.float64)
        for i, v in vecs
        if v is not None and fold_dot(v, v) > 0
    }
    q = {i: quant(v) for i, v in pts.items()}
    init = sorted(pts)[:k]
    cents = {c: q[i].astype(np.float64) / 1e6 for c, i in enumerate(init)}

    def assign(cents):
        a = {}
        for i, v in pts.items():
            best = min(
                ((-cos6(v, cv), c) for c, cv in sorted(cents.items()))
            )
            a[i] = (best[1], -best[0] + 0.0)
        return a

    for _ in range(iters):
        a = assign(cents)
        sums, counts = {}, {}
        for i, (c, _s) in a.items():
            sums[c] = sums.get(c, np.zeros(len(q[i]), dtype=np.int64)) + q[i]
            counts[c] = counts.get(c, 0) + 1
        cents = {
            c: sums[c].astype(np.float64) / (counts[c] * 1e6) for c in sums
        }
    return assign(cents)


def test_kmeans_matches_reference_and_is_partition_invariant(spark):
    import numpy as np

    from datacurator_jl_spark.operators.similarity import (
        kmeans_assign, kmeans_fit,
    )

    rng = np.random.RandomState(11)
    centers = rng.standard_normal((3, 8)) * 3
    vecs = [
        (i, (centers[i % 3] + rng.standard_normal(8) * 0.3).tolist())
        for i in range(40)
    ]
    rows = vecs + [(100, None), (101, [0.0] * 8)]
    df = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>"
    )
    cents = kmeans_fit(df, k=3, iters=2)
    out = {
        r.vec_id: (r.cluster, r.csim)
        for r in kmeans_assign(df, cents).collect()
    }
    ref = _kmeans_reference(vecs, k=3, iters=2)
    assert {i: c for i, (c, _s) in ref.items()} == {
        i: out[i][0] for i in ref
    }
    for i, (_c, s) in ref.items():
        assert abs(out[i][1] - s) < 1e-9
    # null / zero-norm vectors: NULL cluster and csim, never dropped
    assert out[100] == (None, None) and out[101] == (None, None)
    # partitioning must not change anything (exact integer sums)
    out7 = {
        r.vec_id: (r.cluster, r.csim)
        for r in kmeans_assign(
            df, kmeans_fit(df.repartition(7), k=3, iters=2)
        ).collect()
    }
    assert out7 == out


def test_kmeans_feeds_semdedup_label_free(spark):
    """The end-to-end label-free SemDeDup: kmeans_assign provides the
    cluster column e08's operator blocks on."""
    import numpy as np

    from datacurator_jl_spark.operators.similarity import (
        kmeans_assign, kmeans_fit, semdedup_survivors,
    )

    rng = np.random.RandomState(5)
    base = rng.standard_normal((4, 8))
    rows = []
    for i in range(24):  # 4 tight clusters of 6 near-identical vectors
        rows.append((i, (base[i % 4] + rng.standard_normal(8) * 1e-3).tolist()))
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    labeled = kmeans_assign(df, kmeans_fit(df, k=4, iters=2))
    out = semdedup_survivors(
        labeled, "vec_id", "embedding", "cluster", threshold=0.999
    )
    kept = {r.vec_id for r in out.select("vec_id").collect()}
    # near-identical members dedup within each k-means cluster
    assert len(kept) < 24 and kept <= set(range(24))


# -- LR distillation trainer (d58) --------------------------------------------


def _lr_reference(rows, labels, n_buckets=64, salt="qw1", iters=2, lr=100.0):
    """Independent full-loop LR mirror (hashlib-direct buckets,
    half-away-from-zero rounding — NOT Python's banker's round)."""
    import hashlib
    import math
    import re
    from collections import Counter

    def h32(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    def rnd(x):
        return int(math.floor(x + 0.5) if x >= 0 else math.ceil(x - 0.5))

    tok = re.compile(r"\S+", re.ASCII)
    feats = {}
    for i, t in rows:
        if t is None:
            continue
        c = Counter(h32(f"{w}#{salt}") % n_buckets for w in tok.findall(t.lower()))
        if c:
            feats[i] = c
    train = {i: c for i, c in feats.items() if labels.get(i) is not None}
    n = len(train)
    w = {b: 0 for c in train.values() for b in c}
    npos = sum(labels[i] for i in train)
    bias = rnd(1000000.0 * math.log((npos + 0.5) / (n - npos + 0.5)))

    def margin(c, dl):
        s = sum(cnt * w[b] for b, cnt in sorted(c.items()))
        return (float(bias) + float(s) / float(dl)) / 1000000.0

    for _ in range(iters):
        r = {}
        for i, c in train.items():
            dl = sum(c.values())
            p = 1.0 / (1.0 + math.exp(-margin(c, dl)))
            r[i] = rnd(1000000.0 * (p - labels[i]))
        grad = {b: 0 for b in w}
        for i, c in train.items():
            dl = sum(c.values())
            for b, cnt in c.items():
                grad[b] += rnd((float(r[i]) * cnt) / dl)
        for b in w:
            w[b] -= rnd(lr * float(grad[b]) / n)
        bias -= rnd(lr * float(sum(r.values())) / n)
    out = {}
    for i, c in train.items():
        dl = sum(c.values())
        out[i] = round(1.0 / (1.0 + math.exp(-margin(c, dl))), 6)
    return out


def _lr_corpus():
    good = "the quick brown fox jumps over the lazy dog near the river bank"
    bad = "zzz qqq xxx www kkk jjj vvv zzz qqq xxx"
    rows, labels = [], {}
    for i in range(12):
        rows.append((i, good + f" extra{i % 3}"))
        labels[i] = 1.0
    for i in range(12, 24):
        rows.append((i, bad + f" junk{i % 3}"))
        labels[i] = 0.0
    rows += [(100, None), (101, "  \t "), (102, "unlabeled doc text")]
    labels[102] = None
    return rows, labels


def test_lr_fit_matches_reference_and_partition_invariant(spark):
    from datacurator_jl_spark.operators.distill import (
        lr_fit, lr_scores, unigram_feature_table,
    )

    rows, labels = _lr_corpus()
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    ldf = spark.createDataFrame(
        [(i, y) for i, y in labels.items()], "doc bigint, y double"
    )
    feats = unigram_feature_table(df, n_buckets=64, salt="qw1")
    w, bias_u = lr_fit(feats, ldf, iters=2, lr=100.0)
    train_feats = feats.join(
        ldf.filter(F.col("y").isNotNull()).select("doc"), "doc", "left_semi"
    )
    got = {
        r.doc_id: r.score for r in lr_scores(train_feats, w, bias_u).collect()
    }
    ref = _lr_reference(rows, labels, n_buckets=64)
    assert got == ref
    # learnable separation: every good doc outscores every bad doc
    assert min(got[i] for i in range(12)) > max(got[i] for i in range(12, 24))
    # null-text / whitespace-only / unlabeled docs never trained
    assert 100 not in got and 101 not in got and 102 not in got
    # partitioning must not change anything (exact integer sums)
    w7, bias7 = lr_fit(
        unigram_feature_table(df.repartition(7), n_buckets=64, salt="qw1"),
        ldf,
        iters=2,
        lr=100.0,
    )
    got7 = {
        r.doc_id: r.score
        for r in lr_scores(train_feats, w7, bias7).collect()
    }
    assert got7 == got and bias7 == bias_u


def test_lr_model_round_trips_into_quality_scorer(spark):
    """to_quality_model output drives the shipped DC_QUALITY_MODEL
    scorer: sigmoid(linear_score_arrow(weights)) reproduces lr_scores
    (float-mean vs exact-int-sum, so tolerance not equality)."""
    import math

    from datacurator_jl_spark.functions.classifier import linear_score_arrow
    from datacurator_jl_spark.operators.distill import (
        lr_fit, lr_scores, to_quality_model, unigram_feature_table,
    )

    rows, labels = _lr_corpus()
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    ldf = spark.createDataFrame(
        [(i, y) for i, y in labels.items() if y is not None],
        "doc bigint, y double",
    )
    feats = unigram_feature_table(df, n_buckets=64, salt="qw1")
    w, bias_u = lr_fit(feats, ldf, iters=2, lr=100.0)
    model = to_quality_model(w, bias_u, 64)
    assert len(model["weights"]) == 64
    scored = df.filter(F.col("doc_id") < 24).select(
        "doc_id",
        linear_score_arrow(
            F.col("text"),
            n_buckets=64,
            salt="qw1",
            weights=model["weights"],
            bias=model["bias"],
        ).alias("margin"),
    )
    via_scorer = {
        r.doc_id: 1.0 / (1.0 + math.exp(-r.margin)) for r in scored.collect()
    }
    exact = {
        r.doc_id: r.score
        for r in lr_scores(
            feats.join(ldf.select("doc"), "doc", "left_semi"), w, bias_u
        ).collect()
    }
    # exact path is 6dp-rounded; the scorer path is not (and its float
    # token-mean drifts ~1e-12) — bound by the rounding radius
    for i, p in exact.items():
        assert abs(via_scorer[i] - p) < 6e-7


def test_lr_fit_validation(spark):
    import pytest as _pytest

    from datacurator_jl_spark.operators.distill import (
        lr_fit, unigram_feature_table,
    )

    df = spark.createDataFrame([(1, "x y z")], "doc_id bigint, text string")
    feats = unigram_feature_table(df, n_buckets=8)
    empty = spark.createDataFrame([], "doc bigint, y double")
    with _pytest.raises(ValueError, match="empty training set"):
        lr_fit(feats, empty)
    with _pytest.raises(ValueError, match="iters"):
        lr_fit(feats, spark.createDataFrame([(1, 1.0)], "doc bigint, y double"), iters=0)


# -- decision diff (d59) -------------------------------------------------------


def test_decision_diff_flows_and_rowset_drift(spark):
    from datacurator_jl_spark.operators.report import decision_diff

    a = spark.createDataFrame(
        [
            (1, True, "r_keep"),
            (2, False, "r_len"),
            (3, True, "r_keep"),
            (4, True, "r_keep"),  # absent from run B (row-set drift)
        ],
        "doc_id bigint, keep boolean, rule_id string",
    )
    b = spark.createDataFrame(
        [
            (1, True, "r_keep"),
            (2, False, "r_len"),
            (3, False, "r_strict"),  # newly dropped by the tighter rule
            (5, True, "r_keep"),  # absent from run A
        ],
        "doc_id bigint, keep boolean, rule_id string",
    )
    got = {
        (r.rule_from, r.rule_to, r.flow): r.n_docs
        for r in decision_diff(a, b).collect()
    }
    assert got == {
        ("r_keep", "r_keep", "keep->keep"): 1,
        ("r_len", "r_len", "drop->drop"): 1,
        ("r_keep", "r_strict", "keep->drop"): 1,
        ("r_keep", "absent", "keep->absent"): 1,
        ("absent", "r_keep", "absent->keep"): 1,
    }


# -- hashed bigram LM cross-entropy (d60) --------------------------------------


def _lm_reference(rows, target_ids, n_buckets=64, salt="lm_v1"):
    """Independent per-row mirror: hashlib-direct buckets, exact int
    event sums, away-from-zero micro-nat rounding, log-space output."""
    import hashlib
    import math
    import re
    from collections import Counter

    def h32(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    def bkt(g):
        return h32(f"{g}#{salt}") % n_buckets

    def rnd(x):
        return int(math.floor(x + 0.5) if x >= 0 else math.ceil(x - 0.5))

    tok = re.compile(r"\S+", re.ASCII)
    ev = {}
    for i, t in rows:
        if t is None:
            continue
        ts = tok.findall(t.lower())
        c = Counter(
            (bkt(ts[j] + " " + ts[j + 1]), bkt(ts[j]))
            for j in range(len(ts) - 1)
        )
        if c:
            ev[i] = c
    ct2, ct1 = Counter(), Counter()
    for i in ev:
        if i in target_ids:
            for (b2, b1), c in ev[i].items():
                ct2[b2] += c
                ct1[b1] += c
    out = {i: None for i, _t in rows}
    for i, c in ev.items():
        h = sum(
            cnt * rnd(1000000.0 * math.log((ct2[b2] + 1) / (ct1[b1] + float(n_buckets))))
            for (b2, b1), cnt in c.items()
        )
        m = sum(c.values())
        out[i] = -(float(h) / (m * 1000000.0))
    return out


def test_lm_xent_matches_reference_and_backoff(spark):
    from datacurator_jl_spark.operators.lm import lm_xent

    rows = [
        (1, "the cat sat on the mat and the cat ran"),
        (2, "the cat sat on a hat"),
        (3, "zz yy xx ww vv uu"),  # fully unseen under the target model
        (4, "single"),  # < 2 tokens -> NULL
        (5, None),
        (6, "the cat sat on the mat"),
    ]
    target = {1, 2, 6}
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {
        r.doc_id: r.xent
        for r in lm_xent(
            df, "doc_id", "text",
            target=F.col("doc_id").isin(list(target)),
            n_buckets=64, salt="lm_v1",
        ).collect()
    }
    ref = _lm_reference(rows, target, n_buckets=64)
    assert got == ref
    assert got[4] is None and got[5] is None
    # in-distribution docs are lower-entropy than the unseen-garbage doc
    assert max(got[1], got[2], got[6]) < got[3]
    # the unseen doc's xent is finite (smoothed backoff, never inf/NULL):
    # ln(B) bounds the per-event cost from above (bucket collisions at
    # B=64 can only make events cheaper, never dearer)
    import math

    assert got[3] <= math.log(64.0) + 1e-6 and math.isfinite(got[3])
    # partition invariance (exact integer sums)
    got7 = {
        r.doc_id: r.xent
        for r in lm_xent(
            df.repartition(7), "doc_id", "text",
            target=F.col("doc_id").isin(list(target)),
            n_buckets=64, salt="lm_v1",
        ).collect()
    }
    assert got7 == got


def test_lm_whole_corpus_training_default(spark):
    """target=None trains on every doc — the raw-corpus LM."""
    from datacurator_jl_spark.operators.lm import lm_xent

    rows = [(1, "a b a b a b"), (2, "a b c d")]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {
        r.doc_id: r.xent
        for r in lm_xent(df, "doc_id", "text", n_buckets=32).collect()
    }
    ref = _lm_reference(rows, {1, 2}, n_buckets=32)
    assert got == ref
    # the repetitive doc is more predictable under the joint model
    assert got[1] < got[2]


# -- [global] mixture recipe pre-pass ------------------------------------------


def test_recipe_mixture_prepass_end_to_end(spark):
    from datacurator_jl_spark.engine import Pipeline
    from datacurator_jl_spark.recipe import parse_recipe

    spec = parse_recipe(
        {
            "global": {
                "act_on_success": True,
                "name_col": "doc_id",
                "text_col": "text",
                "mixture": {"A": 3.0, "B": 1.0},
                "mixture_total": 16,
                "mixture_col": "src",
            },
            "any": {"conditions": ["always"], "actions": ["keep"]},
        }
    )
    rows = (
        [(f"a{i}", "A", "text a") for i in range(20)]
        + [(f"b{i}", "B", "text b") for i in range(20)]
        + [(f"x{i}", "X", "text x") for i in range(5)]
    )
    df = spark.createDataFrame(rows, "doc_id string, src string, text string")
    out = Pipeline(spec).apply(df).df
    shares = {
        r.src: r.n
        for r in out.groupBy("src").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert shares == {"A": 12, "B": 4}  # 75/25 of 16; X excluded


def test_recipe_mixture_validation():
    import pytest as _pytest

    from datacurator_jl_spark.recipe import RecipeError, parse_recipe

    base = {"any": {"conditions": ["always"], "actions": ["keep"]}}
    with _pytest.raises(RecipeError, match="given together"):
        parse_recipe({"global": {"mixture": {"A": 1.0}}, **base})
    with _pytest.raises(RecipeError, match="given together"):
        parse_recipe({"global": {"mixture_total": 10}, **base})
    with _pytest.raises(RecipeError, match="non-negative"):
        parse_recipe(
            {"global": {"mixture": {"A": -1.0}, "mixture_total": 10}, **base}
        )
    with _pytest.raises(RecipeError, match="integer row budget"):
        parse_recipe(
            {"global": {"mixture": {"A": 1.0}, "mixture_total": True}, **base}
        )
    with _pytest.raises(RecipeError, match="table of group"):
        parse_recipe(
            {"global": {"mixture": [1, 2], "mixture_total": 10}, **base}
        )


def test_recipe_mixture_missing_column_fails_fast(spark):
    from datacurator_jl_spark.engine import Pipeline
    from datacurator_jl_spark.recipe import RecipeError, parse_recipe

    spec = parse_recipe(
        {
            "global": {
                "name_col": "doc_id",
                "text_col": "text",
                "mixture": {"A": 1.0},
                "mixture_total": 5,
                "mixture_col": "nope",
            },
            "any": {"conditions": ["always"], "actions": ["keep"]},
        }
    )
    df = spark.createDataFrame([("a", "t")], "doc_id string, text string")
    with pytest.raises(RecipeError, match="nope"):
        Pipeline(spec).apply(df)


def test_recipe_mixture_token_budget_variant(spark):
    """mixture_weight_col switches the pre-pass to token-budget mixing:
    quotas count the weight column's units, not rows."""
    from datacurator_jl_spark.engine import Pipeline
    from datacurator_jl_spark.recipe import RecipeError, parse_recipe

    spec = parse_recipe(
        {
            "global": {
                "name_col": "doc_id",
                "text_col": "text",
                "mixture": {"A": 1.0, "B": 1.0},
                "mixture_total": 40,
                "mixture_col": "src",
                "mixture_weight_col": "w",
            },
            "any": {"conditions": ["always"], "actions": ["keep"]},
        }
    )
    rows = [(f"a{i}", "A", "t", 7) for i in range(20)] + [
        (f"b{i}", "B", "t", 3) for i in range(20)
    ]
    df = spark.createDataFrame(
        rows, "doc_id string, src string, text string, w int"
    )
    out = Pipeline(spec).apply(df).df
    tok = {
        r.src: r.t
        for r in out.groupBy("src").agg(F.sum("w").alias("t")).collect()
    }
    # 20-unit budget per group, inclusive prefix: A fits 2 docs (14),
    # B fits 6 docs (18)
    assert tok == {"A": 14, "B": 18}
    with pytest.raises(RecipeError, match="needs a mixture table"):
        parse_recipe(
            {
                "global": {"mixture_weight_col": "w"},
                "any": {"conditions": ["always"], "actions": ["keep"]},
            }
        )


def test_kmeans_validation_and_small_corpus(spark):
    """k/iters validation; k larger than the corpus degrades gracefully
    (fewer clusters — every vector is its own init point)."""
    from datacurator_jl_spark.operators.similarity import (
        kmeans_assign, kmeans_fit,
    )

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])],
        "vec_id bigint, embedding array<double>",
    )
    with pytest.raises(ValueError, match="k >= 1"):
        kmeans_fit(df, k=0)
    with pytest.raises(ValueError, match="iters >= 0"):
        kmeans_fit(df, iters=-1)
    cents = kmeans_fit(df, k=10, iters=1)
    assert cents.count() == 2  # clusters bounded by corpus size
    out = {r.vec_id: r.cluster for r in kmeans_assign(df, cents).collect()}
    assert out == {1: 0, 2: 1}
