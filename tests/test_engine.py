"""End-to-end engine tests: the vectorized Spark plan must agree exactly
with the independent per-row Python oracle (keep/drop labels, deciding
rule id, byte-identical scrubbed text) on the seeded synthetic corpus —
the F1>=0.99 / byte-equality gate from BASELINE.json, asserted at 100%.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from datacurator_jl_spark.engine import Pipeline
from datacurator_jl_spark.recipe import parse_recipe
from datacurator_jl_spark.testing.oracle import oracle_labels


@pytest.fixture(scope="module")
def result(docs_df, flagship_spec):
    return Pipeline(flagship_spec).apply(docs_df)


@pytest.fixture(scope="module")
def got(result):
    return (
        result.df.select(
            "url",
            F.col("dc_kept").alias("keep"),
            F.col("dc_rule_id").alias("rule_id"),
            "scrubbed_text",
        )
        .toPandas()
        .sort_values("url")
        .reset_index(drop=True)
    )


@pytest.fixture(scope="module")
def expected(docs_pdf, flagship_spec):
    return oracle_labels(docs_pdf, flagship_spec).sort_values("url").reset_index(drop=True)


def test_keep_labels_match_oracle_exactly(got, expected):
    assert list(got["keep"]) == list(expected["keep"])


def test_rule_ids_match_oracle(got, expected):
    assert list(got["rule_id"]) == list(expected["rule_id"])


def test_scrubbed_text_byte_identical(got, expected):
    for g, e in zip(got["scrubbed_text"], expected["scrubbed_text"]):
        assert (g is None and e is None) or g == e


def test_scrub_removes_planted_pii(result):
    kept = result.kept().filter(F.col("category") == "pii_en")
    n = kept.count()
    if n:
        bad = kept.filter(
            F.col("scrubbed_text").rlike(r"@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}")
            | F.col("scrubbed_text").rlike(r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b")
        ).count()
        assert bad == 0
        assert kept.filter(F.col("scrubbed_text").contains("[EMAIL]")).count() > 0


def test_categories_filtered_as_designed(result):
    # generator-side truth: junk categories must all drop, clean English keeps
    agg = (
        result.df.groupBy("category")
        .agg(F.avg(F.col("dc_kept").cast("double")).alias("keep_rate"))
        .toPandas()
        .set_index("category")["keep_rate"]
    )
    assert agg["boilerplate"] == 0.0
    assert agg["symbol_junk"] == 0.0
    assert agg["line_spam"] == 0.0
    assert agg["non_en"] == 0.0
    assert agg["clean_en"] > 0.9


def test_counters(result, docs_pdf):
    cnt = {r["name"]: r["count"] for r in result.counters().collect()}
    assert cnt["docs_seen"] == len(docs_pdf)  # every doc passes has_text? no:
    # docs_seen counts rule-0 action firings = docs with non-empty text
    # (all synthetic docs have text), so it equals the row count.
    kept_chars = (
        result.df.filter("dc_kept").select(F.sum(F.length("text"))).collect()[0][0]
    )
    assert cnt["chars_kept"] == kept_chars


def test_file_lists(result):
    kept_urls = result.file_list("kept_urls")
    drop_log = result.file_list("drop_log")
    total = result.df.count()
    assert kept_urls.count() == result.df.filter("dc_kept").count()
    assert drop_log.count() == total - kept_urls.count()


def test_dropped_log_has_rule_ids(result):
    log = result.dropped().toPandas()
    assert set(log.columns) == {"url", "dc_rule_id"}
    assert (log["dc_rule_id"] != "default_keep").all()


def test_lineage_shape_and_totals(result):
    lin = result.lineage().toPandas()
    assert set(lin.columns) == {"partition_id", "rule_id", "kept", "dropped", "bytes"}
    assert lin["kept"].sum() == result.df.filter("dc_kept").count()
    assert lin["dropped"].sum() == result.df.filter("NOT dc_kept").count()


def test_act_on_success_polarity_flip(spark, docs_df):
    # act_on_success=false (reference default): action fires on FAILURE
    spec = parse_recipe(
        {
            "global": {"act_on_success": False},
            "any": {"conditions": [["min_length", 150]], "actions": ["drop"]},
        }
    )
    res = Pipeline(spec).apply(docs_df)
    kept = res.df.filter("dc_kept")
    assert kept.filter(F.length("text") < 150).count() == 0
    assert kept.count() == docs_df.filter(F.length("text") >= 150).count()


def test_quit_gate(spark, docs_df):
    spec = parse_recipe(
        {
            "global": {"act_on_success": True},
            "any": {"conditions": [["max_length", 10]], "actions": ["quit"]},
        }
    )
    res = Pipeline(spec).apply(docs_df)
    # no synthetic doc is <=10 chars except boilerplate? boilerplate is 23
    # chars -> no quit
    assert res.quit_requested() is False
    spec2 = parse_recipe(
        {
            "global": {"act_on_success": True},
            "any": {"conditions": [["max_length", 30]], "actions": ["quit"]},
        }
    )
    assert Pipeline(spec2).apply(docs_df).quit_requested() is True


def test_hierarchical_level_dispatch(spark):
    rows = [
        ("a", "hello world text here", 1),
        ("b", "hello world text here", 2),
        ("c", "hello world text here", 7),  # no level_7 -> default [any]
    ]
    df = spark.createDataFrame(rows, "url string, text string, level int")
    spec = parse_recipe(
        {
            "global": {"hierarchical": True, "act_on_success": True},
            "any": {"conditions": ["always"], "actions": ["keep"]},
            "level_1": {"conditions": ["always"], "actions": ["drop"]},
            "level_2": {"conditions": ["never"], "actions": ["drop"], "counter_actions": ["keep"]},
        }
    )
    got = {
        r["url"]: r["dc_kept"]
        for r in Pipeline(spec).apply(df).df.select("url", "dc_kept").collect()
    }
    assert got == {"a": False, "b": True, "c": True}


def test_transform_chain_left_to_right(spark):
    df = spark.createDataFrame([("u1", "a b c")], "url string, text string")
    spec = parse_recipe(
        {
            "global": {"act_on_success": True},
            "any": {
                "conditions": ["always"],
                "actions": [
                    ["all_actions", ["transform_text", ["whitespace_to", "_"], "touppercase"], "keep"]
                ],
            },
        }
    )
    row = Pipeline(spec).apply(df).df.collect()[0]
    assert row["scrubbed_text"] == "A_B_C"


def test_name_transform_writes_out_col(spark):
    df = spark.createDataFrame([("dir/File Name.txt", "x")], "url string, text string")
    spec = parse_recipe(
        {
            "global": {"act_on_success": True},
            "any": {
                "conditions": ["always"],
                "actions": [["transform_name", "tolowercase", ["whitespace_to", "_"]]],
            },
        }
    )
    row = Pipeline(spec).apply(df).df.collect()[0]
    assert row["url_out"] == "dir/file_name.txt"


def test_payload_sniffing_conditions(spark, docs_df):
    from datacurator_jl_spark.recipe import parse_recipe

    spec = parse_recipe(
        {
            "global": {"act_on_success": True},
            "any": {
                "conditions": [["payload_type_is", "html"]],
                "actions": ["keep"],
                "counter_actions": ["drop"],
            },
        }
    )
    res = Pipeline(spec).apply(docs_df)
    kept = res.df.filter("dc_kept")
    # generator writes <html>… payloads except empty/truncated/non-UTF8 slots
    assert 0 < kept.count() < docs_df.count()
    not_html = kept.filter(F.substring("html", 1, 4) != F.lit(b"<htm")).count()
    assert not_html == 0


def test_extract_text_from_html_backfill(spark):
    rows = [
        ("u1", b"<html><body><p>Hello &amp; world</p></body></html>", None),
        ("u2", b"<html><body>ignored</body></html>", "already have text"),
        ("u3", None, ""),
    ]
    df = spark.createDataFrame(rows, "url string, html binary, text string")
    spec = parse_recipe(
        {
            "global": {"act_on_success": True},
            "any": {
                "conditions": ["always"],
                "actions": [["all_actions", "extract_text_from_html", "keep"]],
            },
        }
    )
    got = {r.url: r.scrubbed_text for r in Pipeline(spec).apply(df).df.collect()}
    assert got["u1"] == "Hello & world"
    assert got["u2"] == "already have text"
    assert got["u3"] is None  # nothing to extract from


def test_prepass_order_is_pinned():
    """The [global] pre-pass order is the CLAUDE.md invariant: mixture
    LAST, keep_latest before any content pass, paragraph dedup before
    doc-level dedup."""
    from datacurator_jl_spark.engine import PREPASSES

    assert [p.key for p in PREPASSES] == [
        "blocklist",
        "keep_latest",
        "remove_boilerplate",
        "paragraph_dedup",
        "remove_duplicated_spans",
        "dedup",
        "max_dup_ngram_fraction",
        "domain_cap",
        "mixture",
    ]
