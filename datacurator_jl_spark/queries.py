"""Named queries over the driver testdata tables, each with a DuckDB
oracle-SQL twin (see ``ORACLES``). The driver runs both at sf=0.01 and
compares row count + schema + order-insensitive value hash — so every
computed column is aliased identically on both sides, floats are rounded
(4dp aggregates, 6dp similarities/ratios) and timestamps are formatted to
strings, pinning cross-engine determinism.

Each query is the oracle-checked face of one engine operator family
(SURVEY.md §2 coverage): buildcomp predicates, extract/extract_any/
delete, projection, groupbycolumn, distinct+sort aggregator chains,
describe stats, mode band-pass, counters — plus the training-data ops:
exact/minhash/simhash/jaccard dedup, text stats, langid, fingerprints,
quality filter, scrub, cosine/IVF similarity, windowed event rollups.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datacurator_jl_spark.functions import scrub as S
from datacurator_jl_spark.functions import text as X
from datacurator_jl_spark.operators import dataframe_ops as DO
from datacurator_jl_spark.operators import dedup as DD
from datacurator_jl_spark.operators import similarity as SIM
from datacurator_jl_spark.operators.mode_filter import mode_bandpass
from datacurator_jl_spark.sources.tables import load_table

QueryFn = Callable[[SparkSession, str], DataFrame]
QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def _q(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def _tn(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """load_table WITHOUT the small-scan spread (round-7): for
    shuffle-first queries — aggregations, windows, key/band joins —
    whose first exchange redistributes rows anyway, the spread's extra
    round-robin exchange is pure overhead (measured per query in
    OPTIMIZATION_r07.md; at production split counts the spread is a
    no-op either way, so this is a bench-scale-honest per-consumer
    choice, not a semantic one)."""
    return load_table(spark, sf_dir, name, spread=False)


# ---------------------------------------------------------------------------
# Relational operator suite (reference §2.5 table ops)
# ---------------------------------------------------------------------------


@_q(
    "q01_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 4)                          AS sum_qty,
           round(sum(l_extendedprice), 4)                     AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 4)  AS sum_disc_price,
           round(avg(l_quantity), 4)                          AS avg_qty,
           round(avg(l_discount), 4)                          AS avg_disc,
           count(*)                                           AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q01(spark, sf):
    """groupbycolumn-style hash aggregate (reference src/DataCurator.jl:941-965)
    over a pushed-down timestamp filter. Partial agg map-side; 6 aggs, one
    shuffle on a 2-col low-cardinality key."""
    li = _tn(spark, sf, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
                "sum_disc_price"
            ),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@_q(
    "q02_between_strict",
    """
    SELECT l_orderkey, l_linenumber, l_quantity
    FROM lineitem
    WHERE l_quantity > 10 AND l_quantity < 15 AND l_discount > 0.02 AND l_discount < 0.08
    """,
)
def q02(spark, sf):
    """buildcomp strict `between` (reference src/DataCurator.jl:2218-2229:
    exclusive BOTH sides, unlike SQL BETWEEN) AND-combined (extract)."""
    li = _tn(spark, sf, "lineitem")
    return DO.extract(
        li,
        [("l_quantity", "between", (10, 15)), ("l_discount", "between", (0.02, 0.08))],
        ["l_orderkey", "l_linenumber", "l_quantity"],
    )


@_q(
    "q03_extract_any",
    """
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM orders
    WHERE o_orderstatus = 'F' OR o_totalprice > 400000
    """,
)
def q03(spark, sf):
    """extract_any = OR of predicates (reference src/DataCurator.jl:2047-2051)."""
    o = _t(spark, sf, "orders")
    return DO.extract_any(
        o,
        [("o_orderstatus", "is", "F"), ("o_totalprice", "more", 400000)],
        ["o_orderkey", "o_orderstatus", "o_totalprice"],
    )


@_q(
    "q04_delete_rows",
    """
    SELECT c_custkey, c_acctbal, c_mktsegment
    FROM customer
    WHERE NOT (c_acctbal < 0 AND c_mktsegment = 'BUILDING')
    """,
)
def q04(spark, sf):
    """delete = drop rows matching ALL predicates (reference `delete`
    command, src/DataCurator.jl:2041-2046); null-mask rows are kept."""
    c = _t(spark, sf, "customer")
    return DO.delete_rows(
        c, [("c_acctbal", "less", 0), ("c_mktsegment", "is", "BUILDING")]
    ).select("c_custkey", "c_acctbal", "c_mktsegment")


@_q(
    "q05_extract_columns",
    "SELECT p_partkey, p_brand, p_retailprice FROM part",
)
def q05(spark, sf):
    """Projection (reference extract_columns, src/DataCurator.jl:1780-1788).
    Column pruning reaches the scan: ReadSchema lists only 3 columns."""
    return DO.extract_columns(
        _t(spark, sf, "part"), ["p_partkey", "p_brand", "p_retailprice"]
    )


@_q(
    "q06_groupbycolumn",
    """
    SELECT c_mktsegment,
           round(sum(c_acctbal), 4) AS acctbal_sum,
           round(avg(c_acctbal), 4) AS acctbal_mean,
           round(max(c_acctbal), 4) AS acctbal_max,
           count(c_custkey)         AS n_customers
    FROM customer GROUP BY c_mktsegment
    """,
)
def q06(spark, sf):
    """groupbycolumn with named agg outputs (reference
    src/DataCurator.jl:941-947 signature: columns, targets, functions, names)."""
    c = _tn(spark, sf, "customer")
    out = DO.groupbycolumn(
        c,
        ["c_mktsegment"],
        ["c_acctbal", "c_acctbal", "c_acctbal", "c_custkey"],
        ["sum", "mean", "maximum", "count"],
        ["acctbal_sum", "acctbal_mean", "acctbal_max", "n_customers"],
    )
    return out.select(
        "c_mktsegment",
        F.round("acctbal_sum", 4).alias("acctbal_sum"),
        F.round("acctbal_mean", 4).alias("acctbal_mean"),
        F.round("acctbal_max", 4).alias("acctbal_max"),
        "n_customers",
    )


@_q(
    "q07_distinct_sort",
    """
    SELECT DISTINCT o_orderpriority FROM orders ORDER BY o_orderpriority
    """,
)
def q07(spark, sf):
    """Aggregator chain `sort ∘ unique` (reference decode_aggregator chains
    src/DataCurator.jl:1711-1740; example_recipes/aggregate_sort.toml)."""
    return _t(spark, sf, "orders").select("o_orderpriority").distinct().orderBy(
        "o_orderpriority"
    )


@_q(
    "q08_describe_column",
    """
    WITH s AS (
      SELECT avg(l_extendedprice) AS mu,
             min(l_extendedprice) AS mn,
             max(l_extendedprice) AS mx,
             stddev_samp(l_extendedprice) AS sd,
             quantile_cont(l_extendedprice, 0.25) AS q1,
             quantile_cont(l_extendedprice, 0.5)  AS md,
             quantile_cont(l_extendedprice, 0.75) AS q3,
             avg(pow(l_extendedprice, 2)) AS m2r,
             avg(pow(l_extendedprice, 3)) AS m3r,
             avg(pow(l_extendedprice, 4)) AS m4r
      FROM lineitem
    )
    SELECT round(mn, 4) AS minimum, round(q1, 4) AS q1, round(mu, 4) AS mean,
           round(md, 4) AS median, round(q3, 4) AS q3, round(mx, 4) AS maximum,
           round(sd, 4) AS std,
           round((m4r - 4*mu*m3r + 6*mu*mu*m2r - 3*pow(mu,4))
                 / pow(m2r - mu*mu, 2) - 3.0, 4) AS kurtosis
    FROM s
    """,
)
def q08(spark, sf):
    """describe_image-style 8-moment stats (reference
    src/DataCurator.jl:902-916: min, Q1, mean, median, Q3, max, std,
    kurtosis). percentile() is exact with linear interpolation in both
    engines; kurtosis (population excess) is computed from raw moments
    with the SAME expansion on both sides so the values agree to 4dp
    (library kurtosis functions use different bias corrections across
    engines)."""
    li = _t(spark, sf, "lineitem")
    c = F.col("l_extendedprice")
    q = F.percentile(c, F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)))
    mu = F.avg(c)
    m2r, m3r, m4r = (F.avg(F.pow(c, k)) for k in (2, 3, 4))
    kurt = (m4r - 4 * mu * m3r + 6 * mu * mu * m2r - 3 * F.pow(mu, 4)) / F.pow(
        m2r - mu * mu, 2
    ) - 3.0
    return li.agg(
        F.round(F.min(c), 4).alias("minimum"),
        F.round(q.getItem(0), 4).alias("q1"),
        F.round(F.avg(c), 4).alias("mean"),
        F.round(q.getItem(1), 4).alias("median"),
        F.round(q.getItem(2), 4).alias("q3"),
        F.round(F.max(c), 4).alias("maximum"),
        F.round(F.stddev_samp(c), 4).alias("std"),
        F.round(kurt, 4).alias("kurtosis"),
    )


@_q(
    "q09_mode_bandpass",
    """
    WITH m AS (
      SELECT l_quantity AS v FROM lineitem
      GROUP BY 1 ORDER BY count(*) DESC, v ASC LIMIT 1
    ), s AS (SELECT stddev_samp(l_quantity) AS sd FROM lineitem)
    SELECT l_orderkey, l_linenumber, l_quantity
    FROM lineitem, m, s
    WHERE l_quantity > m.v + (-0.3) * s.sd AND l_quantity < m.v + 0.3 * s.sd
    """,
)
def q09(spark, sf):
    """Mode band-pass (reference handle_mode, src/DataCurator.jl:2231-2246):
    keep rows with mode+k·σ < x < mode+j·σ. Two-phase: distributed agg →
    broadcast scalars → filter."""
    li = _tn(spark, sf, "lineitem")
    return mode_bandpass(li, "l_quantity", -0.3, 0.3).select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )


@_q(
    "q10_counters_by_flag",
    """
    SELECT l_returnflag AS name, count(*) AS hits,
           sum(l_orderkey)::BIGINT AS weighted
    FROM lineitem WHERE l_quantity > 45 GROUP BY l_returnflag
    """,
)
def q10(spark, sf):
    """Counter semantics: tagged rows -> (name, count, weighted-sum) —
    the post-hoc aggregation form of the reference's thread-sharded
    counters (src/DataCurator.jl:3856-3889)."""
    li = _t(spark, sf, "lineitem")
    return (
        li.filter(F.col("l_quantity") > 45)
        .groupBy(F.col("l_returnflag").alias("name"))
        .agg(F.count("*").alias("hits"), F.sum("l_orderkey").alias("weighted"))
    )


# ---------------------------------------------------------------------------
# Documents: text analysis + quality filter + dedup
# ---------------------------------------------------------------------------

# normalized-token list in DuckDB SQL — the token semantics of the shared
# stats struct (whitespace split, lowercase, strip PUNCT_STRIP chars)
_SQL_NT = (
    "list_transform(regexp_extract_all(lower(trim(text)), '[^ \\t\\n\\x0b\\f\\r]+'),"
    " w -> translate(w, '.,;:!?\"''()[]', ''))"
)


def _sql_set_count(wordlist: list[str]) -> str:
    """len(list_filter(tokens, x -> x IN (...))) — one set-count field
    of the shared stats struct."""
    lits = ", ".join(f"'{w}'" for w in wordlist)
    return f"len(list_filter({_SQL_NT}, x -> x IN ({lits})))"


@_q(
    "d01_exact_dedup",
    """
    SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS n_copies
    FROM documents GROUP BY md5(text)
    """,
)
def d01(spark, sf):
    """Exact dedup: hash-groupBy, min-id representative (single shuffle,
    map-side partial agg)."""
    return DD.exact_dedup(_tn(spark, sf, "documents"), "doc_id", "text")


@_q(
    "d02_text_stats",
    """
    SELECT doc_id,
           length(text) AS chars,
           len(regexp_extract_all(trim(text), '[^ \\t\\n\\x0b\\f\\r]+')) AS n_words,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\x0b\\f\\r]')) AS tokens,
           round(len(list_distinct(regexp_extract_all(lower(trim(text)), '[^ \\t\\n\\x0b\\f\\r]+')))::DOUBLE
                 / len(regexp_extract_all(trim(text), '[^ \\t\\n\\x0b\\f\\r]+')), 6) AS distinct_word_ratio,
           round({SW}::DOUBLE
                 / len(regexp_extract_all(trim(text), '[^ \\t\\n\\x0b\\f\\r]+')), 6) AS stopword_ratio
    FROM documents
    """.replace("{SW}", _sql_set_count(X.EN_STOPWORDS)),
)
def d02(spark, sf):
    """Per-document text stats — the graft analogue of describe_image
    per-element stats (SURVEY.md §2.5). Word-derived stats read ONE
    pre-projected Arrow token-stats struct, as the engine does."""
    from datacurator_jl_spark.functions.arrow_stats import token_stats_arrow

    d = _t(spark, sf, "documents")
    t = F.col("text")
    d = d.withColumn("_s", token_stats_arrow(t))
    s = F.col("_s")
    return d.select(
        "doc_id",
        X.n_chars(t).alias("chars"),
        X.n_words(t, s).alias("n_words"),
        X.token_count(t).alias("tokens"),
        F.round(X.distinct_word_ratio(t, s), 6).alias("distinct_word_ratio"),
        F.round(X.stopword_ratio(t, s), 6).alias("stopword_ratio"),
    )


def _sql_lang_scores() -> str:
    parts = [f"{_sql_set_count(ws)} AS s_{k}" for k, ws in X.LANG_MARKERS.items()]
    parts.append("(len(regexp_extract_all(text, '[一-鿿]')) // 4)::INT AS s_zh")
    return ", ".join(parts)


@_q(
    "d03_langid",
    f"""
    WITH s AS (SELECT doc_id, {_sql_lang_scores()} FROM documents),
    b AS (SELECT *, greatest(s_en, s_de, s_fr, s_es, s_it, s_zh) AS best FROM s)
    SELECT doc_id,
      CASE WHEN best <= 0 THEN 'und'
           WHEN s_en = best THEN 'en' WHEN s_de = best THEN 'de'
           WHEN s_fr = best THEN 'fr' WHEN s_es = best THEN 'es'
           WHEN s_it = best THEN 'it' ELSE 'zh' END AS lang_pred
    FROM b
    """,
)
def d03(spark, sf):
    """Heuristic language-ID (marker-word argmax + CJK ratio) over the
    shared Arrow token-stats struct — the vectorized stand-in for the
    fastText stage."""
    from datacurator_jl_spark.functions.arrow_stats import token_stats_arrow

    d = _t(spark, sf, "documents")
    t = F.col("text")
    d = d.withColumn("_s", token_stats_arrow(t))
    return d.select("doc_id", X.lang_id(t, F.col("_s")).alias("lang_pred"))


_D04_SQL = """
WITH f AS (
  SELECT doc_id,
         length(text) AS chars,
         len(regexp_extract_all(trim(text), '[^ \\t\\n\\x0b\\f\\r]+')) AS nw,
         (length(text) - len(regexp_extract_all(text,
             '[A-Za-z0-9 \\t\\n\\x0b\\f\\r.,;:''"!?()\\-]')))::DOUBLE / length(text) AS sym,
         len(list_distinct(regexp_extract_all(lower(trim(text)), '[^ \\t\\n\\x0b\\f\\r]+')))::DOUBLE
             / len(regexp_extract_all(trim(text), '[^ \\t\\n\\x0b\\f\\r]+')) AS distinct_ratio,
         {SW} AS sw_hits
  FROM documents WHERE text IS NOT NULL AND regexp_matches(text, '[^ \\t\\n\\x0b\\f\\r]')
)
SELECT doc_id,
  CASE WHEN NOT (chars >= 100)                  THEN false
       WHEN NOT (nw > 10 AND nw < 10000)        THEN false
       WHEN NOT (sym < 0.1)                     THEN false
       WHEN NOT (distinct_ratio > 0.3)          THEN false
       WHEN NOT (sw_hits >= 1)                  THEN false
       ELSE true END AS keep,
  CASE WHEN NOT (chars >= 100)                  THEN 'any:0:min_length'
       WHEN NOT (nw > 10 AND nw < 10000)        THEN 'any:1:word_count_between'
       WHEN NOT (sym < 0.1)                     THEN 'any:2:symbol_ratio_below'
       WHEN NOT (distinct_ratio > 0.3)          THEN 'any:3:word_repetition_below'
       WHEN NOT (sw_hits >= 1)                  THEN 'any:4:min_stopword_hits'
       ELSE 'any:5:always' END AS rule_id
FROM f
""".replace("{SW}", _sql_set_count(X.EN_STOPWORDS))


def _quality_decisions(spark, sf, min_len=100):
    """Shared engine run behind d04 (min_len=100) and d59's stricter
    B-side (min_len=200): same rule chain, parameterized first gate."""
    from datacurator_jl_spark.engine import Pipeline
    from datacurator_jl_spark.recipe import parse_recipe

    spec = parse_recipe(
        {
            "global": {"act_on_success": True, "name_col": "doc_id", "text_col": "text"},
            "any": {
                "conditions": [
                    ["min_length", min_len],
                    ["word_count_between", [10, 10000]],
                    ["symbol_ratio_below", 0.1],
                    ["word_repetition_below", 0.7],
                    ["min_stopword_hits", 1],
                    "always",
                ],
                "actions": ["keep_going"] * 5 + ["keep"],
                "counter_actions": ["drop"] * 5 + ["keep_going"],
            },
        }
    )
    d = _t(spark, sf, "documents").filter(
        F.col("text").isNotNull() & F.col("text").rlike(r"\S")
    )
    res = Pipeline(spec).apply(d)
    return res.df.select(
        "doc_id", F.col("dc_kept").alias("keep"), F.col("dc_rule_id").alias("rule_id")
    )


@_q("d04_quality_filter", _D04_SQL)
def d04(spark, sf):
    """The flagship: recipe-driven quality filter via the engine itself
    (rule chain -> single CASE WHEN plan). The oracle SQL re-states the
    same ordered early-exit semantics as a CASE chain — this is the
    keep/drop parity check."""
    return _quality_decisions(spark, sf, 100)


@_q(
    "d05_fingerprint",
    """
    SELECT doc_id, md5(trim(regexp_replace(lower(text), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g'))) AS fp
    FROM documents
    """,
)
def d05(spark, sf):
    """Normalized md5 document fingerprint (portable rolling-hash stand-in)."""
    return _t(spark, sf, "documents").select(
        "doc_id", X.fingerprint(F.col("text")).alias("fp")
    )


def _sql_minhash(i: int) -> str:
    return (
        "list_min(list_transform(list_distinct(regexp_extract_all(lower(trim(text)), '[^ \\t\\n\\x0b\\f\\r]+')),"
        f" w -> ('0x' || substr(md5(w || '#{i}'), 1, 8))::BIGINT)) AS mh{i}"
    )


@_q(
    "d06_minhash_signature",
    f"SELECT doc_id, {', '.join(_sql_minhash(i) for i in range(4))} FROM documents",
)
def d06(spark, sf):
    """MinHash signatures: per-row array fold, no shuffle, no UDF; hash =
    md5-derived 32-bit so the oracle reproduces it bit-exactly."""
    d = DD.minhash_signature(_tn(spark, sf, "documents"), "text", k=4)
    return d.select("doc_id", "mh0", "mh1", "mh2", "mh3")


@_q(
    "d07_simhash",
    None,  # oracle added below (long SQL built programmatically)
)
def d07(spark, sf):
    """16-bit SimHash fingerprint, pure array folds (no shuffle)."""
    return DD.simhash(_tn(spark, sf, "documents"), "text", bits=16).select(
        "doc_id", "simhash"
    )


def _sql_simhash_sum(bits: int = 16) -> str:
    """The packed bit-sign sum over a word-hash list aliased ``h`` —
    shared by the d07 and d44 oracles (one source of SQL truth for the
    simhash value)."""
    bit_terms = []
    for j in range(bits):
        bit_terms.append(
            f"CASE WHEN list_sum(list_transform(h, x -> CASE WHEN (x >> {j}) & 1 = 1"
            f" THEN 1 ELSE -1 END)) > 0 THEN {2**j} ELSE 0 END"
        )
    return "(" + " + ".join(bit_terms) + ")::BIGINT"


def _sql_simhash() -> str:
    return (
        "WITH w AS (SELECT doc_id, list_transform("
        "list_distinct(regexp_extract_all(lower(trim(text)), '[^ \\t\\n\\x0b\\f\\r]+')),"
        " x -> ('0x' || substr(md5(x), 1, 15))::BIGINT) AS h FROM documents) "
        "SELECT doc_id, " + _sql_simhash_sum() + " AS simhash FROM w"
    )


ORACLES["d07_simhash"] = _sql_simhash()


@_q(
    "d08_ngram_jaccard",
    """
    WITH w AS (
      SELECT doc_id, source,
             list_distinct(list_transform(regexp_extract_all(lower(text), '[^ \\t\\n\\x0b\\f\\r]+'),
                           x -> ('0x' || substr(md5(x), 1, 8))::BIGINT)) AS ws
      FROM documents
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(len(list_intersect(a.ws, b.ws))::DOUBLE /
                 (len(a.ws) + len(b.ws) - len(list_intersect(a.ws, b.ws))), 6) AS jaccard
    FROM w a JOIN w b ON a.source = b.source AND a.doc_id < b.doc_id
    WHERE round(len(list_intersect(a.ws, b.ws))::DOUBLE /
                (len(a.ws) + len(b.ws) - len(list_intersect(a.ws, b.ws))), 6) >= 0.6
    """,
)
def d08(spark, sf):
    """n-gram (word-set) Jaccard near-dup pairs, blocked by `source`
    (blocked self-join: pair count O(sum block²) not O(n²))."""
    return DD.ngram_jaccard_pairs(
        _t(spark, sf, "documents"), "doc_id", "text", "source", threshold=0.6
    )


@_q(
    "d31_ngram_containment",
    """
    WITH w AS (
      SELECT doc_id, source,
             list_distinct(list_transform(regexp_extract_all(lower(text), '[^ \\t\\n\\x0b\\f\\r]+'),
                           x -> ('0x' || substr(md5(x), 1, 8))::BIGINT)) AS ws
      FROM documents
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(len(list_intersect(a.ws, b.ws))::DOUBLE /
                 least(len(a.ws), len(b.ws)), 6) AS containment
    FROM w a JOIN w b ON a.source = b.source AND a.doc_id < b.doc_id
    WHERE least(len(a.ws), len(b.ws)) > 0
      AND round(len(list_intersect(a.ws, b.ws))::DOUBLE /
                least(len(a.ws), len(b.ws)), 6) >= 0.8
    """,
)
def d31(spark, sf):
    """Asymmetric containment near-dup |A∩B|/min(|A|,|B|), blocked by
    source: the truncated-crawl/excerpt detector — a 10% excerpt has
    Jaccard ~0.1 (invisible to d08) but containment 1.0. No size-ratio
    or LSH prefilter applies (the asymmetry IS the signal), so scale
    rests on the block cap (operators/dedup.ngram_containment_pairs)."""
    return DD.ngram_containment_pairs(
        _t(spark, sf, "documents"), "doc_id", "text", "source", threshold=0.8
    )


@_q(
    "d40_contained_survivors",
    """
    WITH w AS (
      SELECT doc_id, source,
             list_distinct(list_transform(regexp_extract_all(lower(text), '[^ \\t\\n\\x0b\\f\\r]+'),
                           x -> ('0x' || substr(md5(x), 1, 8))::BIGINT)) AS ws
      FROM documents
    ),
    victims AS (
      SELECT DISTINCT CASE
               WHEN len(a.ws) < len(b.ws) THEN a.doc_id
               WHEN len(b.ws) < len(a.ws) THEN b.doc_id
               ELSE greatest(a.doc_id, b.doc_id) END AS victim
      FROM w a JOIN w b ON a.source = b.source AND a.doc_id < b.doc_id
      WHERE least(len(a.ws), len(b.ws)) > 0
        AND round(len(list_intersect(a.ws, b.ws))::DOUBLE /
                  least(len(a.ws), len(b.ws)), 6) >= 0.8
    )
    SELECT d.doc_id, d.source FROM documents d
    ANTI JOIN victims v ON d.doc_id = v.victim
    """,
)
def d40(spark, sf):
    """Containment-dedup keep-set: every doc that is the smaller side
    (fewer distinct words; tie -> larger id) of a >=0.8-containment
    pair is dropped — the excerpt/truncation loser. Non-iterative by
    design (an excerpt of a dropped doc is still redundant); one
    blocked pair join + a distinct victim set + a left-anti join
    (operators/dedup.drop_contained_docs)."""
    return DD.drop_contained_docs(
        _t(spark, sf, "documents"), "doc_id", "text", "source", threshold=0.8
    ).select("doc_id", "source")


@_q(
    "d44_blocked_containment",
    None,  # oracle built below (shares the d07 simhash bit-sum SQL)
)
def d44(spark, sf):
    """d31's asymmetric containment, but blocked by the CONTENT-derived
    simhash-prefix key instead of the domain — the shipped 100-TB answer
    to d31's 'pick block keys accordingly' note (round-5, VERDICT r4
    next #5): a mega-domain splits across up to 2^prefix_bits blocks by
    content, so the Σ block² pair term is bounded by content diversity,
    not by the skewest domain. operators/dedup.simhash_prefix_block;
    reference analogue: prefix-grouping (stack_images_by_prefix,
    src/DataCurator.jl:2806-2851)."""
    blocked = DD.simhash_prefix_block(
        _t(spark, sf, "documents"), "text", prefix_bits=8, bits=16
    )
    return DD.ngram_containment_pairs(
        blocked, "doc_id", "text", "blk_simhash", threshold=0.8
    )


ORACLES["d44_blocked_containment"] = (
    """
    WITH w AS (
      SELECT doc_id,
             list_transform(
               list_distinct(regexp_extract_all(lower(trim(text)), '[^ \\t\\n\\x0b\\f\\r]+')),
               x -> ('0x' || substr(md5(x), 1, 15))::BIGINT) AS h,
             list_distinct(list_transform(regexp_extract_all(lower(text), '[^ \\t\\n\\x0b\\f\\r]+'),
                           x -> ('0x' || substr(md5(x), 1, 8))::BIGINT)) AS ws
      FROM documents
    ),
    s AS (SELECT doc_id, ws, ("""
    + _sql_simhash_sum()
    + """ >> 8) AS blk FROM w)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(len(list_intersect(a.ws, b.ws))::DOUBLE /
                 least(len(a.ws), len(b.ws)), 6) AS containment
    FROM s a JOIN s b ON a.blk = b.blk AND a.doc_id < b.doc_id
    WHERE least(len(a.ws), len(b.ws)) > 0
      AND round(len(list_intersect(a.ws, b.ws))::DOUBLE /
                least(len(a.ws), len(b.ws)), 6) >= 0.8
    """
)


@_q(
    "d45_token_stats",
    r"""
    SELECT doc_id,
           len(regexp_extract_all(text,
               '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\x0b\f\r]'))::INT AS toks,
           len(regexp_extract_all(text, '[^ \t\n\x0b\f\r]+'))::INT AS n_words,
           length(text)::INT AS n_chars_text
    FROM documents
    """,
)
def d45(spark, sf):
    """Token accounting per doc: BPE-ish token estimate via the
    DC_TOKENIZER seam's NATIVE default path (functions/tokenizer.
    token_count_column with no tokenizer configured — the oracle pins it
    byte-identical to functions.text.token_count, so configuring a real
    tokenizer is a pure swap), whitespace word count, char length. The
    three flavors a budget report needs side by side (round-5, VERDICT
    r4 next #4)."""
    from datacurator_jl_spark.functions.tokenizer import token_count_column

    d = _t(spark, sf, "documents")
    return d.select(
        "doc_id",
        token_count_column(F.col("text")).cast("int").alias("toks"),
        F.size(X.words(F.col("text"))).cast("int").alias("n_words"),
        F.length("text").cast("int").alias("n_chars_text"),
    )


_D46_HTML_PRE = (
    '<html><head><title>Page</title><style type="text/css">p{color:red}'
    "</style></head><body><h1>"
)
_D46_HTML_MID = (
    '</h1>\n<script type="text/javascript">var x = 1; if (x<2) { x++; }'
    "</script>\n<p>"
)
_D46_HTML_POST = (
    "</p>\n<p>&amp;lt; &quot;quoted&quot;&nbsp;&gt; &#39;s it&#8217;s "
    "&#x2019; &#38;lt; nb&#160;sp &#128512; &mdash; caf&eacute; "
    "bad&#xD800; big&#1114112; nine&#999999999; "
    "non&#65534; ncp&#xfdd0; del&#127; bel&#7;</p>\n</body></html>"
)


def _d46_sql() -> str:
    from datacurator_jl_spark.multimodal.binary import extract_html_text_sql

    def lit(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    html = (
        f"{lit(_D46_HTML_PRE)} || source || {lit(_D46_HTML_MID)} || text || "
        f"{lit(_D46_HTML_POST)}"
    )
    return f"SELECT doc_id, {extract_html_text_sql(html)} AS extracted FROM documents"


@_q("d46_html_extract", _d46_sql())
def d46(spark, sf):
    """HTML -> text extraction (the north rule's html:binary column,
    flagship-adjacent: 'byte-identical extracted text per url'): wrap
    each corpus doc in a deterministic page template — title/style head,
    h1, a script with a literal '<' inside, entity soup including
    numeric character references (round-6: decimal &#8217;, hex
    &#x2019;/&#X.., supplementary &#128512; -> surrogate pair on the
    Spark side, the no-double-unescape &#38;lt;, NBSP-normalizing
    &#160;, and invalid refs — surrogate / > 0x10FFFF / 8+ digits —
    that must survive verbatim) — then run the native extractor
    (multimodal.extract_html_text). The oracle SQL is GENERATED from
    the same entity table and pipeline builder
    (extract_html_text_sql), so the chains cannot drift; every pattern
    stays in the Java/RE2-shared subset and the result is
    byte-compared."""
    from datacurator_jl_spark.multimodal.binary import extract_html_text

    d = _t(spark, sf, "documents")
    html = F.concat(
        F.lit(_D46_HTML_PRE), F.col("source"), F.lit(_D46_HTML_MID),
        F.col("text"), F.lit(_D46_HTML_POST),
    )
    return d.select(
        "doc_id", extract_html_text(html).alias("extracted")
    )


@_q(
    "d47_latest_version",
    """
    SELECT user_id, event_type, ts, event_id, value FROM (
      SELECT user_id, event_type, ts, event_id, value,
             row_number() OVER (
               PARTITION BY user_id, event_type
               ORDER BY (ts IS NOT NULL) DESC, ts DESC NULLS LAST,
                        event_id DESC) AS rn
      FROM events) WHERE rn = 1
    """,
)
def d47(spark, sf):
    """Latest-version-per-key dedup ('latest crawl per URL'): one row
    per (user_id, event_type) at max (ts, event_id). The Spark side is
    a single map-side-combinable max(struct) aggregate — versions of a
    hot key reduce locally before the shuffle, no per-key window sort
    (operators/dataframe_ops.latest_version); the oracle states the
    same winner as a row_number window. NULL-ts-never-wins and the
    unique-tiebreak ordering make both engines pick identical rows."""
    from datacurator_jl_spark.operators.dataframe_ops import latest_version

    return latest_version(
        _tn(spark, sf, "events").select(
            "user_id", "event_type", "ts", "event_id", "value"
        ),
        ["user_id", "event_type"], "ts", "event_id",
    )


def _d48_sql() -> str:
    from datacurator_jl_spark.functions.urls import url_host_sql

    return f"""
    WITH u AS (
      SELECT doc_id, CASE doc_id % 4
        WHEN 0 THEN 'https://www.' || source || '/p/' || doc_id::VARCHAR
        WHEN 1 THEN 'HTTP://' || upper(source) || ':80/x?q=1'
        WHEN 2 THEN 'https://crawler:pw@' || source || ':8443/'
        ELSE 'no scheme here' END AS url
      FROM documents)
    SELECT doc_id, {url_host_sql('url')} AS host FROM u
    """


@_q("d48_url_host", None)
def d48(spark, sf):
    """Host extraction from RAW urls (functions/urls.url_host) — the
    domain key for domain_cap/blocklists when no source column exists.
    Each doc is given one of four adversarial url spellings (www +
    path, uppercase scheme/host + port, userinfo + port, scheme-less ->
    NULL); the pinned trim/authority/userinfo/port/lowercase/www
    sequence must recover the bare domain identically on both engines.
    Pure codegen'd regex chain, no UDF, no shuffle."""
    from datacurator_jl_spark.functions.urls import url_host

    d = _t(spark, sf, "documents")
    m = F.col("doc_id") % 4
    did = F.col("doc_id").cast("string")
    url = (
        F.when(m == 0, F.concat(F.lit("https://www."), F.col("source"),
                                F.lit("/p/"), did))
        .when(m == 1, F.concat(F.lit("HTTP://"), F.upper(F.col("source")),
                               F.lit(":80/x?q=1")))
        .when(m == 2, F.concat(F.lit("https://crawler:pw@"),
                               F.col("source"), F.lit(":8443/")))
        .otherwise(F.lit("no scheme here"))
    )
    return d.select("doc_id", url_host(url).alias("host"))


ORACLES["d48_url_host"] = _d48_sql()


@_q(
    "d09_scrub",
    """
    SELECT doc_id,
      regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
        '[A-Za-z0-9._%+\\-]+@[A-Za-z0-9.\\-]+\\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        '\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b', '[SSN]', 'g'),
        '\\+?[0-9]{1,3}[-. ][0-9]{3}[-. ][0-9]{3,4}([-. ][0-9]{3,4})?\\b', '[PHONE]', 'g'),
        '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b', '[IP]', 'g') AS scrubbed
    FROM documents
    """,
)
def d09(spark, sf):
    """PII scrub chain applied as ordered regexp_replace (byte-identical
    contract; order pinned email->ssn->phone->ip)."""
    return _t(spark, sf, "documents").select(
        "doc_id", S.scrub_pii(F.col("text")).alias("scrubbed")
    )


@_q(
    "d10_quality_score",
    """
    WITH f AS (
      SELECT doc_id,
        CASE WHEN length(text) > 0 THEN
          {SW}::DOUBLE /
          len(regexp_extract_all(trim(text), '[^ \\t\\n\\x0b\\f\\r]+')) ELSE 0.0 END AS sw,
        len(list_distinct(regexp_extract_all(lower(trim(text)), '[^ \\t\\n\\x0b\\f\\r]+')))::DOUBLE
            / len(regexp_extract_all(trim(text), '[^ \\t\\n\\x0b\\f\\r]+')) AS rep,
        CASE WHEN length(text) > 0 THEN
          (length(text) - len(regexp_extract_all(text,
              '[A-Za-z0-9 \\t\\n\\x0b\\f\\r.,;:''"!?()\\-]')))::DOUBLE / length(text)
        ELSE 0.0 END AS sym,
        CASE WHEN length(text) > 0 THEN
          len(regexp_extract_all(text, '[A-Za-z]'))::DOUBLE / length(text)
        ELSE 0.0 END AS alpha
      FROM documents
    )
    SELECT doc_id,
           round(least(sw * 2.5, 1.0) * 0.35 + rep * 0.25 +
                 (1.0 - least(sym * 5.0, 1.0)) * 0.2 + alpha * 0.2, 6) AS quality
    FROM f
    """.replace("{SW}", _sql_set_count(X.EN_STOPWORDS)),
)
def d10(spark, sf):
    """Composite quality score in [0,1] (native stand-in for a learned
    quality model); word stats from the shared Arrow struct."""
    from datacurator_jl_spark.functions.arrow_stats import token_stats_arrow

    d = _t(spark, sf, "documents")
    t = F.col("text")
    d = d.withColumn("_s", token_stats_arrow(t))
    return d.select(
        "doc_id",
        F.round(X.quality_score(t, F.col("_s")), 6).alias("quality"),
    )


@_q(
    "q11_grouped_collect",
    """
    SELECT l_orderkey,
           array_to_string(list(l_linenumber
               ORDER BY l_linenumber, round(l_quantity, 4)), ',') AS lines,
           array_to_string(list(round(l_quantity, 4)
               ORDER BY l_linenumber, round(l_quantity, 4)), ',') AS quantities
    FROM lineitem GROUP BY l_orderkey
    """,
)
def q11(spark, sf):
    """Grouped ordered collect — the reference's prefix-stack pattern
    (sort_stack / stack_images_by_prefix, src/DataCurator.jl:2806-2851:
    group by prefix, order by trailing integer, stack per group).
    sort_array(collect_list(struct(order_key, payload))) keeps the
    aggregation a single shuffle with deterministic element order.
    Arrays serialized to csv strings for engine-neutral value comparison.
    """
    li = _t(spark, sf, "lineitem")
    pairs = F.sort_array(
        F.collect_list(
            F.struct(
                F.col("l_linenumber").alias("ln"),
                F.round("l_quantity", 4).alias("q"),
            )
        )
    )
    return (
        li.groupBy("l_orderkey")
        .agg(pairs.alias("_p"))
        .select(
            "l_orderkey",
            F.array_join(
                F.transform(F.col("_p"), lambda s: s.getField("ln").cast("string")), ","
            ).alias("lines"),
            F.array_join(
                F.transform(F.col("_p"), lambda s: s.getField("q").cast("string")), ","
            ).alias("quantities"),
        )
    )


@_q(
    "q12_group_counts",
    """
    WITH c AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source)
    SELECT d.doc_id, d.source, c.n_docs,
           c.n_docs >= 20 AS source_has_20_docs
    FROM documents d JOIN c USING (source)
    """,
)
def q12(spark, sf):
    """Group-level predicates (reference has_n_files / n_files_or_more,
    src/DataCurator.jl:3251-3269): per-group counts via a map-side
    combinable groupBy, broadcast-joined back null-safely (round-6
    shape — the previous count-over-window buffered every row of a hot
    group in one task just to count it, the same anti-pattern
    _drop_over_cap replaced; the counts table is one row per group and
    broadcasts)."""
    d = _tn(spark, sf, "documents")
    counts = (
        d.groupBy(F.col("source").alias("_src"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    return (
        d.join(F.broadcast(counts), F.col("source").eqNullSafe(F.col("_src")))
        .select(
            "doc_id",
            "source",
            "n_docs",
            (F.col("n_docs") >= 20).alias("source_has_20_docs"),
        )
    )


@_q(
    "d11_drop_exact_dupes",
    """
    WITH r AS (
      SELECT doc_id, text,
             row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
      FROM documents
    )
    SELECT doc_id FROM r WHERE rn = 1
    """,
)
def d11(spark, sf):
    """Exact-dedup survivors: min-id representative per distinct text."""
    return DD.drop_exact_dupes(_tn(spark, sf, "documents"), "doc_id", "text").select(
        "doc_id"
    )


def _sql_minhash_nt(i: int) -> str:
    return (
        "list_min(list_transform(list_distinct(regexp_extract_all(lower(trim(text)), '[^ \\t\\n\\x0b\\f\\r]+')),"
        f" w -> ('0x' || substr(md5(w || '#{i}'), 1, 8))::BIGINT))"
    )


@_q(
    "d12_lsh_candidate_pairs",
    f"""
    WITH sig AS (
      SELECT doc_id, {', '.join(f'{_sql_minhash_nt(i)} AS mh{i}' for i in range(8))}
      FROM documents
    )
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND (
         (a.mh0 = b.mh0 AND a.mh1 = b.mh1) OR
         (a.mh2 = b.mh2 AND a.mh3 = b.mh3) OR
         (a.mh4 = b.mh4 AND a.mh5 = b.mh5) OR
         (a.mh6 = b.mh6 AND a.mh7 = b.mh7))
    """,
)
def d12(spark, sf):
    """MinHash-LSH candidate pairs (k=8, 4 bands x 2 rows). The Spark
    side buckets on hashed band keys (equi-join, the scale path); the
    oracle states the same pair set declaratively as band equality."""
    return DD.lsh_candidate_pairs(
        _t(spark, sf, "documents"), "doc_id", "text", k=8, bands=4
    )


_D37_EQ = " + ".join(
    f"(CASE WHEN a.mh{i} = b.mh{i} THEN 1 ELSE 0 END)" for i in range(8)
)


@_q(
    "d37_estimated_jaccard",
    f"""
    WITH sig AS (
      SELECT doc_id, {', '.join(f'{_sql_minhash_nt(i)} AS mh{i}' for i in range(8))}
      FROM documents
    )
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           round(({_D37_EQ})::DOUBLE / 8, 6) AS est_jaccard
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND (
         (a.mh0 = b.mh0 AND a.mh1 = b.mh1) OR
         (a.mh2 = b.mh2 AND a.mh3 = b.mh3) OR
         (a.mh4 = b.mh4 AND a.mh5 = b.mh5) OR
         (a.mh6 = b.mh6 AND a.mh7 = b.mh7))
    WHERE ({_D37_EQ})::DOUBLE / 8 >= 0.5
    """,
)
def d37(spark, sf):
    """LSH candidates scored by the minhash ESTIMATE (equal lanes / k):
    the 100-TB similarity path — the scoring join hydrates k bigints
    per doc, never the text or word sets
    (operators/dedup.estimate_jaccard_pairs)."""
    return DD.estimate_jaccard_pairs(
        _tn(spark, sf, "documents"), "doc_id", "text", k=8, bands=4,
        threshold=0.5,
    )


@_q(
    "q14_skew_safe_counts",
    """
    SELECT source, count(*)::BIGINT AS n, max(n_chars)::BIGINT AS max_chars
    FROM documents GROUP BY source
    """,
)
def q14(spark, sf):
    """Skew-safe two-phase aggregation (salted partials then merge) —
    value-identical to a plain groupBy, but no single task ever owns a
    mega-key (operators/skew.py; the north rule's explicit skew
    handling)."""
    from datacurator_jl_spark.operators.skew import two_phase_agg

    d = _t(spark, sf, "documents")
    return two_phase_agg(
        d, "source", {"n": ("count", "doc_id"), "max_chars": ("max", "n_chars")}, salt=8
    )


@_q(
    "q13_star_join",
    """
    SELECT r.r_name AS region, count(*) AS n_customers,
           round(sum(c.c_acctbal), 4) AS total_acctbal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
)
def q13(spark, sf):
    """Star join with explicit broadcast of the small dims (the reference
    itself has NO joins — SURVEY.md §2.8 — but a complete engine needs
    them; the dims are broadcast so the fact table never shuffles)."""
    c = _t(spark, sf, "customer")
    n = _t(spark, sf, "nation")
    r = _t(spark, sf, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"))
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.sum("c_acctbal"), 4).alias("total_acctbal"),
        )
    )


@_q(
    "v04_json_props",
    """
    SELECT json_extract(props, '$.k')::BIGINT AS k_val, count(*) AS n
    FROM events GROUP BY 1
    """,
)
def v04(spark, sf):
    """JSON column extraction (semi-structured props field)."""
    ev = _t(spark, sf, "events")
    return (
        ev.select(F.get_json_object("props", "$.k").cast("bigint").alias("k_val"))
        .groupBy("k_val")
        .agg(F.count("*").alias("n"))
    )


@_q(
    "v03_event_type_pivot",
    """
    SELECT user_id,
           count(*) FILTER (WHERE event_type = 'click')    AS click,
           count(*) FILTER (WHERE event_type = 'view')     AS view,
           count(*) FILTER (WHERE event_type = 'purchase') AS purchase
    FROM events GROUP BY user_id
    """,
)
def v03(spark, sf):
    """Pivoted per-user event counts (explicit pivot values keep the plan
    a single hash aggregate — no second pass to discover columns)."""
    ev = _t(spark, sf, "events")
    return (
        ev.groupBy("user_id")
        .pivot("event_type", ["click", "view", "purchase"])
        .count()
        .na.fill(0, ["click", "view", "purchase"])
    )


@_q(
    "d13_perplexity_proxy",
    """
    WITH f AS (
      SELECT doc_id,
        {SW}::DOUBLE / len(regexp_extract_all(trim(text), '[^ \\t\\n\\x0b\\f\\r]+')) AS sw,
        length(translate(text, E' \\t\\n\\x0b\\x0c\\r', ''))::DOUBLE
          / len(regexp_extract_all(trim(text), '[^ \\t\\n\\x0b\\f\\r]+')) AS mwl,
        len(list_distinct(regexp_extract_all(lower(trim(text)), '[^ \\t\\n\\x0b\\f\\r]+')))::DOUBLE
          / len(regexp_extract_all(trim(text), '[^ \\t\\n\\x0b\\f\\r]+')) AS rep,
        length(translate(text,
          'abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789'
          || E' \\t\\n\\x0b\\x0c\\r' || '.,;:''"!?()-', ''))::DOUBLE
          / length(text) AS sym
      FROM documents
    )
    SELECT doc_id,
      round(abs(mwl - 4.5) / 4.5 + (1.0 - rep) + 4.0 * sym
            + greatest(0.0, 0.25 - sw) * 8.0, 6) AS ppl
    FROM f
    """.replace("{SW}", _sql_set_count(X.EN_STOPWORDS)),
)
def d13(spark, sf):
    """Deterministic perplexity proxy (KenLM stand-in); word stats from
    the shared Arrow struct."""
    from datacurator_jl_spark.functions.arrow_stats import token_stats_arrow

    d = _t(spark, sf, "documents")
    t = F.col("text")
    d = d.withColumn("_s", token_stats_arrow(t))
    return d.select(
        "doc_id",
        F.round(X.perplexity_proxy(t, F.col("_s")), 6).alias("ppl"),
    )


# ---------------------------------------------------------------------------
# Embeddings: similarity search
# ---------------------------------------------------------------------------

_NEARDUP_SQL = """
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_dot_product(a.v, b.v) /
             (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS sim
FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE round(list_dot_product(a.v, b.v) /
            (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.35
"""


@_q("e03_embedding_near_dup", _NEARDUP_SQL)
def e03(spark, sf):
    """Embedding-cosine near-duplicate pairs, blocked by the cluster
    label (the IVF idea applied to dedup: only intra-cluster pairs are
    candidates, so pair count is O(sum cluster²) not O(n²))."""
    from datacurator_jl_spark.operators.similarity import cosine

    e = _t(spark, sf, "embeddings").select("vec_id", "label", "embedding")
    a, b = e.alias("a"), e.alias("b")
    sim = F.round(cosine(F.col("a.embedding"), F.col("b.embedding")), 6)
    return (
        a.join(b, (F.col("a.label") == F.col("b.label")) & (F.col("a.vec_id") < F.col("b.vec_id")))
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            sim.alias("sim"),
        )
        .filter(F.col("sim") >= 0.35)
    )


_COS_SQL = """
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 10),
c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
s AS (
  SELECT query_id, neighbor_id,
         round(list_dot_product(qv, cv) /
               (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 6) AS sim
  FROM q, c WHERE query_id <> neighbor_id
),
r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank FROM s)
SELECT query_id, neighbor_id, rank, sim FROM r WHERE rank <= 5
"""


@_q("e01_cosine_topk", _COS_SQL)
def e01(spark, sf):
    """Brute-force cosine top-5 for query vectors vec_id<10: broadcast
    cross join + native array fold + windowed top-k."""
    emb = _tn(spark, sf, "embeddings")
    return SIM.cosine_topk(emb, emb.filter(F.col("vec_id") < 10), k=5)


_IVF_SQL = """
WITH cent AS (
  SELECT label, list_transform(
           list_sort(list(struct_pack(pos := u.pos, m := u.m))), s -> s.m) AS centroid
  FROM (
    SELECT label, pos, avg(val) AS m
    FROM (SELECT label, unnest(embedding::DOUBLE[]) AS val,
                 generate_subscripts(embedding, 1) AS pos
          FROM embeddings) t
    GROUP BY label, pos
  ) u GROUP BY label
),
q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 10),
probe AS (
  SELECT query_id, qv, label FROM (
    SELECT q.query_id, q.qv, cent.label,
           row_number() OVER (PARTITION BY q.query_id ORDER BY
             round(list_dot_product(q.qv, cent.centroid) /
               (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(cent.centroid, cent.centroid))), 6) DESC,
             cent.label ASC) AS prank
    FROM q, cent
  ) WHERE prank <= 1
),
s AS (
  SELECT p.query_id, e.vec_id AS neighbor_id,
         round(list_dot_product(p.qv, e.embedding::DOUBLE[]) /
               (sqrt(list_dot_product(p.qv, p.qv)) *
                sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))), 6) AS sim
  FROM probe p JOIN embeddings e ON e.label = p.label
  WHERE e.vec_id <> p.query_id
),
r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank FROM s)
SELECT query_id, neighbor_id, rank, sim FROM r WHERE rank <= 5
"""


@_q("e02_ivf_topk", _IVF_SQL)
def e02(spark, sf):
    """IVF-bucketed ANN (scale path): probe the nearest label-cluster
    centroid only, exact search within it."""
    emb = _tn(spark, sf, "embeddings")
    return SIM.ivf_topk(
        emb, emb.filter(F.col("vec_id") < 10), cluster_col="label", k=5, nprobe=1
    )


# ---------------------------------------------------------------------------
# Events: windowed rollups
# ---------------------------------------------------------------------------


@_q(
    "v01_hourly_rollup",
    """
    SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
           event_type,
           count(*) AS n,
           round(sum(value), 4) AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def v01(spark, sf):
    """Tumbling-window rollup (batch form of the streaming aggregation;
    streaming/ wraps the same expression over readStream)."""
    ev = _tn(spark, sf, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("total_value"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
            "n",
            "total_value",
        )
    )


@_q(
    "v02_user_sessions",
    """
    WITH g AS (
      SELECT user_id, ts,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL '30 minutes' OR
                       lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
    )
    SELECT user_id, sum(new_sess)::BIGINT AS n_sessions, count(*) AS n_events
    FROM g GROUP BY user_id
    """,
)
def v02(spark, sf):
    """Sessionization via gap detection (30-min inactivity): windowed lag
    + conditional sum — the batch analogue of session windows."""
    ev = _tn(spark, sf, "events")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # parquet timestamps load as TIMESTAMP_NTZ; go through timestamp to
    # get epoch seconds (session TZ pinned to UTC so this is stable)
    epoch = F.col("ts").cast("timestamp").cast("long")
    prev = F.lag(epoch).over(w)
    new_sess = F.when(prev.isNull() | (epoch - prev > 30 * 60), 1).otherwise(0)
    return (
        ev.withColumn("new_sess", new_sess)
        .groupBy("user_id")
        .agg(F.sum("new_sess").alias("n_sessions"), F.count("*").alias("n_events"))
    )


# ---------------------------------------------------------------------------
# Numeric name-extraction recipe surface (reference `extract` special form +
# read_int family, src/DataCurator.jl:2341-2402, 3290-3302)
# ---------------------------------------------------------------------------


@_q(
    "q15_extract_ints",
    """
    SELECT doc_id,
      CASE WHEN regexp_extract(source, '([0-9]+)$', 1) <> ''
            AND regexp_extract(source, '([0-9]+)$', 1)::BIGINT >= 10
           THEN regexp_extract(source, '([0-9]+)$', 1)::BIGINT END AS src_num,
      true AS keep
    FROM documents
    """,
)
def q15(spark, sf):
    """Recipe-driven numeric extraction: condition-with-comparator
    (``["read_postfix_int", ">=", 10]``) gates an ``extract`` action that
    derives a new column from the node name — the reference's `extract`
    special form (src/DataCurator.jl:2341-2402) as a recipe surface."""
    from datacurator_jl_spark.engine import Pipeline
    from datacurator_jl_spark.recipe import parse_recipe

    spec = parse_recipe(
        {
            "global": {"act_on_success": True, "name_col": "source", "text_col": "text"},
            "any": {
                "conditions": [["read_postfix_int", ">=", 10], "always"],
                "actions": [["extract", "read_postfix_int", "src_num"], "keep"],
            },
        }
    )
    res = Pipeline(spec).apply(_t(spark, sf, "documents"))
    return res.df.select("doc_id", "src_num", F.col("dc_kept").alias("keep"))


@_q(
    "q16_aggregator_describe",
    """
    WITH s AS (
      SELECT avg(n_chars) AS mu, min(n_chars) AS mn, max(n_chars) AS mx,
             stddev_samp(n_chars) AS sd,
             quantile_cont(n_chars, 0.25) AS q1,
             quantile_cont(n_chars, 0.5)  AS md,
             quantile_cont(n_chars, 0.75) AS q3,
             avg(pow(n_chars, 2)) AS m2r, avg(pow(n_chars, 3)) AS m3r,
             avg(pow(n_chars, 4)) AS m4r
      FROM documents WHERE n_chars >= 200
    )
    SELECT round(mn, 4) AS minimum, round(q1, 4) AS q1, round(mu, 4) AS mean,
           round(md, 4) AS median, round(q3, 4) AS q3, round(mx, 4) AS maximum,
           round(sd, 4) AS std,
           round((m4r - 4*mu*m3r + 6*mu*mu*m2r - 3*pow(mu,4))
                 / pow(m2r - mu*mu, 2) - 3.0, 4) AS kurtosis
    FROM s
    """,
)
def q16(spark, sf):
    """General aggregator chain (reference decode_aggregator,
    src/DataCurator.jl:1687-1740; demo.toml's describe-and-concat): a
    recipe tags rows into a file list, whose aggregator is an arbitrary
    chain of registered DataFrame stages — here
    ``extract_columns -> describe_column -> concat_to_table``."""
    from datacurator_jl_spark.engine import Pipeline
    from datacurator_jl_spark.recipe import parse_recipe
    from datacurator_jl_spark.sinks import run_aggregator_chain

    spec = parse_recipe(
        {
            "global": {
                "act_on_success": True,
                "name_col": "doc_id",
                "text_col": "text",
                "file_lists": [
                    {
                        "name": "stats",
                        "aggregator": [
                            ["extract_columns", "n_chars"],
                            ["describe_column", "n_chars"],
                            "concat_to_table",
                        ],
                    }
                ],
            },
            "any": {
                "conditions": [["col", "n_chars", ">=", 200]],
                "actions": [["add_to_file_list", "stats"]],
            },
        }
    )
    res = Pipeline(spec).apply(_t(spark, sf, "documents"))
    out, _sink = run_aggregator_chain(
        res.file_list("stats"), res.spec.file_lists["stats"]["aggregator"]
    )
    return out


_D14_EDGES = f"""
    sig AS (
      SELECT doc_id, {', '.join(f'{_sql_minhash_nt(i)} AS mh{i}' for i in range(8))}
      FROM documents
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND (
           (a.mh0 = b.mh0 AND a.mh1 = b.mh1) OR
           (a.mh2 = b.mh2 AND a.mh3 = b.mh3) OR
           (a.mh4 = b.mh4 AND a.mh5 = b.mh5) OR
           (a.mh6 = b.mh6 AND a.mh7 = b.mh7))
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL SELECT id_b, id_a FROM pairs
    ),
    lab(doc, comp) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.src, l.comp FROM lab l JOIN edges e ON e.dst = l.doc
    )
"""


@_q(
    "d14_near_dup_components",
    "WITH RECURSIVE " + _D14_EDGES + """
    SELECT doc, min(comp) AS comp FROM lab GROUP BY doc
    """,
)
def d14(spark, sf):
    """Near-dup clustering: connected components over the LSH pair graph
    via iterative min-label propagation (fixpoint). The oracle states the
    same fixpoint declaratively as a recursive reachability CTE — both
    converge to comp = min doc id per component."""
    return DD.near_dup_components(_t(spark, sf, "documents"), "doc_id", "text")


_D15_EDGES = f"""
    sig AS (
      SELECT doc_id, {', '.join(f'{_sql_minhash_nt(i)} AS mh{i}' for i in range(8))}
      FROM documents
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND (
           (a.mh0 = b.mh0 AND a.mh1 = b.mh1 AND a.mh2 = b.mh2 AND a.mh3 = b.mh3) OR
           (a.mh4 = b.mh4 AND a.mh5 = b.mh5 AND a.mh6 = b.mh6 AND a.mh7 = b.mh7))
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL SELECT id_b, id_a FROM pairs
    ),
    lab(doc, comp) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.src, l.comp FROM lab l JOIN edges e ON e.dst = l.doc
    )
"""


@_q(
    "d15_near_dup_survivors",
    "WITH RECURSIVE " + _D15_EDGES + """
    , comp AS (SELECT doc, min(comp) AS comp FROM lab GROUP BY doc)
    SELECT d.doc_id, d.source FROM documents d
    JOIN comp c ON c.doc = d.doc_id AND c.comp = d.doc_id
    """,
)
def d15(spark, sf):
    """Near-dedup keep-set: one representative (component-min doc) per
    near-dup cluster — the operator a 100 TB curation pipeline actually
    runs (pairs -> components -> left-semi filter). Stricter banding than
    d14 (2 bands x 4 rows ~ higher similarity threshold) so the survivor
    set is non-degenerate on the template-heavy synthetic corpus."""
    return DD.drop_near_dupes(
        _t(spark, sf, "documents"), "doc_id", "text", k=8, bands=2
    ).select("doc_id", "source")


_D28_EDGES = f"""
    sig AS (
      SELECT doc_id, {', '.join(f'{_sql_minhash_nt(i)} AS mh{i}' for i in range(8))}
      FROM documents
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sig a JOIN sig b ON a.doc_id < b.doc_id
       AND NOT (a.doc_id % 2 = 0 AND b.doc_id % 2 = 0)
       AND (
           (a.mh0 = b.mh0 AND a.mh1 = b.mh1 AND a.mh2 = b.mh2 AND a.mh3 = b.mh3) OR
           (a.mh4 = b.mh4 AND a.mh5 = b.mh5 AND a.mh6 = b.mh6 AND a.mh7 = b.mh7))
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL SELECT id_b, id_a FROM pairs
    ),
    lab(doc, comp) AS (
      SELECT doc_id,
             CASE WHEN doc_id % 2 = 0 THEN doc_id
                  ELSE doc_id + 1000000000000000 END
      FROM documents
      UNION
      SELECT e.src, l.comp FROM lab l JOIN edges e ON e.dst = l.doc
    )
"""


@_q(
    "d28_incremental_dedup",
    "WITH RECURSIVE " + _D28_EDGES + """
    , comp AS (SELECT doc, min(comp) AS comp FROM lab GROUP BY doc)
    SELECT d.doc_id, d.source FROM documents d
    JOIN comp c ON c.doc = d.doc_id
    WHERE d.doc_id % 2 = 1 AND c.comp = d.doc_id + 1000000000000000
    """,
)
def d28(spark, sf):
    """Incremental ingest dedup: even-id docs play the already-curated
    corpus (represented ONLY by its persisted minhash signature table —
    no text re-shingling, base-base edges excluded), odd-id docs are the
    new batch; a new doc survives iff its component contains no base doc
    and it is the component-min new doc. The Spark side labels with
    (rank, id) structs so base always wins; the oracle encodes the same
    order as doc_id + 10^15 for new docs in a recursive reachability
    CTE. Same 2x4 banding as d15 (operators/dedup.py:
    incremental_near_dup_survivors scale notes)."""
    docs = _tn(spark, sf, "documents")
    base = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    base_sigs = DD.signature_table(base, "doc_id", "text", k=8)
    return DD.incremental_near_dup_survivors(
        new, base_sigs, "doc_id", "text", k=8, bands=2
    ).select("doc_id", "source")


@_q(
    "d29_blocklist",
    """
    SELECT d.doc_id, d.source FROM documents d
    ANTI JOIN (VALUES ('src1'), ('src7'), ('src12'), ('not-a-source'))
      AS b(domain) ON d.source = b.domain
    """,
)
def d29(spark, sf):
    """Domain blocklist filtering (RefinedWeb/C4 both start here): drop
    every doc whose source is on the list. Exercises the corpus-scale
    path — a one-column blocklist DataFrame broadcast into a left-anti
    join (no plan-embedded literal list, no UDF); the inline-isin form
    is the recipe-surface twin (name_not_in_list condition, pytest).
    Null sources never match a list and are kept, SQL IN semantics
    (operators/dataframe_ops.blocklist_filter)."""
    from datacurator_jl_spark.operators.dataframe_ops import blocklist_filter

    blocked = spark.createDataFrame(
        [("src1",), ("src7",), ("src12",), ("not-a-source",)], "domain string"
    )
    return blocklist_filter(
        _t(spark, sf, "documents"), "source", blocked
    ).select("doc_id", "source")


@_q(
    "d30_classifier_score",
    """
    WITH toks AS (
      SELECT doc_id,
             unnest(regexp_extract_all(lower(text), '[^ \\t\\n\\x0b\\f\\r]+')) AS tok
      FROM documents
    ),
    wt AS (
      SELECT doc_id,
             (('0x' || substr(md5('w' ||
                 ((('0x' || substr(md5(tok || '#qw1'), 1, 8))::BIGINT) % 65536)::VARCHAR
                 || '#qw1'), 1, 8))::BIGINT % 2001) - 1000 AS w
      FROM toks
    ),
    sc AS (
      SELECT doc_id, sum(w) / (1000.0 * count(*)) AS cls_score
      FROM wt GROUP BY doc_id
    )
    SELECT d.doc_id, sc.cls_score FROM documents d LEFT JOIN sc USING (doc_id)
    """,
)
def d30(spark, sf):
    """Hashed linear classifier score (FineWeb-Edu-style learned filter
    plumbing): tokens -> md5 bucket -> integer weight, score =
    sum / (1000.0 * n_tokens). Integer weights make the per-doc sum
    exact and order-free, and the single final double division is
    bit-identical across Spark/DuckDB/Python — the cross-engine trick
    that lets a learned-scoring path be oracle-checked at all. Runs the
    Arrow hot path (one vectorized stage, one md5 per batch-unique token);
    the DC_QUALITY_MODEL json seam is pinned in pytest
    (functions/classifier.py)."""
    from datacurator_jl_spark.functions.classifier import linear_score_arrow

    return _t(spark, sf, "documents").select(
        "doc_id", linear_score_arrow(F.col("text")).alias("cls_score")
    )


@_q(
    "d38_normalized_dedup",
    """
    WITH v AS (
      SELECT doc_id, text AS t FROM documents
      UNION ALL
      SELECT doc_id + 1000000, upper(text) || '  ' || chr(10)
      FROM documents
    ),
    r AS (
      SELECT doc_id,
             row_number() OVER (
               PARTITION BY md5(trim(regexp_replace(lower(t),
                                 '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g')))
               ORDER BY doc_id) AS rn
      FROM v
    )
    SELECT doc_id FROM r WHERE rn = 1
    """,
)
def d38(spark, sf):
    """CCNet-style normalized exact dedup: casefold + whitespace-run
    collapse + trim BEFORE hashing, so near-identical re-encodings
    collapse without paying for minhash. Both engines UNION an
    uppercased, whitespace-padded VARIANT of every doc (id + 10^6), so
    every pair MUST collapse to its min-id original: raw exact dedup
    would keep all 2n rows, and a broken lower()/collapse step makes
    the twins disagree (the oracle is discriminating, not vacuous).
    Composition of the pinned normalize_whitespace transform and
    drop_exact_dupes; the DuckDB twin spells the whitespace class
    explicitly per the RE2 rule."""
    from datacurator_jl_spark.functions.transforms import normalize_whitespace

    docs = _tn(spark, sf, "documents")
    v = docs.select("doc_id", F.col("text").alias("_t")).unionAll(
        docs.select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.concat(F.upper(F.col("text")), F.lit("  \n")).alias("_t"),
        )
    )
    d = v.withColumn("_norm", normalize_whitespace(F.lower(F.col("_t"))))
    return DD.drop_exact_dupes(d, "doc_id", "_norm").select("doc_id")


def _d39_sql() -> str:
    from datacurator_jl_spark.functions.urls import canonical_url_sql

    messy = (
        "'HTTP://Host' || (doc_id % 40)::VARCHAR || "
        "'.COM:80/page/' || (doc_id % 100)::VARCHAR || '?utm_source=x'"
    )
    return f"""
    WITH c AS (SELECT doc_id, {canonical_url_sql(messy)} AS canon FROM documents),
    r AS (
      SELECT doc_id, canon,
             row_number() OVER (PARTITION BY canon ORDER BY doc_id) AS rn
      FROM c
    )
    SELECT doc_id, canon FROM r WHERE rn = 1
    """


@_q("d39_url_dedup", _d39_sql())
def d39(spark, sf):
    """URL-keyed dedup over CANONICAL forms: the same page crawled as
    HTTP://Host.COM:80/...?utm_source=x and http://host.com/... is one
    key. Both engines synthesize colliding messy URLs from doc fields
    (40 hosts x 100 pages -> heavy collision), canonicalize, and keep
    the min-id winner — composition of canonical_url + drop_exact_dupes."""
    from datacurator_jl_spark.functions.urls import canonical_url

    messy = F.concat(
        F.lit("HTTP://Host"),
        (F.col("doc_id") % 40).cast("string"),
        F.lit(".COM:80/page/"),
        (F.col("doc_id") % 100).cast("string"),
        F.lit("?utm_source=x"),
    )
    d = _tn(spark, sf, "documents").withColumn("canon", canonical_url(messy))
    return DD.drop_exact_dupes(d, "doc_id", "canon").select("doc_id", "canon")


def _d33_sql() -> str:
    from datacurator_jl_spark.functions.urls import canonical_url_sql

    messy = (
        "'HTTP://WWW.' || upper(source) || '.COM:80/Docs/' || doc_id || "
        "'/?utm_source=feed&utm_campaign=x&id=' || doc_id || "
        "'&fbclid=abc#section-' || (doc_id % 7)"
    )
    return f"SELECT doc_id, {canonical_url_sql(messy)} AS canon FROM documents"


@_q("d33_canonical_url", _d33_sql())
def d33(spark, sf):
    """URL canonicalization (the normalizer URL-keyed dedup/caps stand
    on): lowercase scheme+host, default ports stripped, fragments and
    utm_*/gclid/fbclid/msclkid params dropped, separators healed,
    trailing slash removed — one pinned pass sequence in conservative
    regex syntax shared by Java/RE2/Python (functions/urls.py). Both
    engines build the same messy URL from doc fields and must emit the
    identical canonical form."""
    from datacurator_jl_spark.functions.urls import canonical_url

    messy = F.concat(
        F.lit("HTTP://WWW."),
        F.upper(F.col("source")),
        F.lit(".COM:80/Docs/"),
        F.col("doc_id"),
        F.lit("/?utm_source=feed&utm_campaign=x&id="),
        F.col("doc_id"),
        F.lit("&fbclid=abc#section-"),
        F.col("doc_id") % 7,
    )
    return _t(spark, sf, "documents").select(
        "doc_id", canonical_url(messy).alias("canon")
    )


@_q(
    "d34_corpus_report",
    """
    SELECT source,
           count(*) AS n_docs,
           sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_null_text,
           sum(coalesce(len(text), 0))::BIGINT AS total_chars,
           sum(coalesce(len(regexp_extract_all(text, '[^ \\t\\n\\x0b\\f\\r]+')), 0))::BIGINT
               AS total_tokens,
           round(sum(coalesce(len(regexp_extract_all(text, '[^ \\t\\n\\x0b\\f\\r]+')), 0))::DOUBLE
                 / greatest(count(text), 1), 6) AS mean_tokens,
           round(1.0 - count(DISTINCT text)::DOUBLE / greatest(count(text), 1), 6)
               AS dup_rate
    FROM documents GROUP BY source
    """,
)
def d34(spark, sf):
    """Per-source curation dashboard: doc/null counts, char+token
    totals, mean tokens, exact-dup rate — ONE hash aggregate with
    map-side partial combine (operators/report.corpus_report)."""
    from datacurator_jl_spark.operators.report import corpus_report

    return corpus_report(_tn(spark, sf, "documents"), "source", "text")


@_q(
    "d35_top_terms",
    """
    WITH t AS (
      SELECT source,
             unnest(regexp_extract_all(lower(text), '[^ \\t\\n\\x0b\\f\\r]+')) AS term
      FROM documents
    ),
    c AS (SELECT source, term, count(*) AS n FROM t GROUP BY source, term),
    r AS (
      SELECT source, term, n,
             row_number() OVER (PARTITION BY source ORDER BY n DESC, term) AS rank
      FROM c
    )
    SELECT source, term, n, rank FROM r WHERE rank <= 5
    """,
)
def d35(spark, sf):
    """Top-5 terms per source (vocab inspection): token unnest -> one
    partial-combinable count aggregate (Zipf-head terms collapse per
    input partition) -> top-k window over the SMALL aggregated term
    table, deterministic tie-break (operators/report.top_terms)."""
    from datacurator_jl_spark.operators.report import top_terms

    return top_terms(_tn(spark, sf, "documents"), "text", 5, group_col="source")


@_q("d36_compression_ratio")  # no oracle_sql: SQL has no DEFLATE —
# the driver records the rows-only check (the honest classification for
# a non-SQL-expressible op); bit-identity vs the per-row Python twin is
# pinned in pytest instead (test_classifier-style battery).
def d36(spark, sf):
    """zlib compression ratio (repetition/entropy proxy, Gopher-family):
    one Arrow-batched narrow projection, no shuffle; empty/null text ->
    null (functions/compress.py)."""
    from datacurator_jl_spark.functions.compress import compression_ratio_arrow

    return _tn(spark, sf, "documents").select(
        "doc_id", compression_ratio_arrow(F.col("text")).alias("comp_ratio")
    )


@_q(
    "d16_hash_sample",
    """
    SELECT doc_id, source FROM documents
    WHERE ('0x' || substr(md5(doc_id::VARCHAR || '#corpus_v1'), 1, 8))::BIGINT
          % 10000 < 2500
    """,
)
def d16(spark, sf):
    """Deterministic hash sampling (25%): reproducible subcorpus
    selection as a pure key-hash filter — restart/engine-stable, unlike
    rand()-based df.sample(); pushdown-friendly, no shuffle."""
    return DO.hash_sample(
        _tn(spark, sf, "documents"), "doc_id", 0.25, salt="corpus_v1"
    ).select("doc_id", "source")


# ---------------------------------------------------------------------------
# SRP-LSH embedding near-dup (signed random projections): the bucketed
# embedding analogue of MinHash-LSH, no precomputed cluster labels needed.
# The DuckDB twin inlines the IDENTICAL seeded hyperplane matrix as
# literals; dots are rounded to 6dp before the sign in both engines so
# float summation-order ulps cannot flip a bit.
# ---------------------------------------------------------------------------

_SRP_DIM, _SRP_BITS, _SRP_SEED = 64, 16, 7


def _srp_sig_sql() -> str:
    from datacurator_jl_spark.operators.similarity import srp_planes

    planes = srp_planes(_SRP_DIM, _SRP_BITS, _SRP_SEED)
    terms = []
    for j in range(_SRP_BITS):
        lits = ", ".join(repr(float(x)) for x in planes[:, j])
        terms.append(
            f"CASE WHEN round(list_dot_product(embedding::DOUBLE[], "
            f"[{lits}]::DOUBLE[]), 6) > 0 THEN {1 << j} ELSE 0 END"
        )
    sig = " + ".join(terms)
    # null/ragged -> NULL (no projection); a legitimate all-nonpositive
    # projection keeps its signature 0 (similarity.srp_signature round-4)
    return (
        "SELECT vec_id, (CASE WHEN embedding IS NULL OR len(embedding) != "
        f"{_SRP_DIM} THEN NULL ELSE {sig} END)::BIGINT AS srp_sig FROM embeddings"
    )


ORACLES_E04 = _srp_sig_sql()


@_q("e04_srp_signature", ORACLES_E04)
def e04(spark, sf):
    """16-bit signed-random-projection signature per embedding: one
    Arrow-batched float64 BLAS matmul per batch (the per-row projection
    scale path; a per-bit HOF fold would be 16 interpreted passes)."""
    from datacurator_jl_spark.operators.similarity import srp_signature

    return srp_signature(
        _t(spark, sf, "embeddings"), "embedding", _SRP_DIM, _SRP_BITS, _SRP_SEED
    ).select("vec_id", "srp_sig")


@_q(
    "e05_srp_near_dup_pairs",
    # sig0 is e04 verbatim; sig drops NULL-signature rows (null/ragged
    # embeddings carry no projection info -> no candidacy, mirroring the
    # MinHash null-lane rule pinned in lsh_candidate_pairs).
    "WITH sig0 AS (" + ORACLES_E04 + """),
    sig AS (SELECT * FROM sig0 WHERE srp_sig IS NOT NULL)
    SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
           bit_count(xor(a.srp_sig, b.srp_sig))::INT AS hamming
    FROM sig a JOIN sig b ON a.vec_id < b.vec_id AND (
         ((a.srp_sig >> 0)  & 15) = ((b.srp_sig >> 0)  & 15) OR
         ((a.srp_sig >> 4)  & 15) = ((b.srp_sig >> 4)  & 15) OR
         ((a.srp_sig >> 8)  & 15) = ((b.srp_sig >> 8)  & 15) OR
         ((a.srp_sig >> 12) & 15) = ((b.srp_sig >> 12) & 15))
    WHERE bit_count(xor(a.srp_sig, b.srp_sig)) <= 3
    """,
)
def e05(spark, sf):
    """Embedding near-dup candidates via SRP-LSH banding (4 bands x 4
    bits) + full-signature Hamming filter — candidate generation is an
    equi-join on band keys (the LSH scale path), never an all-pairs
    product. No cluster labels required (cf. e03)."""
    from datacurator_jl_spark.operators.similarity import srp_near_dup_pairs

    return srp_near_dup_pairs(
        _tn(spark, sf, "embeddings"), "vec_id", "embedding",
        _SRP_DIM, _SRP_BITS, bands=4, seed=_SRP_SEED, max_hamming=3,
    ).select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))


@_q(
    "e06_srp_capped_pairs",
    # The round-4 skew guard as pinned cross-engine semantics: (band,
    # val) buckets larger than max_bucket=30 are dropped BEFORE the
    # self-join (at sf0.01 the largest bucket holds 53 rows, so the cap
    # BINDS — this row proves the drop semantics match, not just that
    # the cap is inert at test scale).
    "WITH sig0 AS (" + ORACLES_E04 + """),
    sig AS (SELECT * FROM sig0 WHERE srp_sig IS NOT NULL),
    b AS (
      SELECT vec_id, srp_sig, x.band,
             (srp_sig >> (x.band * 4)) & 15 AS val
      FROM sig, (SELECT unnest(range(4)) AS band) x),
    capped AS (
      SELECT * FROM b
      QUALIFY count(*) OVER (PARTITION BY band, val) <= 30)
    SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
           bit_count(xor(a.srp_sig, b.srp_sig))::INT AS hamming
    FROM capped a JOIN capped b
      ON a.band = b.band AND a.val = b.val AND a.vec_id < b.vec_id
    WHERE bit_count(xor(a.srp_sig, b.srp_sig)) <= 3
    """,
)
def e06(spark, sf):
    """e05 with the round-4 ``max_bucket`` skew guard BINDING: degenerate
    (band, val) buckets above the cap are dropped wholesale before the
    self-join — the guard that bounds the Σ bucket² pair blow-up on a
    hot SRP bucket (see scripts/bench_skew.py for the mega-bucket
    measurement). Oracle mirrors the window-count drop."""
    from datacurator_jl_spark.operators.similarity import srp_near_dup_pairs

    return srp_near_dup_pairs(
        _tn(spark, sf, "embeddings"), "vec_id", "embedding",
        _SRP_DIM, _SRP_BITS, bands=4, seed=_SRP_SEED, max_hamming=3,
        max_bucket=30,
    ).select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))


@_q(
    "d17_line_ratios",
    r"""
    WITH l AS (
      SELECT doc_id, str_split(text, chr(10)) AS lines FROM documents
    )
    SELECT doc_id,
      CASE WHEN len(lines) > 0 THEN
        round(len(list_filter(lines, x -> regexp_matches(x, '\.\.\.[ \t\x0b\f\r]*$')))::DOUBLE
              / len(lines), 6) ELSE 0.0 END AS ellipsis_ratio,
      CASE WHEN len(lines) > 0 THEN
        round(len(list_filter(lines, x -> regexp_matches(x, '^[ \t\x0b\f\r]*[-*•●▪]')))::DOUBLE
              / len(lines), 6) ELSE 0.0 END AS bullet_ratio,
      CASE WHEN len(list_filter(lines, x -> regexp_matches(x, '[^ \t\n\x0b\f\r]'))) > 0 THEN
        round(len(list_filter(lines, x -> regexp_matches(x, '[^ \t\n\x0b\f\r]')
                                      AND regexp_matches(x, '[.!?"''][ \t\x0b\f\r]*$')))::DOUBLE
              / len(list_filter(lines, x -> regexp_matches(x, '[^ \t\n\x0b\f\r]'))), 6)
      ELSE 0.0 END AS terminal_punct_ratio
    FROM l
    """,
)
def d17(spark, sf):
    """C4/Gopher line-shape heuristics (ellipsis-line, bullet-line,
    terminal-punctuation ratios) — native array filters over the line
    split, whitespace-robust patterns pinned identical to the DuckDB
    list_filter twins."""
    d = _t(spark, sf, "documents")
    t = F.col("text")
    return d.select(
        "doc_id",
        F.round(X.ellipsis_line_ratio(t), 6).alias("ellipsis_ratio"),
        F.round(X.bullet_line_ratio(t), 6).alias("bullet_ratio"),
        F.round(X.terminal_punct_line_ratio(t), 6).alias("terminal_punct_ratio"),
    )


@_q(
    "q17_name_predicates",
    r"""
    SELECT doc_id,
      source LIKE 'src1%'                          AS p_starts,
      regexp_matches(source, '[0-9]$')             AS p_ends_int,
      regexp_matches(source, '[0-9]')              AS p_has_int,
      source = lower(source)                       AS p_is_lower,
      regexp_matches(source, '[ \t\n\x0b\f\r,]')   AS p_has_ws,
      CASE WHEN regexp_matches(lang, '[0-9]+')
           THEN regexp_extract(lang, '([0-9]+)', 1) <> '' ELSE false END AS p_lang_int
    FROM documents
    """,
)
def q17(spark, sf):
    """Name-predicate family (reference §2.4, src/DataCurator.jl:3161-3302)
    oracle-checked as boolean columns over the node name: startswith,
    ends_with_integer, contains_integer, is_lower, has_whitespace, and
    read_int-nullability — all native, all pushdown-friendly."""
    from datacurator_jl_spark.functions import predicates as P

    d = _t(spark, sf, "documents")
    s = F.col("source")
    return d.select(
        "doc_id",
        P.startswith(s, "src1").alias("p_starts"),
        P.ends_with_integer(s).alias("p_ends_int"),
        P.contains_integer(s).alias("p_has_int"),
        P.is_lower(s).alias("p_is_lower"),
        P.has_whitespace(s).alias("p_has_ws"),
        F.coalesce(P.read_int(F.col("lang")).isNotNull(), F.lit(False)).alias("p_lang_int"),
    )


@_q(
    "v05_domain_quota",
    """
    SELECT source, doc_id FROM (
      SELECT source, doc_id,
             row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
      FROM documents
    ) WHERE rn <= 20
    """,
)
def v05(spark, sf):
    """Per-domain admission quota (training-data diversity control):
    deterministic batch twin of the applyInPandasWithState streaming
    operator — first `quota` docs per domain by doc_id. Output per
    domain capped at quota, so the window shuffle is skew-bounded."""
    from datacurator_jl_spark.streaming.stream import domain_quota_batch

    return domain_quota_batch(
        _tn(spark, sf, "documents"), 20, "source", "doc_id"
    ).select("source", "doc_id")


@_q(
    "q18_hierarchical_levels",
    """
    SELECT doc_id,
      CASE WHEN doc_id % 2 = 0
           THEN length(text) >= 150   -- level 0 rule
           ELSE length(text) >= 300   -- level 1 rule
      END AS keep,
      CASE WHEN doc_id % 2 = 0
           THEN CASE WHEN length(text) >= 150 THEN 'level_0:0:min_length'
                     ELSE 'level_0:0:min_length' END
           ELSE 'level_1:0:min_length'
      END AS rule_id
    FROM documents WHERE text IS NOT NULL
    """,
)
def q18(spark, sf):
    """Hierarchical level dispatch (reference Dict level->rules,
    src/DataCurator.jl:4194-4218): per-row integer `level` selects which
    rule chain evaluates — compiled as a level-keyed merge of decision
    chains in ONE projection (no per-level scans)."""
    from datacurator_jl_spark.engine import Pipeline
    from datacurator_jl_spark.recipe import parse_recipe

    spec = parse_recipe(
        {
            "global": {
                "act_on_success": True,
                "hierarchical": True,
                "name_col": "doc_id",
                "text_col": "text",
            },
            "level_0": {
                "conditions": [["min_length", 150]],
                "actions": ["keep"],
                "counter_actions": ["drop"],
            },
            "level_1": {
                "conditions": [["min_length", 300]],
                "actions": ["keep"],
                "counter_actions": ["drop"],
            },
        }
    )
    d = (
        _t(spark, sf, "documents")
        .filter(F.col("text").isNotNull())
        .withColumn("level", (F.col("doc_id") % 2).cast("int"))
    )
    res = Pipeline(spec).apply(d)
    return res.df.select(
        "doc_id", F.col("dc_kept").alias("keep"), F.col("dc_rule_id").alias("rule_id")
    )


def _d18_sql() -> str:
    from datacurator_jl_spark.functions.scrub import SCRUB_RULES

    pii = "|".join(f"({p})" for _n, p, _r in SCRUB_RULES)
    nws = r"[^ \t\n\x0b\f\r]"
    ws = r"[ \t\n\x0b\f\r]"
    return f"""
    WITH f AS (
      SELECT doc_id, text,
             len(regexp_extract_all(text, '{nws}+')) AS nw,
             length(regexp_replace(text, '{ws}', '', 'g')) AS nonws,
             {_sql_lang_scores()}
      FROM documents
    )
    SELECT doc_id,
      CASE WHEN nw > 0 THEN nonws::DOUBLE / nw END > 2.0
        AND CASE WHEN nw > 0 THEN nonws::DOUBLE / nw END < 12.0 AS mwl_ok,
      (CASE WHEN nw > 0 THEN
         list_max(list_transform(regexp_extract_all(text, '{nws}+'), x -> length(x)))
       ELSE 0 END) < 25 AS maxw_ok,
      greatest(s_en, s_de, s_fr, s_es, s_it, s_zh) >= 2 AS lang_ok,
      regexp_matches(text, '{pii}') AS has_pii
    FROM f
    """


@_q(
    "d19_jaccard_lsh_prefilter",
    f"""
    WITH sig AS (
      SELECT doc_id, {', '.join(f'{_sql_minhash_nt(i)} AS mh{i}' for i in range(8))}
      FROM documents
    ),
    w AS (
      SELECT doc_id, source,
             list_distinct(list_transform(regexp_extract_all(lower(text), '[^ \\t\\n\\x0b\\f\\r]+'),
                           x -> ('0x' || substr(md5(x), 1, 8))::BIGINT)) AS ws
      FROM documents
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(len(list_intersect(a.ws, b.ws))::DOUBLE /
                 (len(a.ws) + len(b.ws) - len(list_intersect(a.ws, b.ws))), 6) AS jaccard
    FROM w a
    JOIN w b ON a.source = b.source AND a.doc_id < b.doc_id
    JOIN sig sa ON sa.doc_id = a.doc_id
    JOIN sig sb ON sb.doc_id = b.doc_id
    WHERE ((sa.mh0 = sb.mh0 AND sa.mh1 = sb.mh1) OR
           (sa.mh2 = sb.mh2 AND sa.mh3 = sb.mh3) OR
           (sa.mh4 = sb.mh4 AND sa.mh5 = sb.mh5) OR
           (sa.mh6 = sb.mh6 AND sa.mh7 = sb.mh7))
      AND round(len(list_intersect(a.ws, b.ws))::DOUBLE /
                (len(a.ws) + len(b.ws) - len(list_intersect(a.ws, b.ws))), 6) >= 0.6
    """,
)
def d19(spark, sf):
    """Exact Jaccard restricted to MinHash-LSH candidates — the 100-TB
    near-dup scoring path (round-3): pair count bounded by LSH bucket
    sizes instead of Σ block², with exact similarities on the survivors.
    The oracle restates the prefilter declaratively as band equality."""
    return DD.ngram_jaccard_pairs(
        _t(spark, sf, "documents"), "doc_id", "text", "source",
        threshold=0.6, prefilter="lsh",
    )


@_q(
    "d20_jaccard_block_cap",
    """
    WITH ok AS (
      SELECT lang FROM documents GROUP BY lang HAVING count(*) <= 100
    ),
    w AS (
      SELECT doc_id, lang,
             list_distinct(list_transform(regexp_extract_all(lower(text), '[^ \\t\\n\\x0b\\f\\r]+'),
                           x -> ('0x' || substr(md5(x), 1, 8))::BIGINT)) AS ws
      FROM documents JOIN ok USING (lang)
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(len(list_intersect(a.ws, b.ws))::DOUBLE /
                 (len(a.ws) + len(b.ws) - len(list_intersect(a.ws, b.ws))), 6) AS jaccard
    FROM w a JOIN w b ON a.lang = b.lang AND a.doc_id < b.doc_id
    WHERE round(len(list_intersect(a.ws, b.ws))::DOUBLE /
                (len(a.ws) + len(b.ws) - len(list_intersect(a.ws, b.ws))), 6) >= 0.6
    """,
)
def d20(spark, sf):
    """Blocked Jaccard with the max_block skew cap live: blocking on
    ``lang`` makes the head block ('en', 218 docs at sf0.01) exceed the
    cap and drop — the degenerate-block guard semantics (same contract as
    lsh_candidate_pairs.max_bucket), oracle-stated as a HAVING filter.
    ``prefilter="none"`` pins the EXACT path: since round 5 the default
    "auto" is block-shape-aware and would route the over-cap block to
    LSH instead of dropping it (recall-preserving; pinned in
    tests/test_round3_features.test_auto_prefilter_is_block_shape_aware)."""
    return DD.ngram_jaccard_pairs(
        _t(spark, sf, "documents"), "doc_id", "text", "lang",
        threshold=0.6, max_block=100, prefilter="none",
    )


def _d21_sql() -> str:
    """DuckDB twin of functions/rep_stats.py over the synthesized
    multi-line corpus (the parquet docs are single-line; duplicating the
    first 40 chars as two extra paragraphs exercises every field with
    nonzero values on all three engines identically)."""
    from datacurator_jl_spark.functions.rep_stats import DUP_NS, TOP_NS

    gram_ctes = ",\n".join(
        f"""g{n} AS (
      SELECT doc_id, gram, count(*) AS cnt FROM (
        SELECT doc_id, unnest(list_transform(range(1, len(ws)-{n}+2),
                 i -> array_to_string(ws[i:i+{n}-1], ' '))) AS gram FROM w)
      GROUP BY doc_id, gram)"""
        for n in (*TOP_NS, *DUP_NS)
    )
    tops = ",\n".join(
        f"t{n} AS (SELECT doc_id, max(cnt*length(gram)) AS v FROM g{n} "
        f"WHERE cnt>=2 GROUP BY doc_id)"
        for n in TOP_NS
    )
    # (cnt-1)*len is 0 for cnt=1, so no filter is needed on the dup sums
    dups = ",\n".join(
        f"d{n}_ AS (SELECT doc_id, sum((cnt-1)*length(gram)) AS v FROM g{n} "
        f"WHERE cnt>=2 GROUP BY doc_id)"
        for n in DUP_NS
    )

    def part_cte(name: str, delim: str) -> str:
        return f"""{name} AS (
      SELECT doc_id, sum(cnt) AS np, sum(cnt)-count(*) AS ndup,
             sum((cnt-1)*length(part)) AS dupchars
      FROM (SELECT doc_id, part, count(*) AS cnt FROM (
            SELECT doc_id, unnest(list_filter(str_split(t, {delim}), x -> x <> '')) AS part FROM w)
            GROUP BY doc_id, part)
      GROUP BY doc_id)"""

    top_cols = ",\n      ".join(
        f"round(CASE WHEN nc>0 THEN least(1.0, coalesce(t{n}.v,0)::DOUBLE/nc) "
        f"ELSE 0.0 END, 6) AS top{n}"
        for n in TOP_NS
    )
    dup_cols = ",\n      ".join(
        f"round(CASE WHEN nc>0 THEN least(1.0, coalesce(d{n}_.v,0)::DOUBLE/nc) "
        f"ELSE 0.0 END, 6) AS dup{n}"
        for n in DUP_NS
    )
    joins = "\n    ".join(
        f"LEFT JOIN t{n} ON t{n}.doc_id = w.doc_id" for n in TOP_NS
    ) + "\n    " + "\n    ".join(
        f"LEFT JOIN d{n}_ ON d{n}_.doc_id = w.doc_id" for n in DUP_NS
    )
    return f"""
    WITH base AS (
      SELECT doc_id,
             substr(text,1,40) || chr(10)||chr(10) || substr(text,1,40)
               || chr(10)||chr(10) || text AS t
      FROM documents
    ),
    w AS (SELECT doc_id, coalesce(length(t),0) AS nc,
                 regexp_extract_all(lower(t), '[^ \\t\\n\\x0b\\f\\r]+') AS ws, t
          FROM base),
    {gram_ctes},
    {tops},
    {dups},
    {part_cte('lc', 'chr(10)')},
    {part_cte('pc', 'chr(10)||chr(10)')}
    SELECT w.doc_id,
      {top_cols},
      {dup_cols},
      round(CASE WHEN coalesce(lc.np,0)>0 THEN lc.ndup::DOUBLE/lc.np ELSE 0.0 END, 6) AS dup_line_frac,
      round(CASE WHEN nc>0 THEN coalesce(lc.dupchars,0)::DOUBLE/nc ELSE 0.0 END, 6) AS dup_line_char_frac,
      round(CASE WHEN coalesce(pc.np,0)>0 THEN pc.ndup::DOUBLE/pc.np ELSE 0.0 END, 6) AS dup_para_frac,
      round(CASE WHEN nc>0 THEN coalesce(pc.dupchars,0)::DOUBLE/nc ELSE 0.0 END, 6) AS dup_para_char_frac
    FROM w
    {joins}
    LEFT JOIN lc ON lc.doc_id = w.doc_id
    LEFT JOIN pc ON pc.doc_id = w.doc_id
    """


@_q("d21_repetition_stats", _d21_sql())
def d21(spark, sf):
    """Gopher repetition statistics (top-2/3/4-gram char fraction,
    duplicated 5..10-gram char fraction, dup line/paragraph fractions) —
    ONE Arrow pass computing all 13 fields (functions/rep_stats.py), the
    struct pre-projected so the pandas UDF runs once. The input is the
    corpus with its first 40 chars duplicated as two extra paragraphs
    (both engines apply the same concat), giving every field nonzero
    coverage on the single-line parquet docs."""
    from datacurator_jl_spark.functions.rep_stats import REP_FIELDS, rep_stats_arrow

    d = _t(spark, sf, "documents")
    p = F.substring(F.col("text"), 1, 40)
    rt = F.concat(p, F.lit("\n\n"), p, F.lit("\n\n"), F.col("text"))
    d = d.withColumn("_rep", rep_stats_arrow(rt))
    return d.select(
        "doc_id",
        *[F.round(F.col("_rep").getField(f), 6).alias(f) for f in REP_FIELDS],
    )


@_q(
    "d22_boilerplate_lines",
    """
    WITH base AS (
      SELECT doc_id,
             'HDR ' || source || chr(10) || text || chr(10) ||
             'FOOTER shared across the corpus' AS t
      FROM documents
    ),
    l AS (
      SELECT doc_id,
             unnest(str_split(t, chr(10))) AS line,
             unnest(range(1, len(str_split(t, chr(10)))+1)) AS pos
      FROM base
    ),
    boiler AS (
      SELECT line FROM l WHERE line <> ''
      GROUP BY line HAVING count(DISTINCT doc_id) >= 3
    ),
    kept AS (SELECT doc_id, pos, line FROM l ANTI JOIN boiler USING (line)),
    re AS (
      SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS clean_text,
             count(*) AS nkept
      FROM kept GROUP BY doc_id
    )
    SELECT b.doc_id, re.clean_text,
           (len(str_split(b.t, chr(10))) - coalesce(re.nkept, 0))::INT AS n_removed
    FROM base b LEFT JOIN re USING (doc_id)
    """,
)
def d22(spark, sf):
    """Cross-document boilerplate line removal (RefinedWeb-style): every
    line occurring in >= 3 distinct docs is removed corpus-wide. The
    parquet docs are single-line, so both engines inject the same
    synthetic chrome — a per-source header and a corpus-wide footer —
    which the operator must then strip back out (headers of sources with
    >= 3 docs and the footer go; rarer headers stay). One line-frequency
    shuffle + a broadcast anti-join + one reassembly aggregate
    (operators/boilerplate.py scale notes)."""
    from datacurator_jl_spark.operators.boilerplate import (
        remove_boilerplate_lines,
    )

    d = _tn(spark, sf, "documents")
    t2 = F.concat(
        F.lit("HDR "), F.col("source"), F.lit("\n"), F.col("text"),
        F.lit("\nFOOTER shared across the corpus"),
    )
    out = remove_boilerplate_lines(
        d.select("doc_id", t2.alias("text")),
        "doc_id", "text", min_docs=3, out_col="clean_text",
    )
    return out.select("doc_id", "clean_text", "n_removed")


@_q(
    "d23_decontaminate",
    """
    WITH w AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[^ \\t\\n\\x0b\\f\\r]+') AS ws
      FROM documents
    ),
    g AS (
      SELECT doc_id, unnest(list_transform(range(1, len(ws)-1),
               i -> array_to_string(ws[i:i+2], ' '))) AS gram
      FROM w
    ),
    bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 41 = 0),
    dg AS (SELECT DISTINCT doc_id, gram FROM g WHERE doc_id % 41 <> 0),
    h AS (SELECT doc_id, count(*) AS hits FROM dg JOIN bench USING (gram)
          GROUP BY doc_id)
    SELECT d.doc_id, coalesce(h.hits, 0)::INT AS hits,
           coalesce(h.hits, 0) > 0 AS contaminated
    FROM documents d LEFT JOIN h USING (doc_id)
    WHERE d.doc_id % 41 <> 0
    """,
)
def d23(spark, sf):
    """Benchmark decontamination (GPT-3-appendix-C-style n-gram overlap):
    docs with doc_id % 41 == 0 act as the held-out benchmark; every other
    doc is scored by its distinct word-3-grams shared with the benchmark
    set. Benchmark grams are broadcast; the corpus side never shuffles
    except the per-doc match count (operators/decontam.py scale notes).
    n=3 at test scale (the synthetic vocab makes real 8-grams never
    collide); production uses n=8..13 via the same operator."""
    from datacurator_jl_spark.operators.decontam import decontaminate

    d = _tn(spark, sf, "documents")
    bench = d.filter(F.col("doc_id") % 41 == 0)
    rest = d.filter(F.col("doc_id") % 41 != 0)
    out = decontaminate(rest, "doc_id", "text", bench, "text", n=3)
    return out.select("doc_id", "hits", "contaminated")


@_q(
    "d24_stratified_sample",
    """
    WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
    r AS (
      SELECT doc_id, source,
             row_number() OVER (
               PARTITION BY source
               ORDER BY ('0x' || substr(md5(doc_id::VARCHAR || '#corpus_v1'), 1, 8))::BIGINT,
                        doc_id) AS rn
      FROM documents
    )
    SELECT r.doc_id, r.source FROM r
    JOIN c ON r.source IS NOT DISTINCT FROM c.source
    WHERE rn <= ceil(0.2 * n)
    """,
)
def d24(spark, sf):
    """Exact stratified sampling: ceil(20%) of EVERY source, selected by
    portable key-hash order — reproducible training-mix shares per
    domain (hash-bucket filters only hit the fraction in expectation;
    this is exact per group). One bounded per-group window + a broadcast
    of group counts (operators/sampling.py)."""
    from datacurator_jl_spark.operators.sampling import stratified_hash_sample

    return stratified_hash_sample(
        _tn(spark, sf, "documents"), "source", "doc_id", 0.2,
        salt="corpus_v1",
    ).select("doc_id", "source")


@_q(
    "d27_domain_cap",
    """
    WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
    r AS (
      SELECT doc_id, source,
             row_number() OVER (
               PARTITION BY source
               ORDER BY ('0x' || substr(md5(doc_id::VARCHAR || '#corpus_v1'), 1, 8))::BIGINT,
                        doc_id) AS rn
      FROM documents
    )
    SELECT r.doc_id, r.source FROM r
    JOIN c ON r.source IS NOT DISTINCT FROM c.source
    WHERE rn <= ceil(2.0 * sqrt(n::DOUBLE))
    """,
)
def d27(spark, sf):
    """Concave per-domain cap (deterministic temperature rebalancing):
    every source keeps at most ceil(2*sqrt(n)) docs, chosen by portable
    hash order — head domains compressed, tail domains whole, each
    group's target a pure function of its own size so both engines
    agree bit-exactly (sqrt is IEEE-correctly-rounded; no cross-group
    float-sum normalisation). Same bounded per-group window + broadcast
    counts as d24 (operators/sampling.py)."""
    from datacurator_jl_spark.operators.sampling import group_cap_sample

    return group_cap_sample(
        _tn(spark, sf, "documents"), "source", "doc_id",
        alpha=0.5, scale=2.0, salt="corpus_v1",
    ).select("doc_id", "source")


@_q(
    "d32_top_fraction",
    """
    WITH r AS (
      SELECT doc_id, n_chars,
             row_number() OVER (ORDER BY n_chars DESC NULLS LAST, doc_id) AS rn,
             count(*) OVER () AS n
      FROM documents
    )
    SELECT doc_id, n_chars FROM r WHERE rn <= ceil(0.3 * n)
    """,
)
def d32(spark, sf):
    """Exact global top-fraction ('keep the best 30%' — the FineWeb-Edu
    selection step): ceil(0.3*N) rows by (n_chars desc, doc_id),
    computed with the unit-weight token-budget machinery (range exchange
    + per-partition prefix counts + broadcast offsets) so no stage sees
    a single partition; the oracle states it as one global window
    (operators/sampling.top_fraction)."""
    from datacurator_jl_spark.operators.sampling import top_fraction

    return top_fraction(
        _tn(spark, sf, "documents"), "n_chars", 0.3, "doc_id"
    ).select("doc_id", "n_chars")


@_q(
    "d25_token_budget",
    r"""
    WITH w AS (
      SELECT doc_id, n_chars,
             len(regexp_extract_all(text,
                 '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\x0b\f\r]')) AS toks
      FROM documents
    ),
    c AS (
      SELECT doc_id, toks,
             sum(toks) OVER (ORDER BY n_chars DESC NULLS LAST, doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM w
    )
    SELECT doc_id, toks::INT AS toks FROM c WHERE cum <= 15000
    """,
)
def d25(spark, sf):
    """Token-budget selection: biggest documents first (n_chars desc,
    doc_id tiebreak) until the inclusive running token count reaches the
    budget — the 'fill a 10B-token training mix reproducibly' op. The
    Spark side is the TeraSort-shaped two-pass prefix sum
    (range-partition + per-partition window + broadcast offsets, no
    single-partition global window); the oracle states it as one
    sequential cumulative window. Integer weights make the running sums
    bit-exact across both."""
    from datacurator_jl_spark.operators.sampling import token_budget_sample

    d = _t(spark, sf, "documents").withColumn(
        "toks", X.token_count(F.col("text")).cast("int")
    )
    return token_budget_sample(
        d, "toks", 15000, order_by="n_chars", id_col="doc_id"
    ).select("doc_id", "toks")


@_q(
    "d26_paragraph_dedup",
    """
    WITH base AS (
      SELECT doc_id,
             'NAV chrome shared by every doc' || chr(10) || chr(10) ||
             text || chr(10) || chr(10) || 'ABOUT ' || source AS t
      FROM documents
    ),
    p AS (
      SELECT doc_id,
             unnest(str_split(t, chr(10)||chr(10))) AS para,
             unnest(range(1, len(str_split(t, chr(10)||chr(10)))+1)) AS pos
      FROM base
    ),
    k AS (
      SELECT doc_id, pos, para,
             CASE WHEN para = '' THEN 1
                  ELSE row_number() OVER (PARTITION BY para
                                          ORDER BY doc_id, pos)
             END AS rn
      FROM p
    ),
    re AS (
      SELECT doc_id,
             string_agg(para, chr(10)||chr(10) ORDER BY pos) AS clean_text,
             count(*) AS nkept
      FROM k WHERE rn = 1 GROUP BY doc_id
    )
    SELECT b.doc_id, re.clean_text,
           (len(str_split(b.t, chr(10)||chr(10)))
            - coalesce(re.nkept, 0))::INT AS n_removed
    FROM base b LEFT JOIN re USING (doc_id)
    """,
)
def d26(spark, sf):
    """C4-style paragraph-level exact dedup: every duplicate paragraph
    occurrence is removed EXCEPT the globally first by (doc_id, pos) —
    one copy always survives (contrast d22 boilerplate, which removes
    threshold-crossing lines everywhere). The single-line parquet docs
    get the same synthetic chrome in both engines — a corpus-wide nav
    paragraph (survives only in the min doc) and a per-source ABOUT
    paragraph (survives once per source); exact-dup doc texts (the d01
    corpus property) dedup to their first doc too. Winner selection is
    a map-side-combinable min(struct) aggregate, not a per-paragraph
    window — a viral paragraph collapses per input partition before the
    exchange (operators/paragraph_dedup.py scale notes)."""
    from datacurator_jl_spark.operators.paragraph_dedup import dedup_paragraphs

    d = _tn(spark, sf, "documents").select(
        "doc_id",
        F.concat(
            F.lit("NAV chrome shared by every doc\n\n"),
            F.col("text"),
            F.lit("\n\nABOUT "),
            F.col("source"),
        ).alias("t"),
    )
    return dedup_paragraphs(d, "doc_id", "t", out_col="clean_text").select(
        "doc_id", "clean_text", "n_removed"
    )


@_q("d18_condition_columns", _d18_sql())
def d18(spark, sf):
    """Registry conditions compiled EXACTLY as the engine compiles them
    (compile_condition), emitted as boolean columns:
    mean_word_length_between, max_word_length_below, lang_confident,
    contains_pii — oracle coverage for the conditions d04's recipe does
    not exercise."""
    from datacurator_jl_spark.registry import RuleContext, compile_condition

    d = _t(spark, sf, "documents")
    ctx = RuleContext(
        name_col="doc_id", text_col="text", html_col=None,
        available_cols=d.columns,
    )
    return d.select(
        "doc_id",
        compile_condition(["mean_word_length_between", [2.0, 12.0]], ctx).alias("mwl_ok"),
        compile_condition(["max_word_length_below", 25], ctx).alias("maxw_ok"),
        compile_condition(["lang_confident", 2], ctx).alias("lang_ok"),
        compile_condition("contains_pii", ctx).alias("has_pii"),
    )


@_q(
    "d41_nfc_normalize",
    # chr(769)=U+0301 combining acute, chr(778)=U+030A combining ring:
    # the appended literal guarantees real decomposed sequences flow
    # through both normalizers even on an all-ASCII corpus.
    """
    WITH r AS (
      SELECT doc_id,
             text || ' cafe' || chr(769) || ' A' || chr(778) AS raw
      FROM documents)
    SELECT doc_id,
           nfc_normalize(raw)          AS norm_text,
           length(raw)::INT            AS len_raw,
           length(nfc_normalize(raw))::INT AS len_nfc
    FROM r
    """,
)
def d41(spark, sf):
    """Unicode NFC normalization (round-4): canonical composition as one
    Arrow-batched stage (functions/transforms.nfc_normalize; also a
    recipe transform ``nfc_normalize``), value-matched against DuckDB's
    ``nfc_normalize`` — both implement UAX #15, so the normalized text
    AND the codepoint-length delta must agree exactly."""
    from datacurator_jl_spark.functions.transforms import nfc_normalize

    raw = F.concat(F.col("text"), F.lit(" cafe\u0301 A\u030a"))
    return (
        _tn(spark, sf, "documents")
        .select("doc_id", raw.alias("raw"))
        .withColumn("norm_text", nfc_normalize(F.col("raw")))
        .select(
            "doc_id",
            "norm_text",
            F.length("raw").cast("int").alias("len_raw"),
            F.length("norm_text").cast("int").alias("len_nfc"),
        )
    )


@_q(
    "d42_dup_ngram_fraction",
    """
    WITH w AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[^ \\t\\n\\x0b\\f\\r]+') AS ws
      FROM documents
    ),
    g AS (
      SELECT DISTINCT doc_id, gram FROM (
        SELECT doc_id, unnest(list_transform(range(1, len(ws)-1),
                 i -> array_to_string(ws[i:i+2], ' '))) AS gram
        FROM w)
    ),
    f AS (SELECT gram, count(*) AS df FROM g GROUP BY gram),
    p AS (
      SELECT g.doc_id, count(*) AS n_grams,
             sum(CASE WHEN f.df >= 2 THEN 1 ELSE 0 END) AS dup_grams
      FROM g JOIN f USING (gram) GROUP BY g.doc_id)
    SELECT d.doc_id,
           coalesce(p.n_grams, 0)::INT  AS n_grams,
           coalesce(p.dup_grams, 0)::INT AS dup_grams,
           round(CASE WHEN coalesce(p.n_grams, 0) > 0
                      THEN p.dup_grams::DOUBLE / p.n_grams
                      ELSE 0.0 END, 6)  AS dup_fraction
    FROM documents d LEFT JOIN p USING (doc_id)
    """,
)
def d42(spark, sf):
    """Duplicated-n-gram fraction (Lee et al. 2022 'dup fraction'): per
    doc, the share of its distinct word-3-grams occurring in >= 2
    distinct documents — the partial-duplication signal whole-doc dedup
    misses. One gram-frequency aggregate + one gram-key equi-join, both
    AQE-skewable; nothing broadcast-dependent
    (operators/decontam.dup_ngram_stats scale notes)."""
    from datacurator_jl_spark.operators.decontam import dup_ngram_stats

    return dup_ngram_stats(_tn(spark, sf, "documents"), "doc_id", "text", n=3).select(
        "doc_id", "n_grams", "dup_grams", "dup_fraction"
    )


@_q(
    "d43_span_dedup",
    r"""
    WITH t AS (
      SELECT doc_id,
             regexp_extract_all(text, '[^ \t\n\x0b\f\r]+') AS rt,
             regexp_extract_all(lower(text), '[^ \t\n\x0b\f\r]+') AS lt
      FROM documents),
    o AS (
      SELECT doc_id, i - 1 AS s, array_to_string(lt[i:i+2], ' ') AS win
      FROM t, unnest(range(1, len(lt) - 1)) AS u(i)),
    c AS (SELECT win FROM o GROUP BY win HAVING count(*) >= 2),
    cov AS (
      SELECT DISTINCT d.doc_id, d.s + x.x AS idx
      FROM (SELECT o.* FROM o JOIN c USING (win)) d,
           unnest(range(0, 3)) AS x(x)),
    tok AS (
      SELECT doc_id, i - 1 AS idx, rt[i] AS tok
      FROM t, unnest(range(1, len(rt) + 1)) AS u(i)),
    kept AS (SELECT tok.* FROM tok ANTI JOIN cov USING (doc_id, idx)),
    re AS (
      SELECT doc_id, string_agg(tok, ' ' ORDER BY idx) AS clean,
             count(*) AS nkept
      FROM kept GROUP BY doc_id)
    SELECT d.doc_id,
           CASE WHEN d.text IS NULL THEN NULL
                WHEN len(t.rt) = 0 THEN ''
                ELSE re.clean END AS clean_text,
           (CASE WHEN d.text IS NULL THEN NULL
                 ELSE len(t.rt) - coalesce(re.nkept, 0) END)::INT AS n_removed
    FROM documents d JOIN t USING (doc_id) LEFT JOIN re USING (doc_id)
    """,
)
def d43(spark, sf):
    """ExactSubstr-style duplicated-span removal (Lee et al. 2022,
    fixed-window approximation): every token covered by a 3-token window
    occurring >= 2 times corpus-wide (within-doc repeats count) is
    removed; output is token-normalized. One window-frequency aggregate
    + one occurrence join + boilerplate-style reassembly — linear in
    occurrences, never a pair join (operators/span_dedup.py scale
    notes; production window n ~ 50)."""
    from datacurator_jl_spark.operators.span_dedup import (
        remove_duplicated_spans,
    )

    return remove_duplicated_spans(
        _t(spark, sf, "documents"), "doc_id", "text", n=3, out_col="clean_text"
    ).select("doc_id", "clean_text", "n_removed")


@_q(
    "e07_srp_survivors",
    "WITH RECURSIVE sig0 AS (" + ORACLES_E04 + """),
    sig AS (SELECT * FROM sig0 WHERE srp_sig IS NOT NULL),
    pairs AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM sig a JOIN sig b ON a.vec_id < b.vec_id AND (
           ((a.srp_sig >> 0)  & 15) = ((b.srp_sig >> 0)  & 15) OR
           ((a.srp_sig >> 4)  & 15) = ((b.srp_sig >> 4)  & 15) OR
           ((a.srp_sig >> 8)  & 15) = ((b.srp_sig >> 8)  & 15) OR
           ((a.srp_sig >> 12) & 15) = ((b.srp_sig >> 12) & 15))
      WHERE bit_count(xor(a.srp_sig, b.srp_sig)) <= 3),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL SELECT id_b, id_a FROM pairs),
    lab(doc, comp) AS (
      SELECT vec_id, vec_id FROM embeddings
      UNION
      SELECT e.src, l.comp FROM lab l JOIN edges e ON e.dst = l.doc),
    comp AS (SELECT doc, min(comp) AS comp FROM lab GROUP BY doc)
    SELECT em.vec_id FROM embeddings em
    JOIN comp c ON c.doc = em.vec_id AND c.comp = em.vec_id
    """,
)
def e07(spark, sf):
    """Embedding-space near-dedup keep-set: one representative
    (component-min id) per SRP near-dup cluster — SRP pairs -> the
    generic connected-components tier (dedup.components_from_pairs) ->
    semi-join, the embedding twin of d15. The oracle states the same
    fixpoint as a recursive reachability CTE."""
    from datacurator_jl_spark.operators.similarity import (
        srp_near_dup_survivors,
    )

    return srp_near_dup_survivors(
        _tn(spark, sf, "embeddings"), "vec_id", "embedding",
        _SRP_DIM, _SRP_BITS, bands=4, seed=_SRP_SEED, max_hamming=3,
    ).select("vec_id")


@_q("d49_quantile_buckets", None)
def d49(spark, sf):
    """CCNet-style per-language quantile bucketing (Wenzek et al. 2019):
    every document labeled head/middle/tail by where its quality score
    falls within ITS LANGUAGE's score distribution — the standard
    perplexity-filter shape, here over the d10 composite score
    (operators/sampling.quantile_buckets). exact=True so the thresholds
    are the same interpolated percentiles DuckDB's quantile_cont
    computes (scores rounded to 6 decimals first, so both engines
    interpolate identical inputs); production default is the
    percentile_approx t-digest (bounded memory per group at any corpus
    size). One map-side-combinable aggregate over ~#languages groups,
    broadcast join-back, no window, no corpus shuffle."""
    from datacurator_jl_spark.functions.arrow_stats import token_stats_arrow
    from datacurator_jl_spark.operators.sampling import quantile_buckets

    d = _t(spark, sf, "documents")
    t = F.col("text")
    scored = d.withColumn("_s", token_stats_arrow(t)).select(
        "doc_id",
        "lang",
        F.round(X.quality_score(t, F.col("_s")), 6).alias("quality"),
    )
    return quantile_buckets(scored, "quality", "lang", exact=True).select(
        "doc_id", "lang", "bucket"
    )


ORACLES["d49_quantile_buckets"] = f"""
    WITH q AS ({ORACLES["d10_quality_score"]}),
    j AS (
      SELECT d.doc_id, d.lang, q.quality
      FROM documents d JOIN q ON d.doc_id = q.doc_id
    ),
    t AS (
      SELECT lang,
             quantile_cont(quality, 0.3333333333333333) AS p33,
             quantile_cont(quality, 0.6666666666666666) AS p66
      FROM j WHERE quality IS NOT NULL AND lang IS NOT NULL
      GROUP BY lang
    )
    SELECT j.doc_id, j.lang,
           CASE WHEN j.quality IS NULL OR t.p33 IS NULL THEN NULL
                WHEN j.quality < t.p33 THEN 'head'
                WHEN j.quality < t.p66 THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM j LEFT JOIN t ON j.lang = t.lang
    """


# Deterministic noise suffixes for d50: the driver's synthetic corpus is
# clean ASCII, so (as with d46's page template) each doc gets a
# doc_id-keyed suffix injected IDENTICALLY on both engines — mojibake
# ("Ã©" = é as Latin-1, "â€œ" = “ as cp1252: printable-only so the SQL
# literal carries no raw control bytes), replacement chars, and control
# chars (SQL side spells those via chr(), Spark via Python escapes).
_D50_MOJI = " cafÃ© â€œmojibake"
_D50_REPL = " lost�bytes��"
_D50_CTL = " ctl\x07\x1b\x9b"


def _d50_sql() -> str:
    from datacurator_jl_spark.functions.text import (
        CONTROL_CHARS_PATTERN_SQL,
        MOJIBAKE_PATTERN_SQL,
    )

    moji_pat = MOJIBAKE_PATTERN_SQL.replace("'", "''")
    return f"""
    WITH n AS (
      SELECT doc_id, text || CASE
        WHEN doc_id % 4 = 1 THEN '{_D50_MOJI}'
        WHEN doc_id % 4 = 2 THEN '{_D50_REPL}'
        WHEN doc_id % 4 = 3 THEN ' ctl' || chr(7) || chr(27) || chr(155)
        ELSE '' END AS t
      FROM documents),
    c AS (
      SELECT doc_id, length(t) AS nc,
             (length(t) - length(replace(t, chr(65533), '')))::INT AS repl_chars,
             len(regexp_extract_all(t, '{CONTROL_CHARS_PATTERN_SQL}'))::INT AS ctrl_chars,
             len(regexp_extract_all(t, '{moji_pat}'))::INT AS moji_seqs
      FROM n)
    SELECT doc_id, repl_chars, ctrl_chars, moji_seqs,
           CASE WHEN nc > 0 THEN
             round((repl_chars + ctrl_chars + moji_seqs)::DOUBLE / nc, 6)
           ELSE 0.0 END AS noise_ratio
    FROM c
    """


@_q("d50_encoding_noise", _d50_sql())
def d50(spark, sf):
    """Encoding-noise / mojibake metrics per doc (ftfy-style 'badness'
    — the mis-decode detector every CCNet/RefinedWeb-grade crawl
    pipeline runs before quality filtering): U+FFFD replacement-char
    count, stray-control-char count (C0 minus tab/lf/cr, DEL, C1), and
    non-overlapping UTF-8-as-Latin-1/cp1252 mojibake sequences
    ("Ã©"/"â€™" shapes), plus their per-char ratio. The corpus is clean
    synthetic ASCII, so a deterministic doc_id-keyed noise suffix is
    injected identically on both engines (the d46 template pattern).
    All three counters are single-pass translate/regexp_count exprs —
    pure codegen, no UDF, no shuffle (functions/text.py encoding-noise
    section; recipe condition ``encoding_noise_below``)."""
    d = _t(spark, sf, "documents")
    m = F.col("doc_id") % 4
    noisy = F.concat(
        F.col("text"),
        F.when(m == 1, F.lit(_D50_MOJI))
        .when(m == 2, F.lit(_D50_REPL))
        .when(m == 3, F.lit(_D50_CTL))
        .otherwise(F.lit("")),
    )
    return d.select(
        "doc_id",
        X.replacement_char_count(noisy).cast("int").alias("repl_chars"),
        X.control_char_count(noisy).cast("int").alias("ctrl_chars"),
        X.mojibake_count(noisy).cast("int").alias("moji_seqs"),
        F.round(X.encoding_noise_ratio(noisy), 6).alias("noise_ratio"),
    )


def _d51_sql() -> str:
    from datacurator_jl_spark.operators.winnow import winnow_sql

    return (
        "SELECT doc AS doc_id, fp FROM ("
        + winnow_sql("documents", "doc_id", "text", k=3, w=4)
        + ")"
    )


@_q("d51_winnow_fingerprints", _d51_sql())
def d51(spark, sf):
    """Winnowing fingerprints (Schleimer et al., SIGMOD 2003 — the MOSS
    partial-overlap detector): distinct sliding-window minima over
    60-bit md5-prefix hashes of word 3-grams, window w=4 — any two docs
    sharing a long enough token run are GUARANTEED to share a
    fingerprint, at ~2/(w+1) the storage of the full gram set. ONE
    Arrow pass per doc (window min runs numpy-side inside the batch —
    no gram explode, no corpus-wide window function); the oracle states
    the same selection declaratively (gram CTE + frame-bounded window
    min + distinct), GENERATED from the same (k, w) via
    operators/winnow.winnow_sql so the twins cannot drift."""
    from datacurator_jl_spark.operators.winnow import winnow_fingerprint_table

    return winnow_fingerprint_table(
        _t(spark, sf, "documents"), "doc_id", "text", k=3, w=4
    ).select(F.col("doc").alias("doc_id"), "fp")


def _d52_sql() -> str:
    from datacurator_jl_spark.operators.winnow import winnow_sql

    return f"""
    WITH fp AS ({winnow_sql("documents", "doc_id", "text", k=3, w=4)})
    SELECT a.doc AS id_a, b.doc AS id_b, count(*) AS shared
    FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc < b.doc
    GROUP BY a.doc, b.doc
    HAVING count(*) >= 2
    """


@_q("d52_winnow_shared_passages", _d52_sql())
def d52(spark, sf):
    """Shared-passage candidate pairs: docs sharing >= 2 winnowed
    fingerprints — the quote-reuse / template-splice signal set-based
    Jaccard cannot see (a shared 10-line passage inside two otherwise
    unrelated pages moves Jaccard by ~0 but must share a fingerprint).
    Plan family = lsh_candidate_pairs: materialized fingerprint table,
    the `dedup._capped_self_join` fp equi-join (a boilerplate passage on
    10⁷ pages is ONE hot fp key — the cap drops the degenerate KEY),
    map-side-combinable pair count. Cap default (1000)
    cannot bind at sf0.01 (500 docs), so the oracle states the uncapped
    join."""
    from datacurator_jl_spark.operators.winnow import winnow_candidate_pairs

    return winnow_candidate_pairs(
        _t(spark, sf, "documents"), "doc_id", "text", k=3, w=4, min_shared=2
    ).select(F.col("id_a").alias("id_a"), F.col("id_b").alias("id_b"), "shared")


def _d53_sql() -> str:
    from datacurator_jl_spark.operators.dsir import dsir_score_sql

    return dsir_score_sql(
        "documents", "doc_id", "text", "lang = 'en'",
        n_buckets=4096, salt="dsir_v1",
    )


@_q("d53_dsir_weights", _d53_sql())
def d53(spark, sf):
    """DSIR importance weights (Xie et al., NeurIPS 2023): per-doc
    log-likelihood ratio of a hashed-bigram bag model of the TARGET
    slice (here lang='en') against the raw corpus, in nats — resampling
    proportional to these weights shifts the mix toward the target
    distribution (compose with d32's top_fraction / d25's token budget
    for the selection step). Integer micro-nat model weights make the
    per-doc sum exact and order-free (the d30 cross-engine trick); ONE
    Arrow pass extracts per-doc bucket counts, the ≤4096-row model is a
    broadcast, and the oracle is GENERATED from the same (B, salt,
    target) via operators/dsir.dsir_score_sql so the twins cannot
    drift. Docs with < 2 tokens score NULL."""
    from datacurator_jl_spark.operators.dsir import dsir_scores

    return dsir_scores(
        _t(spark, sf, "documents"), "doc_id", "text",
        F.col("lang") == "en", n_buckets=4096, salt="dsir_v1",
    )


@_q(
    "d54_sequence_pack",
    """
    WITH w AS (
      SELECT doc_id,
             coalesce(len(regexp_extract_all(text, '[^ \\t\\n\\x0b\\f\\r]+')), 0)::BIGINT AS n,
             ('0x' || substr(md5(doc_id::VARCHAR || '#corpus_v1'), 1, 8))::BIGINT AS h
      FROM documents
    ),
    c AS (
      SELECT doc_id, n,
             sum(n) OVER (ORDER BY h, doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM w
    )
    SELECT doc_id, n AS n_tokens,
           (cum - n)::BIGINT AS start_off,
           ((cum - n) // 512)::BIGINT AS bin_start,
           (greatest(cum - 1, cum - n) // 512)::BIGINT AS bin_end
    FROM c
    """,
)
def d54(spark, sf):
    """Concat-and-chunk sequence packing (training prep): documents laid
    out as one deterministic token stream in portable-hash order, each
    doc assigned its exclusive-prefix-sum start offset and the 512-token
    training-sequence bins it spans. All-integer arithmetic -> exact
    twin; the Spark plan is the TeraSort shape (range exchange +
    per-partition running sums + broadcast offsets — no single-partition
    window), while the oracle states the same stream as one declarative
    window cumsum."""
    from datacurator_jl_spark.operators.sampling import sequence_pack

    d = _tn(spark, sf, "documents").select(
        "doc_id",
        F.when(F.col("text").isNotNull(), F.size(X.words(F.col("text"))))
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("n_tokens"),
    )
    return sequence_pack(d, "n_tokens", 512, "doc_id").select(
        "doc_id", "n_tokens", "start_off", "bin_start", "bin_end"
    )


@_q(
    "d55_incremental_exact",
    """
    WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0),
    batch AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 6 = 0
    ),
    r AS (SELECT doc_id, coalesce(md5(text), chr(0)) AS h FROM batch),
    w AS (SELECT h, min(doc_id) AS keep FROM r GROUP BY h),
    k AS (SELECT r.doc_id, r.h FROM r JOIN w ON r.doc_id = w.keep),
    bh AS (SELECT DISTINCT coalesce(md5(text), chr(0)) AS h FROM base)
    SELECT k.doc_id FROM k LEFT JOIN bh ON k.h = bh.h WHERE bh.h IS NULL
    """,
)
def d55(spark, sf):
    """Incremental EXACT dedup (the exact tier of the d28 ingest
    posture, run before the near-dup tier): a batch of fresh docs plus
    re-crawled copies of base pages (every doc_id % 6 == 0 text under a
    new id) dedups against the persisted ``exact_hash_table`` — copies
    of base content are dropped, within-batch dupes collapse to their
    min-id winner, genuinely new docs survive. The base side is
    left-semi pruned on the batch's hash set before the anti join
    (guard-8 pattern: per-ingest cost tracks the batch, the standing
    corpus hash table is scanned, never shuffled)."""
    d = _tn(spark, sf, "documents")
    base = d.filter(F.col("doc_id") % 3 == 0).select("doc_id", "text")
    batch = (
        d.filter(F.col("doc_id") % 3 != 0)
        .select("doc_id", "text")
        .unionByName(
            d.filter(F.col("doc_id") % 6 == 0).select(
                (F.col("doc_id") + 1000000).alias("doc_id"), "text"
            )
        )
    )
    bh = DD.exact_hash_table(base, "text")
    return DD.incremental_exact_survivors(batch, bh, "doc_id", "text").select(
        "doc_id"
    )


def _d56_sql() -> str:
    return f"""
    WITH s AS ({_d53_sql()})
    SELECT doc_id, dsir_score FROM s
    WHERE dsir_score IS NOT NULL
    ORDER BY round(dsir_score / 1.0
                   - ln(-ln(((('0x' || substr(md5(doc_id::VARCHAR || '#dsir_resample_v1'), 1, 8))::BIGINT) + 1)
                            / 4294967297.0)), 6) DESC,
             doc_id
    LIMIT 100
    """


@_q("d56_gumbel_resample", _d56_sql())
def d56(spark, sf):
    """DSIR's selection step: Gumbel top-k resampling — 100 docs drawn
    without replacement with probability proportional to
    exp(dsir_score), via deterministic hash-derived Gumbel noise added
    to the importance weights (reproducible across engines/retries; a
    salt change draws an independent sample). Spark plan is
    TakeOrderedAndProject (per-partition top-k heaps, no global sort);
    the oracle states the same draw as ORDER BY the identically-rounded
    key LIMIT k over the generated d53 score SQL."""
    from datacurator_jl_spark.operators.dsir import dsir_scores, gumbel_topk

    sc = dsir_scores(
        _t(spark, sf, "documents"), "doc_id", "text",
        F.col("lang") == "en", n_buckets=4096, salt="dsir_v1",
    )
    return gumbel_topk(sc, "dsir_score", 100, "doc_id").select(
        "doc_id", "dsir_score"
    )


@_q(
    "e08_semdedup_survivors",
    """
    WITH e AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
      WHERE label IS NOT NULL AND embedding IS NOT NULL
    ),
    m AS (
      SELECT label, i.i AS pos, avg(v[i.i]) AS mu
      FROM e, (SELECT unnest(generate_series(1, len(v))) AS i) i
      GROUP BY label, i.i
    ),
    c AS (SELECT label, list(mu ORDER BY pos) AS cv FROM m GROUP BY label),
    cs AS (
      SELECT e.vec_id, e.label, e.v,
             round(list_dot_product(e.v, c.cv) /
                   (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))), 6) AS cs
      FROM e JOIN c USING (label)
    ),
    p AS (
      SELECT a.vec_id AS da, a.cs AS ca, b.vec_id AS db, b.cs AS cb
      FROM cs a JOIN cs b ON a.label = b.label AND a.vec_id < b.vec_id
      WHERE round(list_dot_product(a.v, b.v) /
                  (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.35
    ),
    l AS (SELECT DISTINCT CASE WHEN ca > cb THEN da ELSE db END AS loser FROM p)
    SELECT vec_id FROM embeddings WHERE vec_id NOT IN (SELECT loser FROM l)
    """,
)
def e08(spark, sf):
    """SemDeDup (Abbas et al. 2023): semantic dedup by exact cosine
    within embedding clusters, keeping each duplicate pair's member
    FURTHEST from the cluster centroid (the paper's keep-the-outlier
    rule; 6dp-rounded centroid sims, id tiebreak). Complements e07's
    SRP-band survivors: there the blocking is hash bands and the winner
    is the component min; here the blocking is the cluster structure
    itself and the winner is diversity-preserving. Centroids are one
    explode+groupBy broadcast; the pair join is the capped
    cluster-equi-join family (threshold 0.35 at synthetic scale;
    production uses ~0.95+ on real embeddings)."""
    from datacurator_jl_spark.operators.similarity import semdedup_survivors

    return semdedup_survivors(
        _t(spark, sf, "embeddings"), "vec_id", "embedding", "label",
        threshold=0.35,
    ).select("vec_id")


_D57_TERMS = ["spark", "merge", "window", "stream"]


def _d57_sql() -> str:
    from datacurator_jl_spark.operators.retrieval import bm25_topk_sql

    return bm25_topk_sql(_D57_TERMS, k=15)


@_q("d57_bm25_topk", _d57_sql())
def d57(spark, sf):
    """Okapi BM25 top-k keyword retrieval (Robertson & Walker, the
    Lucene-smoothed idf): the "which docs are about X" spot-check /
    decontamination-triage query. Tokens filter to the query terms
    BEFORE any shuffle; tf/df/dl are exact integer aggregates; per-term
    contributions combine in ONE fixed expression-tree order (never a
    float SUM whose partial-combine order varies); top-k is
    orderBy+limit = TakeOrderedAndProject (per-partition heaps, k rows
    cross the wire). Oracle GENERATED from the same term list and
    constants via operators/retrieval.bm25_topk_sql."""
    from datacurator_jl_spark.operators.retrieval import bm25_topk

    return bm25_topk(_tn(spark, sf, "documents"), _D57_TERMS, k=15)


# the k-means CTE chain (shared by e09 and e10's oracle — one copy):
# ends at `af` = (doc, cid, sim), the final assignment
_E09_CTES = """
    e AS (
      SELECT vec_id AS doc, embedding::DOUBLE[] AS v
      FROM embeddings
      WHERE embedding IS NOT NULL
        AND list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0
    ),
    q AS (
      SELECT doc, i.i AS pos, CAST(round(v[i.i] * 1000000.0) AS BIGINT) AS qv
      FROM e, (SELECT unnest(generate_series(1, len(v))) AS i) i
    ),
    init AS (
      SELECT doc, row_number() OVER (ORDER BY doc) - 1 AS cid
      FROM (SELECT doc FROM e ORDER BY doc LIMIT 6)
    ),
    c0 AS (
      SELECT cid, list(m ORDER BY pos) AS cv FROM (
        SELECT init.cid, q.pos,
               CAST(sum(q.qv) AS DOUBLE) / (count(*) * 1000000.0) AS m
        FROM q JOIN init USING (doc) GROUP BY init.cid, q.pos)
      GROUP BY cid
    ),
    s1 AS (
      SELECT e.doc, c.cid,
             round(list_dot_product(e.v, c.cv)
                   / (sqrt(list_dot_product(e.v, e.v))
                      * sqrt(list_dot_product(c.cv, c.cv))), 6) + 0.0 AS sim
      FROM e CROSS JOIN c0 c
    ),
    a1 AS (
      SELECT doc, cid FROM (
        SELECT doc, cid,
               row_number() OVER (PARTITION BY doc
                                  ORDER BY sim DESC, cid ASC) AS rn
        FROM s1)
      WHERE rn = 1
    ),
    c1 AS (
      SELECT cid, list(m ORDER BY pos) AS cv FROM (
        SELECT a1.cid, q.pos,
               CAST(sum(q.qv) AS DOUBLE) / (count(*) * 1000000.0) AS m
        FROM q JOIN a1 USING (doc) GROUP BY a1.cid, q.pos)
      GROUP BY cid
    ),
    s2 AS (
      SELECT e.doc, c.cid,
             round(list_dot_product(e.v, c.cv)
                   / (sqrt(list_dot_product(e.v, e.v))
                      * sqrt(list_dot_product(c.cv, c.cv))), 6) + 0.0 AS sim
      FROM e CROSS JOIN c1 c
    ),
    a2 AS (
      SELECT doc, cid FROM (
        SELECT doc, cid,
               row_number() OVER (PARTITION BY doc
                                  ORDER BY sim DESC, cid ASC) AS rn
        FROM s2)
      WHERE rn = 1
    ),
    c2 AS (
      SELECT cid, list(m ORDER BY pos) AS cv FROM (
        SELECT a2.cid, q.pos,
               CAST(sum(q.qv) AS DOUBLE) / (count(*) * 1000000.0) AS m
        FROM q JOIN a2 USING (doc) GROUP BY a2.cid, q.pos)
      GROUP BY cid
    ),
    sf AS (
      SELECT e.doc, c.cid,
             round(list_dot_product(e.v, c.cv)
                   / (sqrt(list_dot_product(e.v, e.v))
                      * sqrt(list_dot_product(c.cv, c.cv))), 6) + 0.0 AS sim
      FROM e CROSS JOIN c2 c
    ),
    af AS (
      SELECT doc, cid, sim FROM (
        SELECT doc, cid, sim,
               row_number() OVER (PARTITION BY doc
                                  ORDER BY sim DESC, cid ASC) AS rn
        FROM sf)
      WHERE rn = 1
    )
"""


@_q(
    "e09_kmeans_clusters",
    "WITH " + _E09_CTES + """
    SELECT emb.vec_id, af.cid AS cluster, af.sim AS csim
    FROM embeddings emb LEFT JOIN af ON emb.vec_id = af.doc
    """,
)
def e09(spark, sf):
    """Deterministic Lloyd's k-means (k=6, 2 iterations) + full-corpus
    assignment — the producer of the cluster ids every cluster-consuming
    op here assumes (ivf_topk's IVF index, e08's SemDeDup blocking),
    run as a Spark plan: init = the k lowest-id vectors, centroids from
    EXACT micro-quantized integer sums (order-free across partial-agg
    orders — the dsir micro-nat posture), assignment by 6dp cosine with
    ties to the lowest cid via min(struct) argmax (no per-doc window).
    The oracle unrolls the SAME two iterations as CTEs. Null/zero-norm
    vectors take no part in fit and get NULL cluster/csim."""
    from datacurator_jl_spark.operators.similarity import (
        kmeans_assign, kmeans_fit,
    )

    emb = _t(spark, sf, "embeddings")
    cents = kmeans_fit(emb, "vec_id", "embedding", k=6, iters=2)
    return kmeans_assign(emb, cents, "vec_id", "embedding").select(
        "vec_id", "cluster", "csim"
    )


def _d58_sql() -> str:
    from datacurator_jl_spark.operators.distill import distill_score_sql

    label = (
        "SELECT doc_id AS doc, CASE WHEN keep THEN 1.0 ELSE 0.0 END AS y "
        f"FROM ({_D04_SQL})"
    )
    return distill_score_sql(label, n_buckets=1024, salt="qw1",
                             iters=2, lr=100.0)


@_q("d58_distill_classifier", _d58_sql())
def d58(spark, sf):
    """Distill the d04 recipe's keep/drop labels into the hashed linear
    classifier: 2 full-batch LR gradient steps over hashed-unigram
    features (classifier bucket function), integer micro-unit weights so
    every gradient sum is exact and order-free, then sigmoid scores 6dp
    over the training docs. The oracle GENERATES the same 2 steps as
    unrolled CTEs (operators/distill.distill_score_sql) from the d04
    oracle's own label SQL — the FineWeb-Edu loop (rule-label → linear
    probe → serve via DC_QUALITY_MODEL) closed inside the engine."""
    from datacurator_jl_spark.operators.dedup import _materialize
    from datacurator_jl_spark.operators.distill import (
        lr_fit, lr_scores, unigram_feature_table,
    )

    # materialize the labels too: otherwise the post-fit semi-join
    # replays the whole d04 engine decision plan a second time
    labels = _materialize(
        d04(spark, sf).select(
            F.col("doc_id").alias("doc"),
            F.when(F.col("keep"), 1.0).otherwise(0.0).alias("y"),
        ),
        "local",
    )
    feats = _materialize(
        unigram_feature_table(
            _t(spark, sf, "documents"), "doc_id", "text", 1024, "qw1"
        ),
        "local",
    )
    w, bias_u = lr_fit(feats, labels, iters=2, lr=100.0)
    train_feats = feats.join(labels.select("doc"), "doc", "left_semi")
    return lr_scores(train_feats, w, bias_u, "doc_id")


_D59_SQL = """
    WITH a AS ({A}), b AS ({B})
    SELECT coalesce(a.rule_id, 'absent') AS rule_from,
           coalesce(b.rule_id, 'absent') AS rule_to,
           ((CASE WHEN a.rule_id IS NULL THEN 'absent'
                  WHEN a.keep THEN 'keep' ELSE 'drop' END)
            || '->' ||
            (CASE WHEN b.rule_id IS NULL THEN 'absent'
                  WHEN b.keep THEN 'keep' ELSE 'drop' END)) AS flow,
           count(*) AS n_docs
    FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
    GROUP BY 1, 2, 3
""".format(A=_D04_SQL, B=_D04_SQL.replace("chars >= 100", "chars >= 200"))


@_q("d59_decision_diff", _D59_SQL)
def d59(spark, sf):
    """Recipe A/B diff: per-(rule_from, rule_to) transition flows between
    the d04 quality run and a stricter variant (min_length 100 -> 200) —
    "what changed when I tightened the recipe", before anything ships.
    One full-outer id join (co-partitioned shuffle) + one
    partial-combinable aggregate; output is rule-pair-bounded. The
    oracle's B side is GENERATED from the d04 oracle by the same
    threshold substitution the Spark side parameterizes."""
    from datacurator_jl_spark.operators.report import decision_diff

    return decision_diff(
        _quality_decisions(spark, sf, 100),
        _quality_decisions(spark, sf, 200),
        "doc_id",
    )


def _d60_sql() -> str:
    from datacurator_jl_spark.operators.lm import lm_xent_sql

    return lm_xent_sql(
        target_sql="SELECT doc_id FROM documents WHERE lang = 'en'"
    )


@_q("d60_lm_xent", _d60_sql())
def d60(spark, sf):
    """CCNet-style perplexity signal without an external LM binary:
    train a hashed bigram LM on the 'en' slice (the target-language
    reference corpus stand-in), score every doc by cross-entropy in
    nats/bigram (exp(xent) = perplexity). Exact integer event sums,
    micro-nat quantized log-probs, log-space output (no final exp) —
    the engine-trainable twin of the DC_KENLM seam; oracle GENERATED
    by operators/lm.lm_xent_sql. Docs with < 2 tokens score NULL."""
    from datacurator_jl_spark.operators.lm import lm_xent

    return lm_xent(
        _t(spark, sf, "documents"),
        "doc_id",
        "text",
        target=F.col("lang") == "en",
    )


_D61_WEIGHTS = {"src0": 3.0, "src1": 1.0, "src2": 1.0}


def _d61_sql() -> str:
    from datacurator_jl_spark.operators.sampling import mixture_sample_sql

    return mixture_sample_sql(_D61_WEIGHTS, n_total=40)


@_q("d61_mixture_sample", _d61_sql())
def d61(spark, sf):
    """Data mixing to target source proportions (The Pile / LLaMA-style
    mixture weights): 60/20/20 over three whitelisted sources at a
    40-row budget — per-group integer quotas computed driver-side in
    exact Python (both engines see the same literals), rows chosen by
    the portable d24 hash order via the two-phase salted cap. A group
    smaller than its quota contributes everything (the shortfall shows
    in the output share — never silently refilled, that would change
    the mixture). Oracle GENERATED from the same weights dict."""
    from datacurator_jl_spark.operators.sampling import mixture_sample

    return mixture_sample(
        _tn(spark, sf, "documents"), "source", "doc_id", _D61_WEIGHTS, 40
    ).select("doc_id", "source")


def _d62_sql() -> str:
    from datacurator_jl_spark.operators.sampling import (
        mixture_token_sample_sql,
    )

    return mixture_token_sample_sql(_D61_WEIGHTS, token_total=20000)


@_q("d62_mixture_tokens", _d62_sql())
def d62(spark, sf):
    """Token-budget data mixing (how The Pile/LLaMA mixes actually
    budget — by tokens, not rows): 60/20/20 over three sources at a
    20k-char budget, weighted by n_chars. Same shared quota arithmetic
    as d61; selection = greedy hash-order prefix per group under the
    inclusive budget, computed TeraSort-style with per-(partition,
    group) offsets — never a whole group's window in one task. Integer
    (bigint) running sums keep Spark's sequential window and DuckDB's
    segment-tree window exactly equal. Oracle GENERATED from the same
    weights dict."""
    from datacurator_jl_spark.operators.sampling import mixture_token_sample

    return mixture_token_sample(
        _t(spark, sf, "documents"),
        "source",
        "doc_id",
        "n_chars",
        _D61_WEIGHTS,
        20000,
    ).select("doc_id", "source")


@_q(
    "e10_semantic_pipeline",
    "WITH " + _E09_CTES + """,
    se AS (
      SELECT emb.vec_id, af.cid AS label, emb.embedding::DOUBLE[] AS v
      FROM embeddings emb JOIN af ON af.doc = emb.vec_id
    ),
    sm AS (
      SELECT label, i.i AS pos, avg(v[i.i]) AS mu
      FROM se, (SELECT unnest(generate_series(1, len(v))) AS i) i
      GROUP BY label, i.i
    ),
    sc AS (SELECT label, list(mu ORDER BY pos) AS cv FROM sm GROUP BY label),
    scs AS (
      SELECT se.vec_id, se.label, se.v,
             round(list_dot_product(se.v, sc.cv) /
                   (sqrt(list_dot_product(se.v, se.v)) * sqrt(list_dot_product(sc.cv, sc.cv))), 6) AS cs
      FROM se JOIN sc USING (label)
    ),
    sp AS (
      SELECT a.vec_id AS da, a.cs AS ca, b.vec_id AS db, b.cs AS cb
      FROM scs a JOIN scs b ON a.label = b.label AND a.vec_id < b.vec_id
      WHERE round(list_dot_product(a.v, b.v) /
                  (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.35
    ),
    sl AS (SELECT DISTINCT CASE WHEN ca > cb THEN da ELSE db END AS loser FROM sp)
    SELECT vec_id FROM embeddings WHERE vec_id NOT IN (SELECT loser FROM sl)
    """,
)
def e10(spark, sf):
    """The fully label-free semantic dedup pipeline, driver-checked
    end-to-end: e09's deterministic k-means supplies the cluster ids,
    e08's SemDeDup drops each over-threshold pair's
    closer-to-centroid member within them — no pre-existing label
    column anywhere. The oracle is e09's CTE chain (ONE shared copy,
    _E09_CTES) feeding e08's oracle logic; null/zero-norm vectors get
    no cluster, pair with nothing, and survive."""
    from datacurator_jl_spark.operators.dedup import _materialize_spread
    from datacurator_jl_spark.operators.similarity import (
        kmeans_assign, kmeans_fit, semdedup_survivors,
    )

    emb = _t(spark, sf, "embeddings")
    # materialize the labeled frame ONCE (round-7): semdedup consumes
    # its corpus twice (the e/cs build and the final anti join), and
    # un-checkpointed each consumer replayed the whole k-means
    # assignment lineage (~1 s each at sf0.1). The SPREAD variant
    # matters: the assignment join's AQE-coalesced output froze at ONE
    # partition through the checkpoint, serializing semdedup's whole
    # 330k-pair cosine stage into a single 3.3 s task downstream.
    labeled = _materialize_spread(
        kmeans_assign(
            emb, kmeans_fit(emb, "vec_id", "embedding", k=6, iters=2),
            "vec_id", "embedding",
        ),
        "local",
    )
    return semdedup_survivors(
        labeled, "vec_id", "embedding", "cluster", threshold=0.35
    ).select("vec_id")


# ---------------------------------------------------------------------------
# Driver-sample ordering. The driver checks a 50-query sample of this
# registry, apparently in insertion order — so queries that have never
# appeared in a driver CORRECTNESS run are surfaced FIRST, ahead of the
# long-green round-1/2 suite. Round-3 VERDICT "Next round" item 2.
# ---------------------------------------------------------------------------

_DRIVER_PRIORITY = [
    # round-7 head (VERDICT r6 Next #2), tier 1: the 45 queries whose
    # latest driver CORRECTNESS evidence is r5 — after r6 everything
    # else has an r6 row. Oldest-first; several of these also had
    # round-7 internals changes (d08/d31/d44 pair-stage intersect
    # projected once; d14/d28 star edges + driver union-find; d43
    # span-removal shuffle cut; d09 scrub gate; e05-e07 norm
    # precompute / components path; d24-style caps untouched here but
    # see tier 2) and need fresh rows doubly.
    "d01_exact_dedup", "d02_text_stats", "d03_langid",
    "d04_quality_filter", "d05_fingerprint", "d06_minhash_signature",
    "d07_simhash", "d08_ngram_jaccard", "d09_scrub",
    "d10_quality_score", "d12_lsh_candidate_pairs",
    "d14_near_dup_components", "d15_near_dup_survivors",
    "d16_hash_sample", "d17_line_ratios", "d18_condition_columns",
    "d19_jaccard_lsh_prefilter", "d20_jaccard_block_cap",
    "d28_incremental_dedup", "d31_ngram_containment",
    "d40_contained_survivors", "d41_nfc_normalize",
    "d42_dup_ngram_fraction", "d43_span_dedup",
    "d44_blocked_containment", "d45_token_stats", "d48_url_host",
    "e03_embedding_near_dup", "e04_srp_signature",
    "e05_srp_near_dup_pairs", "e06_srp_capped_pairs",
    "e07_srp_survivors", "q02_between_strict", "q03_extract_any",
    "q04_delete_rows", "q05_extract_columns", "q06_groupbycolumn",
    "q07_distinct_sort", "q08_describe_column", "q09_mode_bandpass",
    "q10_counters_by_flag", "q11_grouped_collect",
    "q17_name_predicates", "q18_hierarchical_levels",
    "v05_domain_quota",
    # tier 2: r6-checked queries whose ROUND-7 implementations changed
    # the most (VERDICT r6 Next #2: "put anything task #1 touches in
    # the sample too") — the constant-cap count-join skip (d24/d27/
    # d61), the semdedup/kmeans driver paths (e08/e10), the distill
    # trainer reshape (d58).
    "d24_stratified_sample", "d27_domain_cap", "d61_mixture_sample",
    "e08_semdedup_survivors", "e10_semantic_pipeline",
    "d58_distill_classifier", "e09_kmeans_clusters",
    "d62_mixture_tokens", "d49_quantile_buckets",
    "d53_dsir_weights", "d56_gumbel_resample", "d59_decision_diff",
    "d60_lm_xent", "d52_winnow_shared_passages", "d37_estimated_jaccard",
]


def _reorder(d: dict) -> dict:
    missing = [k for k in _DRIVER_PRIORITY if k not in QUERIES]
    if missing:  # typo guard: priority list must track the registry
        raise KeyError(f"_DRIVER_PRIORITY names unknown queries: {missing}")
    head = {k: d[k] for k in _DRIVER_PRIORITY if k in d}
    return head | {k: v for k, v in d.items() if k not in head}


QUERIES = _reorder(QUERIES)
ORACLES = _reorder(ORACLES)
