"""Rule-name registry: recipe symbol -> Column-expression factory.

This is the Spark-side analogue of the reference's ``lookup`` /
``decode_function`` dynamic symbol resolution
(src/DataCurator.jl:3537-3564, 1852-1909, 2341-2402): every condition and
action name a recipe may use resolves here, eagerly, at compile time.
Unknown names raise ``RecipeError`` before any job runs.

Conditions compile to boolean ``Column`` expressions; combinators
``all``/``any``/``not`` fold with ``&``/``|``/``~`` (Catalyst
short-circuits AND/OR, giving the reference's cheap-first early-exit for
free — SURVEY.md §4). Actions compile to small ``ActionSpec`` effect
descriptors the engine lowers into the decision/transform/counter plan.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import reduce
from typing import Any, Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

from datacurator_jl_spark.functions import predicates as P
from datacurator_jl_spark.functions import scrub as S
from datacurator_jl_spark.functions import text as X
from datacurator_jl_spark.functions import transforms as TR
from datacurator_jl_spark.functions.arrow_stats import token_stats_arrow
from datacurator_jl_spark.functions.classifier import linear_score
from datacurator_jl_spark.functions.compress import compression_ratio_arrow
from datacurator_jl_spark.functions.rep_stats import rep_stats_arrow
from datacurator_jl_spark.recipe import RecipeError, RecipeSpec

STATS_COL = "_dc_stats"
REP_COL = "_dc_rep"
CLS_COL = "_dc_cls"
COMP_COL = "_dc_comp"


@dataclass
class RuleContext:
    """Column bindings for rule compilation."""

    name_col: str = "url"
    text_col: str = "text"
    html_col: str | None = "html"
    available_cols: list[str] | None = None
    spec: RecipeSpec | None = None
    # the SHARED_COLS the engine pre-projected on the frame; every other
    # shared column is built inline by shared()
    shared_cols: tuple[str, ...] = ()
    # input cardinality, computed ONCE by the engine (parquet metadata
    # count) iff the recipe uses a row-count condition
    row_count: int | None = None

    @property
    def name(self) -> Column:
        return F.col(self.name_col)

    @property
    def text(self) -> Column:
        return F.col(self.text_col)

    def shared(self, col: str) -> Column:
        """The shared column ``col`` (a SHARED_COLS key): the engine's
        pre-projection when present, else the same factory over the
        text column — one kernel either way."""
        if col in self.shared_cols:
            return F.col(col)
        return SHARED_COLS[col][1](self.text)

    @property
    def stats(self) -> Column:
        """The shared word-stats struct every word heuristic reads."""
        return self.shared(STATS_COL)

    @property
    def size(self) -> Column:
        html = (
            F.col(self.html_col)
            if self.html_col and (self.available_cols is None or self.html_col in self.available_cols)
            else F.lit(None).cast("binary")
        )
        return P.size_col(html, self.text)


# ---------------------------------------------------------------------------
# Conditions
# ---------------------------------------------------------------------------

# name -> (min_args, max_args, factory(ctx, *args) -> Column)
CONDITIONS: dict[str, tuple[int, int, Callable[..., Column]]] = {}


def _cond(name: str, lo: int, hi: int):
    def deco(fn):
        CONDITIONS[name] = (lo, hi, fn)
        return fn

    return deco


def _between(c: Column, lo, hi) -> Column:
    """lo < c < hi (open band), with ``c`` built once."""
    return (c > lo) & (c < hi)


# -- trivial ---------------------------------------------------------------
_cond("always", 0, 0)(lambda ctx: F.lit(True))
_cond("always_triggers", 0, 0)(lambda ctx: F.lit(True))
_cond("never", 0, 0)(lambda ctx: F.lit(False))
_cond("always_fails", 0, 0)(lambda ctx: F.lit(False))
# reference `sample` is unseeded p=0.5 (src/DataCurator.jl:3283-3285); we
# seed it for determinism (SURVEY.md §4 point 4).
_cond("sample", 0, 2)(
    lambda ctx, p=0.5, seed=42: F.rand(int(seed)) < float(p)
)

# -- name predicates (on the node-name column) ------------------------------
_cond("startswith", 1, 2)(lambda ctx, p, regex=False: P.startswith(ctx.name, p, regex))
_cond("endswith", 1, 2)(lambda ctx, p, regex=False: P.endswith(ctx.name, p, regex))
_cond("contains", 1, 2)(lambda ctx, p, regex=False: P.contains(ctx.name, p, regex))
_cond("integer_name", 0, 0)(lambda ctx: P.integer_name(ctx.name))
_cond("ends_with_integer", 0, 0)(lambda ctx: P.ends_with_integer(ctx.name))
_cond("begins_with_integer", 0, 0)(lambda ctx: P.begins_with_integer(ctx.name))
_cond("contains_integer", 0, 0)(lambda ctx: P.contains_integer(ctx.name))
_cond("has_integer_in_name", 0, 0)(lambda ctx: P.contains_integer(ctx.name))
_cond("has_float_in_name", 0, 0)(lambda ctx: P.has_float_in_name(ctx.name))
_cond("filename_ends_with_integer", 0, 0)(
    lambda ctx: P.filename_ends_with_integer(ctx.name)
)
_cond("is_lower", 0, 0)(lambda ctx: P.is_lower(ctx.name))
_cond("is_upper", 0, 0)(lambda ctx: P.is_upper(ctx.name))
_cond("has_lower", 0, 0)(lambda ctx: P.has_lower(ctx.name))
_cond("has_upper", 0, 0)(lambda ctx: P.has_upper(ctx.name))
_cond("has_whitespace", 0, 0)(lambda ctx: P.has_whitespace(ctx.name))
_cond("is_hidden", 0, 0)(lambda ctx: P.is_hidden(ctx.name))
_cond("not_hidden", 0, 0)(lambda ctx: P.not_hidden(ctx.name))
# -- list membership on the name column (domain allow/blocklists). The
#    inline form compiles to an In expression (codegen hash set) — right
#    for the recipe surface's dozens-to-thousands of domains; a
#    corpus-scale list (millions of URLs) belongs in
#    dataframe_ops.blocklist_filter's broadcast anti-join instead. Null
#    name -> null condition (failed), matching SQL IN semantics.
_cond("name_in_list", 1, 1)(
    lambda ctx, vals: ctx.name.isin(
        sorted(str(v) for v in _name_list(vals, "name_in_list"))
    )
)
_cond("name_not_in_list", 1, 1)(
    lambda ctx, vals: ~ctx.name.isin(
        sorted(str(v) for v in _name_list(vals, "name_not_in_list"))
    )
)
_cond("file_extension_one_of", 1, 1)(
    lambda ctx, exts: P.file_extension_one_of(ctx.name, list(exts))
)
_cond("is_type_file", 1, 1)(lambda ctx, ext: P.is_type_file(ctx.name, ext))
_cond("is_csv_file", 0, 0)(lambda ctx: P.is_type_file(ctx.name, "csv"))
_cond("is_html_file", 0, 0)(
    lambda ctx: P.file_extension_one_of(ctx.name, ["html", "htm"])
)

# -- size predicates ---------------------------------------------------------
_cond("file_smaller_than", 1, 1)(
    lambda ctx, s: ctx.size < F.lit(P.descriptive_size(s))
)
_cond("file_greater_than", 1, 1)(
    lambda ctx, s: ctx.size > F.lit(P.descriptive_size(s))
)
_cond("size_between", 1, 1)(
    lambda ctx, lohi: (ctx.size > F.lit(P.descriptive_size(lohi[0])))
    & (ctx.size < F.lit(P.descriptive_size(lohi[1])))
)

# -- text-quality predicates (the graft's quality-filter core) ---------------
# has_text = "contains any non-whitespace char". rlike('\S'), NOT
# length(trim(..))>0: F.trim strips only spaces, so "\n" would count as
# text (round-1 fuzz bug). Matches oracle re.search(r'\S') / DuckDB
# regexp_matches(text, '\S').
_cond("has_text", 0, 0)(
    lambda ctx: ctx.text.isNotNull() & ctx.text.rlike(r"\S")
)
_cond("min_length", 1, 1)(lambda ctx, n: F.length(ctx.text) >= int(n))
_cond("max_length", 1, 1)(lambda ctx, n: F.length(ctx.text) <= int(n))
_cond("min_words", 1, 1)(
    lambda ctx, n: X.n_words(ctx.text, ctx.stats) >= int(n)
)
_cond("max_words", 1, 1)(
    lambda ctx, n: X.n_words(ctx.text, ctx.stats) <= int(n)
)
_cond("word_count_between", 1, 1)(
    lambda ctx, lohi: _between(X.n_words(ctx.text, ctx.stats), int(lohi[0]), int(lohi[1]))
)
_cond("mean_word_length_between", 1, 1)(
    lambda ctx, lohi: _between(
        X.mean_word_length(ctx.text, ctx.stats), float(lohi[0]), float(lohi[1])
    )
)
_cond("max_word_length_below", 1, 1)(
    lambda ctx, n: X.max_word_length(ctx.text) < int(n)
)
_cond("symbol_ratio_below", 1, 1)(
    lambda ctx, r: X.symbol_ratio(ctx.text, ctx.stats) < float(r)
)
_cond("alpha_ratio_above", 1, 1)(lambda ctx, r: X.alpha_ratio(ctx.text) > float(r))
_cond("digit_ratio_below", 1, 1)(lambda ctx, r: X.digit_ratio(ctx.text) < float(r))
_cond("uppercase_ratio_below", 1, 1)(
    lambda ctx, r: X.uppercase_ratio(ctx.text) < float(r)
)
# ftfy-style mis-decode detector (functions/text.py encoding-noise
# section): U+FFFD + stray control chars + mojibake sequences per char.
_cond("encoding_noise_below", 1, 1)(
    lambda ctx, r: X.encoding_noise_ratio(ctx.text) < float(r)
)
_cond("stopword_ratio_above", 1, 1)(
    lambda ctx, r: X.stopword_ratio(ctx.text, ctx.stats) > float(r)
)
_cond("min_stopword_hits", 1, 1)(
    lambda ctx, n: X.stopword_hits(ctx.text, ctx.stats) >= int(n)
)
_cond("word_repetition_below", 1, 1)(
    lambda ctx, r: X.distinct_word_ratio(ctx.text, ctx.stats)
    > F.lit(1.0) - float(r)
)
_cond("line_repetition_below", 1, 1)(
    lambda ctx, r: X.distinct_line_ratio(ctx.text, ctx.stats) > F.lit(1.0) - float(r)
)
# -- Gopher repetition conditions (functions/rep_stats.py struct). All
#    read the shared ``_dc_rep`` struct (ONE Arrow pass for all 13
#    fields across all rules). n is validated at Column-build time —
#    still fail-before-data (Pipeline compiles every rule before
#    touching rows). --------------------------------------------------------


def _rep_cond(ctx: "RuleContext", field: str, r) -> Column:
    # The struct itself is pinned zero-for-null (rep_stats.py), but the
    # CONDITION must be null on null text — the oracle contract every
    # text condition follows (null ⇒ failed, not "not repetitive"):
    # an unguarded `0.0 < r` would silently KEEP null docs under
    # act_on_success=true recipes.
    return F.when(
        ctx.text.isNotNull(), ctx.shared(REP_COL).getField(field) < float(r)
    )


def _rep_ngram_cond(ctx: "RuleContext", prefix: str, n, r, allowed) -> Column:
    if int(n) not in allowed:
        raise RecipeError(
            f"{prefix}_ngram condition: n must be one of {sorted(allowed)}, got {n!r}"
        )
    return _rep_cond(ctx, f"{prefix}{int(n)}", r)


REPSTATS_CONDITIONS = {
    "top_ngram_char_frac_below",
    "dup_ngram_char_frac_below",
    "dup_line_frac_below",
    "dup_line_char_frac_below",
    "dup_para_frac_below",
    "dup_para_char_frac_below",
}

_cond("top_ngram_char_frac_below", 2, 2)(
    lambda ctx, n, r: _rep_ngram_cond(ctx, "top", n, r, (2, 3, 4))
)
_cond("dup_ngram_char_frac_below", 2, 2)(
    lambda ctx, n, r: _rep_ngram_cond(ctx, "dup", n, r, (5, 6, 7, 8, 9, 10))
)
_cond("dup_line_frac_below", 1, 1)(
    lambda ctx, r: _rep_cond(ctx, "dup_line_frac", r)
)
_cond("dup_line_char_frac_below", 1, 1)(
    lambda ctx, r: _rep_cond(ctx, "dup_line_char_frac", r)
)
_cond("dup_para_frac_below", 1, 1)(
    lambda ctx, r: _rep_cond(ctx, "dup_para_frac", r)
)
_cond("dup_para_char_frac_below", 1, 1)(
    lambda ctx, r: _rep_cond(ctx, "dup_para_char_frac", r)
)

_cond("ellipsis_line_ratio_below", 1, 1)(
    lambda ctx, r: X.ellipsis_line_ratio(ctx.text) < float(r)
)
_cond("bullet_line_ratio_below", 1, 1)(
    lambda ctx, r: X.bullet_line_ratio(ctx.text) < float(r)
)
_cond("terminal_punct_ratio_above", 1, 1)(
    lambda ctx, r: X.terminal_punct_line_ratio(ctx.text) > float(r)
)
_cond("lang_is", 1, 1)(
    lambda ctx, code: X.lang_id(ctx.text, ctx.stats) == code
)
_cond("lang_confident", 1, 1)(
    lambda ctx, k: X.lang_top_score(ctx.text, ctx.stats) >= int(k)
)
_cond("perplexity_below", 1, 1)(
    lambda ctx, p: X.perplexity_proxy(ctx.text, ctx.stats) < float(p)
)
_cond("quality_above", 1, 1)(
    lambda ctx, q: X.quality_score(ctx.text, ctx.stats) > float(q)
)
_cond("contains_pii", 0, 0)(lambda ctx: S.contains_pii(ctx.text))
_cond("contains_toxicity", 0, 0)(lambda ctx: S.contains_toxicity(ctx.text))
# learned-filter seam: hashed linear classifier score (FineWeb-Edu-style).
# Stand-in weights unless DC_QUALITY_MODEL points at a json model —
# the same explicit-path > env > stand-in contract as the langid/
# perplexity stages. Null text / zero tokens -> null (condition fails).
# Reads the shared ``_dc_cls`` column (ONE Arrow stage no matter how
# many rules score).
CLASSIFIER_CONDITIONS = {"classifier_score_above", "classifier_score_below"}

# zlib compression-ratio band-pass (functions/compress.py): repetition/
# entropy proxy. Null/empty text -> null ratio -> condition fails.
# Reads the shared ``_dc_comp`` struct — same single-Arrow-stage
# discipline as _dc_cls/_dc_rep.
COMPRESSION_CONDITIONS = {"compression_ratio_between"}

_cond("compression_ratio_between", 1, 1)(
    lambda ctx, lohi: _between(
        ctx.shared(COMP_COL).getField("ratio"), float(lohi[0]), float(lohi[1])
    )
)
_cond("classifier_score_above", 1, 1)(
    lambda ctx, thr: ctx.shared(CLS_COL).getField("score") > float(thr)
)
_cond("classifier_score_below", 1, 1)(
    lambda ctx, thr: ctx.shared(CLS_COL).getField("score") < float(thr)
)

# Shared pre-projections over the text column: column -> (the condition
# pool that asks for it or None = always, factory). The engine projects
# each ONCE and every rule reads it; RuleContext.shared builds the same
# factory inline when a condition is compiled without the engine.
# Catalyst keeps the projections separate (CollapseProject refuses to
# inline a non-cheap alias referenced many times), whole-stage codegen
# fuses them into one pass, and one no rule references is column-pruned
# away entirely. Measured ~3x over re-deriving inside each rule
# (conditional CASE branches get no codegen subexpression elimination).
# The scores are struct-wrapped like _dc_stats: CollapseProject inlines
# a bare non-cheap double alias into every reference (re-extracting the
# UDF once per use), but leaves GetStructField reads on the
# pre-projection — one Arrow stage regardless of rule count (pinned in
# test_plans).
SHARED_COLS: dict[str, tuple[set[str] | None, Callable[[Column], Column]]] = {
    STATS_COL: (None, token_stats_arrow),
    REP_COL: (REPSTATS_CONDITIONS, rep_stats_arrow),
    CLS_COL: (CLASSIFIER_CONDITIONS, lambda t: F.struct(linear_score(t).alias("score"))),
    COMP_COL: (COMPRESSION_CONDITIONS,
               lambda t: F.struct(compression_ratio_arrow(t).alias("ratio"))),
}


# -- table-shape assertions (reference has_n_columns/has_columns_named/
#    column_names, src/DataCurator.jl:619-631, and has_n_rows family,
#    :162-196 — the sqlite_queries testset conditions). Schema asserts
#    fold to literal booleans at COMPILE time (Catalyst constant-folds
#    them away); row-count asserts compare the engine-computed input
#    cardinality (one parquet-metadata count, only when used). ------------


def _user_cols(ctx: "RuleContext") -> list[str]:
    if ctx.available_cols is None:
        raise RecipeError("schema conditions need a compiled DataFrame context")
    return [c for c in ctx.available_cols if not c.startswith("_dc_")]


def _name_list(names: Any, cond: str) -> set[str]:
    # a bare string would silently become a CHARACTER set
    # (set('url') == {'u','r','l'} -> constant-false condition)
    if isinstance(names, str) or not isinstance(names, (list, tuple)):
        raise RecipeError(f"{cond} needs a LIST of column names, got {names!r}")
    return set(names)


_cond("has_n_columns", 1, 1)(
    lambda ctx, n: F.lit(len(_user_cols(ctx)) == int(n))
)
_cond("has_columns_named", 1, 1)(
    lambda ctx, names: F.lit(
        _name_list(names, "has_columns_named") <= set(_user_cols(ctx))
    )
)
_cond("column_names", 1, 1)(
    lambda ctx, names: F.lit(
        _name_list(names, "column_names") == set(_user_cols(ctx))
    )
)

ROWCOUNT_CONDITIONS = {"has_n_rows", "less_than_n_rows", "more_than_n_rows"}


def _rowcount(ctx: "RuleContext") -> int:
    if ctx.row_count is None:
        raise RecipeError(
            "row-count conditions need the engine-computed row_count "
            "(run via Pipeline.apply, or set RuleContext.row_count)"
        )
    return ctx.row_count


_cond("has_n_rows", 1, 1)(lambda ctx, n: F.lit(_rowcount(ctx) == int(n)))
_cond("less_than_n_rows", 1, 1)(lambda ctx, n: F.lit(_rowcount(ctx) < int(n)))
_cond("more_than_n_rows", 1, 1)(lambda ctx, n: F.lit(_rowcount(ctx) > int(n)))


# -- binary-payload probes (reference is_img/is_png content sniffing,
#    src/DataCurator.jl:3230-3242 — cheap magic-byte checks, ordered
#    ahead of any decode stage) -------------------------------------------------
def _payload(ctx: "RuleContext") -> Column:
    if not ctx.html_col:
        raise RecipeError("payload conditions need an html/binary column")
    return F.col(ctx.html_col)


def _payload_type_is(ctx: "RuleContext", kind: str) -> Column:
    from datacurator_jl_spark.multimodal.binary import sniff_content_type

    return sniff_content_type(_payload(ctx)) == kind


_cond("payload_type_is", 1, 1)(_payload_type_is)
_cond("payload_nonempty", 0, 0)(
    lambda ctx: _payload(ctx).isNotNull() & (F.length(_payload(ctx)) > 0)
)

# -- generic column comparisons (buildcomp surface on arbitrary columns) -----
from datacurator_jl_spark.operators.buildcomp import buildcomp  # noqa: E402

_cond("col", 2, 3)(
    lambda ctx, colname, op, val=None: buildcomp(F.col(colname), op, val)
)


# -- numeric name-extraction (reference `extract` special form + read_int
#    family, src/DataCurator.jl:2341-2402, 3290-3302) -----------------------
# Each extractor is a Column over the node name, null when absent. As a
# CONDITION: bare name = "extractable" (non-null); with [op, val] args it
# compares the extracted value (["read_postfix_int", ">", 5]). As an
# ACTION: ["extract", "<extractor>", "<out_col>"] derives a new column.

EXTRACTORS: dict[str, Callable[["RuleContext"], Column]] = {
    "read_int": lambda ctx: P.read_int(ctx.name),
    "read_float": lambda ctx: P.read_float(ctx.name),
    "read_prefix_int": lambda ctx: P.read_prefix_int(ctx.name),
    "read_postfix_int": lambda ctx: P.read_postfix_int(ctx.name),
    "basename": lambda ctx: P.basename(ctx.name),
    "stem": lambda ctx: P.stem(ctx.name),
    "extension": lambda ctx: P.extension(ctx.name),
}


def _extractor_cond(name: str):
    def fn(ctx: "RuleContext", op=None, val=None):
        col = EXTRACTORS[name](ctx)
        if op is None:
            return col.isNotNull()
        if val is None:
            raise RecipeError(f"condition {name!r} needs [op, value] or no args")
        return buildcomp(col, op, val)

    return fn


for _name in EXTRACTORS:
    _cond(_name, 0, 2)(_extractor_cond(_name))


# -- foreign-function bridge ---------------------------------------------------
# The reference resolves `python.mod.fn` recipe symbols into callables
# (lookup/decode_python, src/DataCurator.jl:3537-3564, 3509-3524). Here a
# user predicate is imported eagerly at compile time (fail-before-data)
# and wrapped as an Arrow-batched pandas UDF over the text column:
# the function receives a pandas.Series of texts and returns a boolean
# Series — vectorized by contract, never per-row.


def _import_user_fn(path: str):
    import importlib

    mod_name, _, fn_name = path.rpartition(".")
    if not mod_name:
        raise RecipeError(f"python condition needs 'module.fn', got {path!r}")
    try:
        mod = importlib.import_module(mod_name)
        return getattr(mod, fn_name)
    except (ImportError, AttributeError) as e:
        raise RecipeError(f"cannot resolve python condition {path!r}: {e}") from e


def _python_cond(ctx: "RuleContext", path: str, *args) -> Column:
    fn = _import_user_fn(path)

    def batch(texts):
        import pandas as pd

        out = fn(texts, *args)
        return out.astype("boolean") if hasattr(out, "astype") else pd.Series(out)

    from pyspark.sql import types as T

    udf = F.pandas_udf(batch, returnType=T.BooleanType())
    return udf(ctx.text)


_cond("python", 1, 6)(_python_cond)


# ---------------------------------------------------------------------------
# Actions
# ---------------------------------------------------------------------------


@dataclass
class ActionSpec:
    """One effect. kind:
    - 'keep'   explicit keep decision
    - 'drop'   terminal drop decision (the quality filter's counteraction;
               reference dostep 3-tuple, src/DataCurator.jl:1544-1568)
    - 'transform'  col-expression rewrite of target_col
    - 'derive' NEW column from the node name (extract special form)
    - 'count'  increment named counter
    - 'list'   add node to named file list
    - 'quit'   global early exit (reference :quit, src/DataCurator.jl:3205)
    - 'noop'   keep_going/proceed
    """

    kind: str
    name: str | None = None
    transform: Callable[[Column], Column] | None = None
    target_col: str | None = None
    reason: str | None = None


# text/name transform functions usable inside transform actions
TEXT_TRANSFORMS: dict[str, tuple[int, int, Callable[..., Column]]] = {
    "scrub_pii": (0, 0, lambda col: S.scrub_pii(col)),
    "tolowercase": (0, 0, TR.tolowercase),
    "touppercase": (0, 0, TR.touppercase),
    "whitespace_to": (1, 1, TR.whitespace_to),
    "replace_pattern": (2, 2, TR.replace_pattern),
    "remove_pattern": (1, 1, TR.remove_pattern),
    "remove_from_to_inclusive": (2, 2, TR.remove_from_to_inclusive),
    "remove_from_to_exclusive": (2, 2, TR.remove_from_to_exclusive),
    "remove_from_to_extension_inclusive": (1, 1, TR.remove_from_to_extension_inclusive),
    "remove_from_to_extension_exclusive": (1, 1, TR.remove_from_to_extension_exclusive),
    "prefixfilename": (1, 1, TR.prefixfilename),
    "postfixfilename": (1, 1, TR.postfixfilename),
    "change_path": (2, 2, TR.change_path),
    "flatten_to": (1, 1, TR.flatten_to),
    "normalize_whitespace": (0, 0, TR.normalize_whitespace),
    "normalize_unicode_punct": (0, 0, TR.normalize_unicode_punct),
    "nfc_normalize": (0, 0, TR.nfc_normalize),
}

_SIMPLE_ACTIONS = {
    "keep": lambda: [ActionSpec("keep")],
    "drop": lambda: [ActionSpec("drop")],
    "remove": lambda: [ActionSpec("drop")],
    "delete_file": lambda: [ActionSpec("drop")],
    "quit": lambda: [ActionSpec("quit")],
    "halt": lambda: [ActionSpec("quit")],
    "quit_on_fail": lambda: [ActionSpec("quit")],
    "keep_going": lambda: [ActionSpec("noop")],
    "proceed": lambda: [ActionSpec("noop")],
    "noop": lambda: [ActionSpec("noop")],
    "show_warning": lambda: [ActionSpec("noop")],
    "scrub_pii": lambda: [ActionSpec("transform", transform=S.scrub_pii, target_col="__text__")],
}


def compile_condition(expr: Any, ctx: RuleContext) -> Column:
    """Recursively compile a condition expression to a boolean Column."""
    spec = ctx.spec
    if isinstance(expr, str):
        if spec and expr in spec.common_conditions:
            return compile_condition(spec.common_conditions[expr], ctx)
        if expr not in CONDITIONS:
            raise RecipeError(f"unknown condition {expr!r}")
        lo, hi, fn = CONDITIONS[expr]
        if lo > 0:
            raise RecipeError(f"condition {expr!r} requires {lo} argument(s)")
        return fn(ctx)
    if isinstance(expr, list) and expr:
        head = expr[0]
        if head in ("all", "and", "∀"):
            return reduce(
                lambda a, b: a & b, (compile_condition(e, ctx) for e in expr[1:])
            )
        if head in ("any", "or"):
            return reduce(
                lambda a, b: a | b, (compile_condition(e, ctx) for e in expr[1:])
            )
        if head == "not":
            inner = expr[1] if len(expr) == 2 else expr[1:]
            return ~compile_condition(inner, ctx)
        if isinstance(head, list):
            # nested composition like [["a"],["b"]] -> implicit all
            return reduce(lambda a, b: a & b, (compile_condition(e, ctx) for e in expr))
        if ctx.spec and head in ctx.spec.common_conditions:
            if len(expr) > 1:
                raise RecipeError(f"common condition {head!r} takes no args")
            return compile_condition(ctx.spec.common_conditions[head], ctx)
        if head not in CONDITIONS:
            raise RecipeError(f"unknown condition {head!r}")
        lo, hi, fn = CONDITIONS[head]
        args = expr[1:]
        if not (lo <= len(args) <= hi):
            raise RecipeError(
                f"condition {head!r} takes {lo}..{hi} args, got {len(args)}"
            )
        return fn(ctx, *args)
    raise RecipeError(f"cannot compile condition {expr!r}")


WRITE_MODES = ("copy", "move", "inplace")


def _dict_action_parts(expr: dict) -> tuple[list, list, str]:
    """Validate + split the reference's Dict transform form
    ``{name_transform=[...], content_transform=[...], mode=...}``
    (decode_function(::AbstractDict), src/DataCurator.jl:1893-1909)."""
    unknown = set(expr) - {"name_transform", "content_transform", "mode"}
    if unknown:
        raise RecipeError(f"unknown keys in transform dict: {sorted(unknown)}")
    nt = expr.get("name_transform", [])
    ct = expr.get("content_transform", [])
    if not isinstance(nt, list) or isinstance(nt, str):
        nt = [nt]
    if not isinstance(ct, list) or isinstance(ct, str):
        ct = [ct]
    mode = expr.get("mode", "copy")
    if mode not in WRITE_MODES:
        raise RecipeError(f"mode must be one of {WRITE_MODES}, got {mode!r}")
    if not nt and not ct:
        raise RecipeError("transform dict needs name_transform and/or content_transform")
    return nt, ct, mode


def compile_action(expr: Any, ctx: RuleContext) -> list[ActionSpec]:
    """Compile an action expression to a list of effects (chains flatten)."""
    spec = ctx.spec
    if expr is None:
        return [ActionSpec("noop")]
    if isinstance(expr, dict):
        nt, ct, _mode = _dict_action_parts(expr)  # mode recorded on spec at parse
        out: list[ActionSpec] = []
        if nt:
            fns = [_compile_transform(e) for e in nt]
            out.append(
                ActionSpec(
                    "transform",
                    transform=lambda col, fns=fns: reduce(lambda c, f: f(c), fns, col),
                    target_col=ctx.name_col,
                )
            )
        if ct:
            fns = [_compile_transform(e) for e in ct]
            out.append(
                ActionSpec(
                    "transform",
                    transform=lambda col, fns=fns: reduce(lambda c, f: f(c), fns, col),
                    target_col=ctx.text_col,
                )
            )
        return out
    if isinstance(expr, str):
        if spec and expr in spec.common_actions:
            return compile_action(spec.common_actions[expr], ctx)
        if expr == "extract_text_from_html":
            # Backfill the text column from the raw html payload when
            # text is missing/empty (native extraction,
            # multimodal.extract_html_text) — the content-loading step
            # of the reference made columnar.
            if not ctx.html_col:
                raise RecipeError("extract_text_from_html needs an html column")
            from datacurator_jl_spark.multimodal.binary import extract_html_text

            html = F.col(ctx.html_col)

            def backfill(col: Column) -> Column:
                # blank = no non-whitespace char (space-only trim misses \n)
                return F.when(
                    col.isNull() | ~col.rlike(r"\S"),
                    extract_html_text(html),
                ).otherwise(col)

            return [ActionSpec("transform", transform=backfill, target_col=ctx.text_col)]
        if expr in _SIMPLE_ACTIONS:
            acts = _SIMPLE_ACTIONS[expr]()
            for a in acts:
                if a.target_col == "__text__":
                    a.target_col = ctx.text_col
            return acts
        if expr in TEXT_TRANSFORMS:
            lo, hi, fn = TEXT_TRANSFORMS[expr]
            if lo > 0:
                raise RecipeError(f"transform {expr!r} requires arguments")
            return [ActionSpec("transform", transform=fn, target_col=ctx.text_col)]
        raise RecipeError(f"unknown action {expr!r}")
    if isinstance(expr, list) and expr:
        head = expr[0]
        if head in ("all_actions", "chain"):
            out: list[ActionSpec] = []
            for e in expr[1:]:
                out.extend(compile_action(e, ctx))
            return out
        if head == "extract":
            # ["extract", "<extractor>", "<out_col>"?] -> derive a new
            # column from the node name (reference `extract` special form,
            # src/DataCurator.jl:2341-2402: pull the numeric/name part out
            # of the node and carry it alongside).
            if len(expr) not in (2, 3) or expr[1] not in EXTRACTORS:
                raise RecipeError(
                    f"extract needs ['extract', one of {sorted(EXTRACTORS)}, out_col?]"
                )
            exname = expr[1]
            out_col = expr[2] if len(expr) == 3 else exname
            make = EXTRACTORS[exname]
            return [
                ActionSpec(
                    "derive",
                    name=out_col,
                    transform=lambda _col, make=make, ctx=ctx: make(ctx),
                    target_col=out_col,
                )
            ]
        if head in ("count", "increment_counter"):
            if len(expr) != 2:
                raise RecipeError(f"{head} takes exactly one arg (counter name)")
            return [ActionSpec("count", name=expr[1])]
        if head in ("add_to_file_list", "->", "aggregate_to"):
            if len(expr) != 2:
                raise RecipeError(f"{head} takes exactly one arg (list name)")
            return [ActionSpec("list", name=expr[1])]
        if head in ("drop_log", "log_to_file_with_message"):
            reason = expr[1] if len(expr) > 1 else None
            return [ActionSpec("drop", reason=reason)]
        if head in ("transform_text", "transform_inplace", "transform_copy"):
            # chained transforms fold left-to-right (collapse_functions,
            # reference src/DataCurator.jl:1919-1924)
            fns = [_compile_transform(e) for e in expr[1:]]
            return [
                ActionSpec(
                    "transform",
                    transform=lambda col, fns=fns: reduce(lambda c, f: f(c), fns, col),
                    target_col=ctx.text_col,
                )
            ]
        if head == "transform_name":
            fns = [_compile_transform(e) for e in expr[1:]]
            return [
                ActionSpec(
                    "transform",
                    transform=lambda col, fns=fns: reduce(lambda c, f: f(c), fns, col),
                    target_col=ctx.name_col,
                )
            ]
        if head == "transform_col":
            if len(expr) < 3:
                raise RecipeError("transform_col needs [col, fn, ...]")
            fns = [_compile_transform(e) for e in expr[2:]]
            return [
                ActionSpec(
                    "transform",
                    transform=lambda col, fns=fns: reduce(lambda c, f: f(c), fns, col),
                    target_col=expr[1],
                )
            ]
        if spec and head in spec.common_actions and len(expr) == 1:
            return compile_action(spec.common_actions[head], ctx)
        if head in TEXT_TRANSFORMS:
            fn = _compile_transform(expr)
            return [ActionSpec("transform", transform=fn, target_col=ctx.text_col)]
        if head in _SIMPLE_ACTIONS and len(expr) == 1:
            return compile_action(head, ctx)
        raise RecipeError(f"unknown action {expr!r}")
    raise RecipeError(f"cannot compile action {expr!r}")


def _compile_transform(e: Any) -> Callable[[Column], Column]:
    if isinstance(e, str):
        name, args = e, []
    elif isinstance(e, list) and e and isinstance(e[0], str):
        name, args = e[0], e[1:]
    else:
        raise RecipeError(f"bad transform spec {e!r}")
    if name == "apply_to":
        # combinator: apply an inner transform chain to the last path
        # component only (reference src/DataCurator.jl:3311-3319)
        if not args:
            raise RecipeError("apply_to needs at least one inner transform")
        fns = [_compile_transform(a) for a in args]
        inner = lambda col, fns=fns: reduce(lambda c, f: f(c), fns, col)  # noqa: E731
        return lambda col: TR.apply_to(col, inner)
    if name not in TEXT_TRANSFORMS:
        raise RecipeError(f"unknown transform {name!r}")
    lo, hi, fn = TEXT_TRANSFORMS[name]
    if not (lo <= len(args) <= hi):
        raise RecipeError(f"transform {name!r} takes {lo}..{hi} args, got {len(args)}")
    return lambda col: fn(col, *args)


# metric expressions usable as counter increments.
# token_count goes through the DC_TOKENIZER seam (functions/tokenizer.py)
# so recipe counters charge REAL BPE tokens when a tokenizer is
# configured; unset, it is the identical native Column expression.
METRICS: dict[str, Callable[[RuleContext], Column]] = {
    "size_of_file": lambda ctx: ctx.size,
    "n_chars": lambda ctx: X.n_chars(ctx.text),
    "n_words": lambda ctx: F.size(X.words(ctx.text)),
    "token_count": lambda ctx: _seam_token_count(ctx.text),
}


def _seam_token_count(text: Column) -> Column:
    from datacurator_jl_spark.functions.tokenizer import token_count_column

    return token_count_column(text)


def compile_metric(expr: Any, ctx: RuleContext) -> Column:
    if expr is None:
        return F.lit(1).cast("long")
    if isinstance(expr, str) and expr in METRICS:
        return METRICS[expr](ctx).cast("long")
    raise RecipeError(f"unknown counter increment fn {expr!r}")


def validate_expr(expr: Any, kind: str, spec: RecipeSpec) -> None:
    """Eager compile-time validation: structural walk checking names and
    arity against the registry WITHOUT building Column objects (so recipes
    validate before any SparkSession exists — fail-before-data, reference
    src/DataCurator.jl:2911-2948)."""
    if kind == "condition":
        _validate_condition(expr, spec)
    elif kind == "action":
        _validate_action(expr, spec)
    elif kind == "metric":
        if expr is not None and not (isinstance(expr, str) and expr in METRICS):
            raise RecipeError(f"unknown counter increment fn {expr!r}")
    else:  # pragma: no cover
        raise ValueError(kind)


def _validate_condition(expr: Any, spec: RecipeSpec) -> None:
    if isinstance(expr, str):
        if expr in spec.common_conditions:
            return _validate_condition(spec.common_conditions[expr], spec)
        if expr not in CONDITIONS:
            raise RecipeError(f"unknown condition {expr!r}")
        lo, _hi, _ = CONDITIONS[expr]
        if lo > 0:
            raise RecipeError(f"condition {expr!r} takes {lo} argument(s), got 0")
        return
    if isinstance(expr, list) and expr:
        head = expr[0]
        if head in ("all", "and", "any", "or", "∀"):
            if len(expr) < 2:
                raise RecipeError(f"{head!r} needs at least one condition")
            for e in expr[1:]:
                _validate_condition(e, spec)
            return
        if head == "not":
            inner = expr[1] if len(expr) == 2 else expr[1:]
            return _validate_condition(inner, spec)
        if isinstance(head, list):
            for e in expr:
                _validate_condition(e, spec)
            return
        if head in spec.common_conditions:
            if len(expr) > 1:
                raise RecipeError(f"common condition {head!r} takes no args")
            return _validate_condition(spec.common_conditions[head], spec)
        if head == "python":
            # eager import: a bad module/function fails at compile time
            if len(expr) < 2 or not isinstance(expr[1], str):
                raise RecipeError("python condition needs ['python', 'module.fn', ...]")
            _import_user_fn(expr[1])
            return
        if head not in CONDITIONS:
            raise RecipeError(f"unknown condition {head!r}")
        lo, hi, _ = CONDITIONS[head]
        nargs = len(expr) - 1
        if not (lo <= nargs <= hi):
            raise RecipeError(f"condition {head!r} takes {lo}..{hi} args, got {nargs}")
        return
    raise RecipeError(f"cannot parse condition {expr!r}")


def _validate_transform_spec(e: Any) -> None:
    if isinstance(e, str):
        name, nargs = e, 0
    elif isinstance(e, list) and e and isinstance(e[0], str):
        name, nargs = e[0], len(e) - 1
    else:
        raise RecipeError(f"bad transform spec {e!r}")
    if name == "apply_to":
        if nargs < 1:
            raise RecipeError("apply_to needs at least one inner transform")
        for a in e[1:]:
            _validate_transform_spec(a)
        return
    if name not in TEXT_TRANSFORMS:
        raise RecipeError(f"unknown transform {name!r}")
    lo, hi, _ = TEXT_TRANSFORMS[name]
    if not (lo <= nargs <= hi):
        raise RecipeError(f"transform {name!r} takes {lo}..{hi} args, got {nargs}")


def _validate_action(expr: Any, spec: RecipeSpec) -> None:
    if expr is None:
        return
    if isinstance(expr, dict):
        nt, ct, _mode = _dict_action_parts(expr)
        for e in [*nt, *ct]:
            _validate_transform_spec(e)
        return
    if isinstance(expr, str):
        if expr in spec.common_actions:
            return _validate_action(spec.common_actions[expr], spec)
        if expr == "extract_text_from_html":
            return
        if expr in _SIMPLE_ACTIONS or expr in TEXT_TRANSFORMS:
            if expr in TEXT_TRANSFORMS and TEXT_TRANSFORMS[expr][0] > 0:
                raise RecipeError(f"transform {expr!r} requires arguments")
            return
        raise RecipeError(f"unknown action {expr!r}")
    if isinstance(expr, list) and expr:
        head = expr[0]
        if head in ("all_actions", "chain"):
            for e in expr[1:]:
                _validate_action(e, spec)
            return
        if head in ("count", "increment_counter", "add_to_file_list", "->", "aggregate_to"):
            if len(expr) != 2 or not isinstance(expr[1], str):
                raise RecipeError(f"{head} takes exactly one name arg")
            return
        if head == "extract":
            if len(expr) not in (2, 3) or expr[1] not in EXTRACTORS:
                raise RecipeError(
                    f"extract needs ['extract', one of {sorted(EXTRACTORS)}, out_col?]"
                )
            return
        if head in ("drop_log", "log_to_file_with_message"):
            return
        if head in ("transform_text", "transform_inplace", "transform_copy", "transform_name"):
            for e in expr[1:]:
                _validate_transform_spec(e)
            return
        if head == "transform_col":
            if len(expr) < 3:
                raise RecipeError("transform_col needs [col, fn, ...]")
            for e in expr[2:]:
                _validate_transform_spec(e)
            return
        if head in spec.common_actions and len(expr) == 1:
            return _validate_action(spec.common_actions[head], spec)
        if head in TEXT_TRANSFORMS:
            return _validate_transform_spec(expr)
        if head in _SIMPLE_ACTIONS and len(expr) == 1:
            return
        raise RecipeError(f"unknown action {expr!r}")
    raise RecipeError(f"cannot parse action {expr!r}")
