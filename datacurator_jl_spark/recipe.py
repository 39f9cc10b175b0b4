"""TOML recipe -> validated RecipeSpec IR.

Mirrors the reference's eager compile pipeline
(``create_template_from_toml`` -> ``validate_top_config`` ->
``validate_global`` -> ``decode_level``, reference
src/DataCurator.jl:2961-3004, 2911-2948, 3372-3466, 3087-3130): a recipe
is rejected with a clear error BEFORE any data is touched — unknown rule
names, wrong arity, malformed sections are all compile-time errors (the
reference's ``lookup`` throws on unknown symbols, src/DataCurator.jl:3559).

Grammar (TOML):

    [global]
    act_on_success = true          # default false, like the reference
    hierarchical   = false
    name_col  = "url"              # node identity column
    text_col  = "text"             # content column
    counters  = ["seen", ["bytes", "size_of_file"]]
    file_lists = ["kept_urls", {name = "drop_log"}]
    [global.common_conditions]
    short = ["min_length", 50]     # named reusable rules (reference
    [global.common_actions]        #  src/DataCurator.jl:3477-3506)
    note = ["count", "noted"]

    [any]                          # flat recipe: one rule list
    all = false                    # true => AND-fuse conditions, chain all
    conditions = ["has_text", ["min_length", 50]]
    actions = [["scrub_pii"], "keep"]
    counter_actions = [["drop_log"], ["drop_log"]]   # optional, per rule

    [level_2]                      # hierarchical recipes: rules keyed by a
    ...                            # per-row integer `level` column; [any]
                                   # is the -1 default (src/DataCurator.jl:4194-4218)
"""

from __future__ import annotations

import tomllib
from dataclasses import dataclass, field
from typing import Any

RuleExpr = Any  # str | list (name + args, possibly nested combinators) | dict


class RecipeError(ValueError):
    """Compile-time recipe validation failure."""


@dataclass(frozen=True)
class Rule:
    """(condition, action[, counteraction]) — the reference's rule tuple
    (``make_tuple``, src/DataCurator.jl:4170-4176)."""

    condition: RuleExpr
    action: RuleExpr
    counteraction: RuleExpr | None = None
    rule_id: str = ""


@dataclass
class RecipeSpec:
    act_on_success: bool = False
    hierarchical: bool = False
    name_col: str = "url"
    text_col: str = "text"
    html_col: str | None = "html"
    level_col: str = "level"
    counters: dict[str, RuleExpr | None] = field(default_factory=dict)
    file_lists: dict[str, dict] = field(default_factory=dict)
    common_conditions: dict[str, RuleExpr] = field(default_factory=dict)
    common_actions: dict[str, RuleExpr] = field(default_factory=dict)
    # level -> rules; -1 is the [any] default level
    levels: dict[int, list[Rule]] = field(default_factory=dict)
    inputdirectory: str | None = None
    outputdirectory: str | None = None
    # write disposition of the reference's transform_wrapper
    # (src/DataCurator.jl:1328-1348): 'copy' writes transformed output and
    # leaves the source; 'move' also rewrites the source without the moved
    # rows; 'inplace' atomically replaces the source with the curated
    # output. Set by dict-form transform actions' ``mode`` key.
    write_mode: str = "copy"
    # optional dedup pre-pass before the rule chain: None | 'exact'
    # (min-id per identical text) | 'near' (LSH + connected components,
    # component-min representative)
    dedup: str | None = None
    # materialization policy for every checkpointed pre-pass output and
    # the dedup-family intermediates (signature buckets, edge list,
    # per-round labels): 'local' (executor-local checkpoint) | 'reliable'
    # (Spark checkpoint dir) | a directory path (persisted parquet) —
    # engine._checkpoint / operators/dedup._materialize
    dedup_materialize: str = "local"
    # optional INGEST mode for dedup = "exact": path to a persisted
    # exact_hash_table parquet (one text_hash per distinct page of the
    # already-curated corpus). The exact pre-pass then keeps only batch
    # docs whose content is new to BOTH the batch and the standing
    # corpus (dedup.incremental_exact_survivors — base side semi-pruned
    # on the batch's hash set, so per-run cost tracks the batch).
    # Refresh the table after a run with exact_hash_table(curated).
    dedup_base_hashes: str | None = None
    # optional cross-document boilerplate pre-pass: remove every line
    # occurring in >= N distinct docs (operators/boilerplate.py) BEFORE
    # dedup and the rule chain — shared chrome inflates near-dup
    # similarity and quality scores, so it goes first. A doc whose every
    # line is boilerplate becomes null text (normally dropped by a
    # has_text rule).
    remove_boilerplate: int | None = None
    # optional latest-version pre-pass AFTER blocklist and BEFORE every
    # content pass: ["ts_col", "tiebreak_col"] collapses multiple crawls
    # of the same name/url to the newest (operators/dataframe_ops.
    # latest_version: NULL ts never wins; tiebreak settles equal ts)
    keep_latest: list[str] = field(default_factory=list)
    # optional name-column blocklist pre-pass: drop rows whose name is in
    # the list BEFORE everything else (the cheapest stage — a plain
    # filter, streaming-safe). Corpus-scale lists belong in
    # dataframe_ops.blocklist_filter's DataFrame form instead.
    blocklist: list[str] = field(default_factory=list)
    # optional C4-style paragraph dedup pre-pass: duplicate paragraphs
    # removed corpus-wide (globally first occurrence survives), AFTER
    # boilerplate removal and BEFORE doc-level dedup
    paragraph_dedup: bool = False
    # optional ExactSubstr-style span removal (Lee et al. 2022, fixed
    # window): tokens covered by any duplicated N-token window removed,
    # AFTER paragraph dedup and BEFORE doc-level dedup (span-stripped
    # texts may collapse into exact dupes). Value = window size N
    # (production ~ 50; the output is token-normalized).
    remove_duplicated_spans: int | None = None
    # optional per-domain cap AFTER dedup: at most N docs per
    # ``domain_cap_col`` value, chosen by portable hash order
    domain_cap: int | None = None
    domain_cap_col: str = "source"
    # optional duplicated-n-gram-fraction cap AFTER dedup (Lee et al.
    # 2022 dup-fraction signal, operators/decontam.dup_ngram_stats):
    # drop docs whose share of distinct word n-grams occurring in >= 2
    # distinct documents EXCEEDS the threshold — partial duplication
    # whole-doc dedup misses
    max_dup_ngram_fraction: float | None = None
    dup_ngram_n: int = 3
    # optional data mixing LAST in the pre-pass chain (select the
    # training mix from the already-hygienic corpus): target shares per
    # ``mixture_col`` value at a ``mixture_total`` row budget —
    # sampling.mixture_sample semantics (whitelist, shortfall reported
    # never refilled)
    mixture: dict | None = None
    mixture_total: int | None = None
    mixture_col: str = "source"
    # optional: budget the mixture by an integer weight column (token/
    # char counts) instead of rows — mixture_total then counts that
    # unit (sampling.mixture_token_sample semantics)
    mixture_weight_col: str | None = None

    @property
    def rules(self) -> list[Rule]:
        """Flat rule list (level -1) for non-hierarchical recipes."""
        return self.levels.get(-1, [])


_GLOBAL_KEYS = {
    "act_on_success",
    "hierarchical",
    "parallel",
    "traversal",
    "regex",
    "name_col",
    "text_col",
    "html_col",
    "level_col",
    "counters",
    "file_lists",
    "dedup",
    "dedup_materialize",
    "dedup_base_hashes",
    "remove_boilerplate",
    "blocklist",
    "keep_latest",
    "paragraph_dedup",
    "remove_duplicated_spans",
    "domain_cap",
    "domain_cap_col",
    "max_dup_ngram_fraction",
    "dup_ngram_n",
    "mixture",
    "mixture_total",
    "mixture_col",
    "mixture_weight_col",
    "common_conditions",
    "common_actions",
    "inputdirectory",
    "outputdirectory",
}

_LEVEL_KEYS = {"all", "conditions", "actions", "counter_actions"}


def load_recipe(path: str) -> RecipeSpec:
    with open(path, "rb") as f:
        cfg = tomllib.load(f)
    return parse_recipe(cfg)


def parse_recipe(cfg: dict) -> RecipeSpec:
    _validate_top(cfg)
    g = cfg.get("global", {})
    spec = RecipeSpec(
        act_on_success=bool(g.get("act_on_success", False)),
        hierarchical=bool(g.get("hierarchical", False)),
        name_col=g.get("name_col", "url"),
        text_col=g.get("text_col", "text"),
        html_col=g.get("html_col", "html"),
        level_col=g.get("level_col", "level"),
        inputdirectory=g.get("inputdirectory"),
        outputdirectory=g.get("outputdirectory"),
        dedup=g.get("dedup"),
        dedup_materialize=str(g.get("dedup_materialize", "local")),
        common_conditions=dict(g.get("common_conditions", {})),
        common_actions=dict(g.get("common_actions", {})),
    )
    if spec.dedup not in (None, "exact", "near"):
        raise RecipeError(f"dedup must be 'exact' or 'near', got {spec.dedup!r}")
    dbh = g.get("dedup_base_hashes")
    if dbh is not None:
        if not isinstance(dbh, str) or not dbh:
            raise RecipeError(
                f"dedup_base_hashes must be a parquet path string, got {dbh!r}"
            )
        if spec.dedup != "exact":
            raise RecipeError(
                "dedup_base_hashes requires dedup = 'exact' (it is the "
                f"ingest mode of the exact pre-pass), got dedup={spec.dedup!r}"
            )
        spec.dedup_base_hashes = dbh
    bl = g.get("blocklist", [])
    if (
        isinstance(bl, str)
        or not isinstance(bl, (list, tuple))
        or not all(isinstance(x, str) for x in bl)
    ):
        raise RecipeError(
            f"blocklist must be a list of name strings, got {bl!r}"
        )
    spec.blocklist = list(bl)
    kl = g.get("keep_latest", [])
    if (
        isinstance(kl, str)
        or not isinstance(kl, (list, tuple))
        or not all(isinstance(x, str) for x in kl)
        or len(kl) not in (0, 2)
    ):
        raise RecipeError(
            "keep_latest must be a 2-list [ts_col, tiebreak_col] "
            f"(newest row per name_col wins), got {kl!r}"
        )
    spec.keep_latest = list(kl)
    pdd = g.get("paragraph_dedup", False)
    if not isinstance(pdd, bool):
        raise RecipeError(
            f"paragraph_dedup must be a boolean, got {pdd!r}"
        )
    spec.paragraph_dedup = pdd
    dc = g.get("domain_cap")
    if dc is not None:
        if isinstance(dc, bool) or not isinstance(dc, int) or dc < 1:
            raise RecipeError(
                f"domain_cap must be an integer >= 1 (max docs kept per "
                f"domain), got {dc!r}"
            )
        spec.domain_cap = dc
    dcc = g.get("domain_cap_col", "source")
    if not isinstance(dcc, str):
        # a str() coercion here would defer the failure to Spark's
        # analyzer with a nonsense column name — eager validation is the
        # recipe contract
        raise RecipeError(
            f"domain_cap_col must be a column-name string, got {dcc!r}"
        )
    spec.domain_cap_col = dcc
    mix = g.get("mixture")
    mix_total = g.get("mixture_total")
    if (mix is None) != (mix_total is None):
        raise RecipeError(
            "mixture and mixture_total must be given together "
            "(target shares need a row budget)"
        )
    if mix is not None:
        if not isinstance(mix, dict) or not all(
            isinstance(k, str) for k in mix
        ):
            raise RecipeError(
                f"mixture must be a table of group -> weight, got {mix!r}"
            )
        if isinstance(mix_total, bool) or not isinstance(mix_total, int):
            raise RecipeError(
                f"mixture_total must be an integer row budget, got "
                f"{mix_total!r}"
            )
        from datacurator_jl_spark.operators.sampling import _mixture_quotas

        try:
            # eager validation: surface bad weights at parse time, not
            # mid-job (the recipe contract)
            _mixture_quotas(mix, mix_total)
        except ValueError as e:
            raise RecipeError(f"mixture: {e}") from None
        spec.mixture = dict(mix)
        spec.mixture_total = mix_total
    mixc = g.get("mixture_col", "source")
    if not isinstance(mixc, str):
        raise RecipeError(
            f"mixture_col must be a column-name string, got {mixc!r}"
        )
    spec.mixture_col = mixc
    mixw = g.get("mixture_weight_col")
    if mixw is not None:
        if not isinstance(mixw, str):
            raise RecipeError(
                f"mixture_weight_col must be a column-name string, got "
                f"{mixw!r}"
            )
        if mix is None:
            raise RecipeError(
                "mixture_weight_col needs a mixture table to budget"
            )
        spec.mixture_weight_col = mixw
    mdf = g.get("max_dup_ngram_fraction")
    if mdf is not None:
        if isinstance(mdf, bool) or not isinstance(mdf, (int, float)) or not (
            0.0 <= float(mdf) <= 1.0
        ):
            raise RecipeError(
                "max_dup_ngram_fraction must be a number in [0, 1] (docs "
                f"with a higher duplicated-gram share drop), got {mdf!r}"
            )
        spec.max_dup_ngram_fraction = float(mdf)
    dnn = g.get("dup_ngram_n", 3)
    if isinstance(dnn, bool) or not isinstance(dnn, int) or dnn < 1:
        raise RecipeError(
            f"dup_ngram_n must be an integer >= 1, got {dnn!r}"
        )
    spec.dup_ngram_n = dnn
    rds = g.get("remove_duplicated_spans")
    if rds is not None:
        if isinstance(rds, bool) or not isinstance(rds, int) or rds < 2:
            raise RecipeError(
                "remove_duplicated_spans must be an integer window size "
                f">= 2 (tokens; production ~ 50), got {rds!r}"
            )
        spec.remove_duplicated_spans = rds
    rb = g.get("remove_boilerplate")
    if rb is not None:
        if isinstance(rb, bool) or not isinstance(rb, int) or rb < 2:
            raise RecipeError(
                f"remove_boilerplate must be an integer >= 2 (the min "
                f"distinct-doc count making a line boilerplate), got {rb!r}"
            )
        spec.remove_boilerplate = rb
    # a typo'd policy keyword must not silently become an output
    # directory: anything that is not a keyword must look like a path
    if spec.dedup_materialize not in ("local", "reliable") and (
        not isinstance(g.get("dedup_materialize"), str)
        or "/" not in spec.dedup_materialize
    ):
        raise RecipeError(
            "dedup_materialize must be 'local', 'reliable', or a directory "
            f"path (containing '/'), got {spec.dedup_materialize!r}"
        )
    spec.counters = _decode_counters(g.get("counters", []))
    spec.file_lists = _decode_file_lists(g.get("file_lists", []))

    if spec.hierarchical:
        for key, section in cfg.items():
            if key == "global":
                continue
            if key == "any":
                spec.levels[-1] = _decode_level(section, "any", spec)
            elif key.startswith("level_"):
                try:
                    lvl = int(key.removeprefix("level_"))
                except ValueError as e:
                    raise RecipeError(f"bad hierarchical section name {key!r}") from e
                spec.levels[lvl] = _decode_level(section, key, spec)
            else:
                raise RecipeError(f"unknown section {key!r} in hierarchical recipe")
    else:
        if "any" not in cfg:
            raise RecipeError("flat recipe requires an [any] section")
        extra = set(cfg) - {"global", "any"}
        if extra:
            raise RecipeError(
                f"unexpected sections {sorted(extra)} (set hierarchical=true for level_N)"
            )
        spec.levels[-1] = _decode_level(cfg["any"], "any", spec)

    # Eager name/arity validation against the registry (lookup-throws
    # semantics). Imported here to avoid a module cycle.
    from datacurator_jl_spark.registry import validate_expr

    modes: set[str] = set()

    def collect_modes(expr: Any, seen: frozenset = frozenset()) -> None:
        """Find `mode` keys ANYWHERE in an action expression — inside
        all_actions chains and through common_actions indirection (a
        top-level-only scan silently missed those)."""
        if isinstance(expr, dict):
            if "mode" in expr:
                modes.add(expr["mode"])
        elif isinstance(expr, str):
            if expr in spec.common_actions and expr not in seen:
                collect_modes(spec.common_actions[expr], seen | {expr})
        elif isinstance(expr, list):
            for e in expr:
                collect_modes(e, seen)

    for lvl, rules in spec.levels.items():
        for r in rules:
            validate_expr(r.condition, kind="condition", spec=spec)
            validate_expr(r.action, kind="action", spec=spec)
            if r.counteraction is not None:
                validate_expr(r.counteraction, kind="action", spec=spec)
            collect_modes(r.action)
            collect_modes(r.counteraction)
    if len(modes) > 1:
        raise RecipeError(
            f"conflicting write modes {sorted(modes)} — one disposition per recipe"
        )
    if modes:
        spec.write_mode = modes.pop()
    if spec.dedup and spec.write_mode == "move":
        # move's contract is "source keeps every row that was not moved
        # out"; rows removed by the dedup pre-pass would silently vanish
        # from BOTH outputs. Reject the combination rather than lose data.
        raise RecipeError(
            "dedup pre-pass cannot combine with write mode 'move' "
            "(dedup-dropped rows would be lost from both outputs); "
            "use mode 'copy' or 'inplace'"
        )
    for name, inc in spec.counters.items():
        if inc is not None:
            validate_expr(inc, kind="metric", spec=spec)
    return spec


def _validate_top(cfg: dict) -> None:
    if not isinstance(cfg, dict) or not cfg:
        raise RecipeError("empty recipe")
    if "global" in cfg:
        extra = set(cfg["global"]) - _GLOBAL_KEYS
        if extra:
            raise RecipeError(f"unknown [global] keys: {sorted(extra)}")
    sections = [k for k in cfg if k != "global"]
    if not sections:
        raise RecipeError("recipe has no rule sections ([any] or [level_N])")


def _decode_level(section: dict, name: str, spec: RecipeSpec) -> list[Rule]:
    extra = set(section) - _LEVEL_KEYS
    if extra:
        raise RecipeError(f"unknown keys in [{name}]: {sorted(extra)}")
    conds = section.get("conditions", [])
    acts = section.get("actions", [])
    cacts = section.get("counter_actions")
    fuse_all = bool(section.get("all", False))
    if not isinstance(conds, list) or not isinstance(acts, list):
        raise RecipeError(f"[{name}] conditions/actions must be arrays")

    if fuse_all:
        # all=true: AND-fuse conditions into one rule; chain all actions
        # (reference to_level, src/DataCurator.jl:3053-3072).
        cond = ["all", *conds] if len(conds) != 1 else conds[0]
        action = ["all_actions", *acts] if len(acts) != 1 else (acts[0] if acts else "keep_going")
        counter = None
        if cacts:
            counter = ["all_actions", *cacts] if len(cacts) != 1 else cacts[0]
        return [Rule(cond, action, counter, rule_id=f"{name}:0")]

    if len(conds) != len(acts):
        raise RecipeError(
            f"[{name}]: {len(conds)} conditions vs {len(acts)} actions (must match)"
        )
    if cacts is not None and len(cacts) != len(conds):
        raise RecipeError(f"[{name}]: counter_actions length mismatch")
    rules = []
    for i, (c, a) in enumerate(zip(conds, acts)):
        if not isinstance(c, (str, list)):
            raise RecipeError(f"[{name}] condition #{i} must be a string or array, got {c!r}")
        ca = cacts[i] if cacts is not None else None
        head = c if isinstance(c, str) else (c[0] if c else "?")
        cond_name = head if isinstance(head, str) else "composite"
        rules.append(Rule(c, a, ca, rule_id=f"{name}:{i}:{cond_name}"))
    return rules


def _decode_counters(raw: list) -> dict[str, RuleExpr | None]:
    """['name', ['name', increment_fn]] (reference decode_counter,
    src/DataCurator.jl:1827-1850)."""
    out: dict[str, RuleExpr | None] = {}
    for c in raw:
        if isinstance(c, str):
            out[c] = None
        elif isinstance(c, list) and c and isinstance(c[0], str):
            out[c[0]] = c[1] if len(c) > 1 else None
        else:
            raise RecipeError(f"bad counter spec: {c!r}")
    return out


def _decode_file_lists(raw: list) -> dict[str, dict]:
    """Sugar forms of the reference's decode_filelist
    (src/DataCurator.jl:1616-1685): "name" | ["name", path] |
    {name=..., transformer=..., aggregator=...}."""
    out: dict[str, dict] = {}
    for fl in raw:
        if isinstance(fl, str):
            out[fl] = {"path": None, "transformer": None, "aggregator": "to_file"}
        elif isinstance(fl, list) and fl and isinstance(fl[0], str):
            spec = {"path": None, "transformer": None, "aggregator": "to_file"}
            if len(fl) > 1:
                if fl[1] in ("concat_to_table", "to_table"):
                    spec["aggregator"] = "concat_to_table"
                else:
                    spec["path"] = fl[1]
            out[fl[0]] = spec
        elif isinstance(fl, dict) and "name" in fl:
            agg = fl.get("aggregator", "to_file")
            if isinstance(agg, list):
                # general aggregator chain — eager name validation
                # (fail-before-data, like every other registry lookup)
                from datacurator_jl_spark.sinks import validate_aggregator_chain

                try:
                    validate_aggregator_chain(agg)
                except ValueError as e:
                    raise RecipeError(str(e)) from e
            out[fl["name"]] = {
                "path": fl.get("path"),
                "transformer": fl.get("transformer"),
                "aggregator": agg,
            }
        else:
            raise RecipeError(f"bad file_list spec: {fl!r}")
    return out
