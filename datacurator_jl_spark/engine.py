"""Recipe execution engine: RecipeSpec -> one declarative Spark plan.

Semantics reproduced from the reference (and pinned in SURVEY.md §7.1):

- Rules evaluate IN ORDER per document; each rule fires its action when
  ``condition == act_on_success``, else its counteraction (``dostep``,
  reference src/DataCurator.jl:1516-1568). A null condition (null text
  etc.) counts as a failed condition.
- A fired **decision** (drop, keep, or quit) is TERMINAL for that
  document: evaluation stops there (the per-document early-exit reading
  of ``:quit`` / counteraction, src/DataCurator.jl:3644-3657,
  4121-4130, and FIXTURES.md §2: "first rule whose decision fired").
- ``dc_rule_id`` = the deciding rule's id, else ``"default_keep"``.
- Transforms fire left-to-right, composing (``collapse_functions``,
  src/DataCurator.jl:1919-1924), for every REACHED rule whose branch
  carries them (reached = at or before the deciding rule).
- Counters / file-list tags likewise accumulate on reached rules only
  (src/DataCurator.jl:3856-3889, 3613-3630).

All of this lowers to ONE ``select`` over the input. The decision is a
single NESTED ``CASE WHEN`` chain building a struct (kept, rule_id,
idx, quit): rule i+1's condition sits inside rule i's ELSE branch, so a
document that fails a cheap early rule NEVER evaluates the expensive
later conditions — true per-row early exit, the reference's documented
50-90% cheap-first win (docs/src/recipe.md:497-499). This nesting
matters because Spark's whole-stage-codegen subexpression elimination
evaluates any expression referenced twice EAGERLY, which would defeat
flat CASE-chain laziness; here each pure-filter condition is referenced
exactly once, inside the chain. Effect gates (counters/lists/
transforms) are derived from the decision struct where the effect sits
on the deciding branch (gate = idx == i [& kept]), and only re-evaluate
their rule's condition when attached to a non-deciding branch — pure
filter rules stay lazy.

First-match-wins over pure predicates is exactly sequential evaluation,
so the vectorized plan is label-identical to the reference's per-node
loop (SURVEY.md §7.4 point 3).

Scale posture: zero shuffles in the rule pass itself — it is a pure
narrow projection, whole-stage-codegen'd. Counters/lineage are one
hash aggregate over the already-computed tag columns.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from datacurator_jl_spark.operators import (
    boilerplate,
    dataframe_ops,
    decontam,
    dedup,
    paragraph_dedup,
    sampling,
    span_dedup,
)
from datacurator_jl_spark.recipe import RecipeError, RecipeSpec, Rule
from datacurator_jl_spark.registry import (
    ROWCOUNT_CONDITIONS,
    SHARED_COLS,
    ActionSpec,
    RuleContext,
    compile_action,
    compile_condition,
    compile_metric,
)

DECISION_COL = "_dc_decision"
KEPT_COL = "dc_kept"
RULE_COL = "dc_rule_id"
QUIT_COL = "dc_quit"
SCRUBBED_COL = "scrubbed_text"
_CNT = "_dc_cnt_"
_LST = "_dc_lst_"
DEFAULT_RULE_ID = "default_keep"
# the pre-passes' internal removed-line/span count column: select(*cols)
# drops it, so a corpus that already has an n_removed column must not
# trip the operators' collision guard
_NREMOVED = "_dc_nremoved"


@dataclass
class _CompiledRule:
    rule_id: str
    fired: Column  # action branch taken (cond == act_on_success, null-safe)
    a_effects: list[ActionSpec]
    c_effects: list[ActionSpec]


def _compile_rule(rule: Rule, ctx: RuleContext, act_on_success: bool) -> _CompiledRule:
    cond = compile_condition(rule.condition, ctx)
    fired = F.coalesce(cond, F.lit(False)) == F.lit(act_on_success)
    return _CompiledRule(
        rule_id=rule.rule_id,
        fired=fired,
        a_effects=compile_action(rule.action, ctx),
        c_effects=compile_action(rule.counteraction, ctx) if rule.counteraction else [],
    )


@dataclass
class _LevelPlan:
    kept: Column
    rule_id: Column
    quit: Column
    out_cols: dict[str, Column]  # transformed target col -> final expr
    cnt: dict[str, Column]
    lst: dict[str, Column]


def _branch_decision(effects: list[ActionSpec]) -> tuple[bool | None, bool]:
    """(kept-if-decides | None, quit): drop/keep/quit are terminal."""
    kinds = {e.kind for e in effects}
    quit_ = "quit" in kinds
    if "drop" in kinds:
        return False, quit_
    if "keep" in kinds or quit_:
        return True, quit_
    return None, False


def _build_decision(compiled: list[_CompiledRule]) -> Column:
    """The nested lazy decision chain, built back-to-front.

    Returned as an EXPRESSION; the engine materializes it into its own
    projection (``_dc_decision`` column) so gates and outputs reference a
    cheap column instead of embedding copies of the whole chain — without
    this, every gate duplicated the full condition tree in the plan
    (measured: 6+ copies, 3x runtime)."""
    n = len(compiled)

    def dstruct(kept: bool, rid: str, idx: int, quit_: bool) -> Column:
        return F.struct(
            F.lit(kept).alias("kept"),
            F.lit(rid).alias("rule_id"),
            F.lit(idx).alias("idx"),
            F.lit(quit_).alias("quit"),
        )

    decision = dstruct(True, DEFAULT_RULE_ID, n, False)
    for i in range(n - 1, -1, -1):
        cr = compiled[i]
        a_dec, a_quit = _branch_decision(cr.a_effects)
        c_dec, c_quit = _branch_decision(cr.c_effects)
        a_term = dstruct(bool(a_dec), cr.rule_id, i, a_quit) if a_dec is not None else None
        c_term = dstruct(bool(c_dec), cr.rule_id, i, c_quit) if c_dec is not None else None
        if a_term is not None and c_term is not None:
            decision = F.when(cr.fired, a_term).otherwise(c_term)
        elif a_term is not None:
            decision = F.when(cr.fired, a_term).otherwise(decision)
        elif c_term is not None:
            decision = F.when(cr.fired, decision).otherwise(c_term)
        # no decision on either branch: chain unchanged (condition only
        # re-evaluated by this rule's effect gates, if any)
    return decision


def _fold_effects(
    compiled: list[_CompiledRule],
    d: Column,
    ctx: RuleContext,
    spec: RecipeSpec,
    extra_gate: Column | None = None,
    plan: _LevelPlan | None = None,
) -> _LevelPlan:
    """Build transform/counter/list expressions from the materialized
    decision column ``d``. ``extra_gate`` scopes hierarchical levels."""
    d_idx = d.getField("idx")
    d_kept = d.getField("kept")

    def gate(i: int, is_action: bool) -> Column:
        """When did rule i's action/counteraction branch run?

        reached (idx >= i) and the branch was taken. If the branch
        carries the decision, 'taken at i' is encoded in the struct
        (idx == i [+ kept when both branches decide]) — no condition
        re-evaluation, preserving laziness of pure-filter rules."""
        a_dec, _ = _branch_decision(compiled[i].a_effects)
        c_dec, _ = _branch_decision(compiled[i].c_effects)
        this_dec = a_dec if is_action else c_dec
        other_dec = c_dec if is_action else a_dec
        fired_b = compiled[i].fired if is_action else ~compiled[i].fired
        if this_dec is not None:
            at_i = d_idx == i
            if other_dec is None:
                g = at_i  # only this branch decides
            elif other_dec != this_dec:
                g = at_i & (d_kept == F.lit(this_dec))
            else:
                g = at_i & fired_b  # ambiguous: fall back to condition
        else:
            # non-deciding branch: ran iff reached and taken
            g = (d_idx >= i) & fired_b
        return g & extra_gate if extra_gate is not None else g

    if plan is None:
        plan = _LevelPlan(
            kept=d_kept,
            rule_id=d.getField("rule_id"),
            quit=d.getField("quit"),
            out_cols={},
            cnt={nm: F.lit(0).cast("long") for nm in spec.counters},
            lst={nm: F.lit(False) for nm in spec.file_lists},
        )
    cur, cnt, lst = plan.out_cols, plan.cnt, plan.lst
    for i, cr in enumerate(compiled):
        for effects, is_action in ((cr.a_effects, True), (cr.c_effects, False)):
            g: Column | None = None
            for e in effects:
                if e.kind not in ("transform", "derive", "count", "list"):
                    continue
                if g is None:
                    g = gate(i, is_action)
                if e.kind == "transform":
                    base = cur.get(e.target_col, F.col(e.target_col))
                    cur[e.target_col] = F.when(g, e.transform(base)).otherwise(base)
                elif e.kind == "derive":
                    # NEW column derived from the node (extract action):
                    # null where the gate did not fire / no earlier derive
                    base = cur.get(e.target_col, F.lit(None))
                    cur[e.target_col] = F.when(g, e.transform(None)).otherwise(base)
                elif e.kind == "count":
                    if e.name not in cnt:
                        cnt[e.name] = F.lit(0).cast("long")
                    inc = compile_metric(spec.counters.get(e.name), ctx)
                    # coalesce: a null increment (e.g. n_chars on null text
                    # when the gate fires) must count 0, not null the whole
                    # per-row counter sum
                    cnt[e.name] = cnt[e.name] + F.when(
                        g, F.coalesce(inc, F.lit(0).cast("long"))
                    ).otherwise(F.lit(0))
                else:
                    if e.name not in lst:
                        lst[e.name] = F.lit(False)
                    lst[e.name] = lst[e.name] | g
    return plan


class CurationResult:
    """Annotated DataFrame + metric/sink accessors.

    ``df`` carries every input column plus dc_kept / dc_rule_id / dc_quit,
    ``scrubbed_text`` (null for dropped docs, per FIXTURES.md §2), any
    other transformed columns as ``<col>_out``, and internal tag columns
    for counters/file lists.
    """

    def __init__(
        self,
        df: DataFrame,
        spec: RecipeSpec,
        ctx: RuleContext,
        input_cols: list[str] | None = None,
    ):
        self.df = df
        self.spec = spec
        self.ctx = ctx
        self.input_cols = input_cols or [
            c
            for c in df.columns
            if c not in (KEPT_COL, RULE_COL, QUIT_COL, SCRUBBED_COL)
            and not c.startswith((_CNT, _LST))
            and not c.endswith("_out")
        ]

    def _clean(self, df: DataFrame) -> DataFrame:
        drop = [c for c in df.columns if c.startswith(_CNT) or c.startswith(_LST)]
        return df.drop(*drop, QUIT_COL)

    def kept(self) -> DataFrame:
        return self._clean(self.df.filter(F.col(KEPT_COL))).drop(KEPT_COL)

    def dropped(self) -> DataFrame:
        """Drop-log: (name, rule_id) of every document removed — the
        reference's log_to_file counteraction sink
        (src/DataCurator.jl:3270-3276)."""
        return (
            self.df.filter(~F.col(KEPT_COL))
            .select(F.col(self.ctx.name_col), F.col(RULE_COL))
        )

    def counters(self) -> DataFrame:
        """(name, count) — the CLI's counters.csv shape
        (reference scripts/curator.jl:117-134)."""
        names = sorted(
            c[len(_CNT):] for c in self.df.columns if c.startswith(_CNT)
        )
        if not names:
            return self.df.sparkSession.createDataFrame([], "name string, count long")
        aggs = [F.sum(F.col(_CNT + n)).alias(n) for n in names]
        wide = self.df.agg(*aggs)
        stack = ", ".join(f"'{n}', `{n}`" for n in names)
        return wide.selectExpr(
            f"stack({len(names)}, {stack}) as (name, count)"
        )

    def file_list(self, name: str) -> DataFrame:
        """Rows tagged into a named file list (reference add_to_file_list,
        src/DataCurator.jl:3617-3630); projection/aggregation of the
        list's sink spec is applied by `write_file_lists`."""
        col = _LST + name
        if col not in self.df.columns:
            raise KeyError(f"no file list {name!r}")
        return self._clean(self.df.filter(F.col(col)))

    def lineage(self) -> DataFrame:
        """Per-partition lineage/metrics: (partition_id, rule_id, kept,
        dropped, bytes) — the north rule's per-partition counters. One
        hash aggregate; partial aggregation keeps it cheap at scale."""
        return (
            self.df.groupBy(
                F.spark_partition_id().alias("partition_id"),
                F.col(RULE_COL).alias("rule_id"),
            )
            .agg(
                F.sum(F.col(KEPT_COL).cast("long")).alias("kept"),
                F.sum((~F.col(KEPT_COL)).cast("long")).alias("dropped"),
                F.sum(
                    F.octet_length(F.coalesce(F.col(self.ctx.text_col), F.lit("")))
                ).alias("bytes"),
            )
        )

    def remaining_source(self) -> DataFrame:
        """``mode=move`` disposition (reference mode_move,
        src/DataCurator.jl:1334-1338: write the transformed copy, DELETE
        the source): the source table rewritten WITHOUT the moved (kept)
        rows — an anti-filter on the decision column, original schema."""
        return self.df.filter(~F.col(KEPT_COL)).select(*self.input_cols)

    def curated_source(self) -> DataFrame:
        """``mode=inplace`` disposition (reference mode_inplace,
        src/DataCurator.jl:1340-1348): the source replaced by its curated
        rows — kept docs only, original schema, with the transformed
        text/name substituted for the originals."""
        cols = []
        for c in self.input_cols:
            if c == self.ctx.text_col:
                cols.append(F.col(SCRUBBED_COL).alias(c))
            elif f"{c}_out" in self.df.columns:
                cols.append(F.col(f"{c}_out").alias(c))
            else:
                cols.append(F.col(c))
        return self.df.filter(F.col(KEPT_COL)).select(*cols)

    def quit_requested(self) -> bool:
        """Global early-exit gate (reference :quit / halt,
        src/DataCurator.jl:3205-3206): cheap LIMIT-1 pre-pass instead of
        a row-level global abort (SURVEY.md §2.1 early-exit note)."""
        return bool(self.df.filter(F.col(QUIT_COL)).limit(1).count() > 0)


def _checkpoint(df: DataFrame, policy: str) -> DataFrame:
    """Materialize a pre-pass output once — the quit gate, counters, file
    lists and the final write each execute the plan, and the pass's job
    must not run per action — under the recipe's ``dedup_materialize``
    policy. ``"local"`` stays lazy (the next action materializes it);
    ``"reliable"`` or a path goes through ``dedup._materialize``, since a
    localCheckpoint there would silently reintroduce the executor-loss
    failure mode the policy exists to prevent."""
    if policy == "local":
        return df.localCheckpoint(eager=False)
    return dedup._materialize(df, policy)


@dataclass(frozen=True)
class PrePass:
    """One ``[global]`` pre-pass. ``Pipeline.apply`` runs every enabled
    entry of ``PREPASSES``, in order, through the same steps: check
    columns, reject streams, run, ``select(*cols)``, checkpoint, then
    record id validation."""

    key: str  # the [global] key; also names the pass in errors
    enabled: Callable[[RecipeSpec], bool]
    cols: Callable[[RecipeSpec], list[str]]  # input columns the pass needs
    run: Callable[[DataFrame, RecipeSpec, bool], DataFrame]  # (df, spec, validate_ids)
    batch_only: str | None  # why a stream is rejected; None = streaming-safe
    # the run probed id uniqueness and kept rows' ids, so later passes
    # skip their own probe
    validates_ids: Callable[[RecipeSpec], bool] = lambda spec: False
    checkpoint: bool = True  # under the recipe's dedup_materialize policy


def _name_text(spec: RecipeSpec) -> list[str]:
    return [spec.name_col, spec.text_col]


def _dedup(df: DataFrame, spec: RecipeSpec, validate_ids: bool) -> DataFrame:
    if spec.dedup == "near":
        return dedup.drop_near_dupes(
            df, spec.name_col, spec.text_col, materialize=spec.dedup_materialize
        )
    # share the upstream ONCE across the operator's three consumers
    # (id-validation probe, winners aggregate, semi-join probe side):
    # un-checkpointed pre-passes like blocklist/keep_latest would
    # otherwise re-run per branch. Lazy under "local": the validation
    # probe is the first action and materializes it.
    df = _checkpoint(df, spec.dedup_materialize)
    if spec.dedup_base_hashes:
        # ingest mode: dedup within the batch AND against the persisted
        # corpus hash table (base side semi-pruned on the batch's hashes
        # — per-run cost tracks the batch, the standing table is
        # scanned, not shuffled)
        base_h = df.sparkSession.read.parquet(spec.dedup_base_hashes)
        return dedup.incremental_exact_survivors(
            df, base_h, spec.name_col, spec.text_col, validate_ids=validate_ids
        )
    # id uniqueness is load-bearing for the semi-join-on-id plan
    return dedup.drop_exact_dupes(
        df, spec.name_col, spec.text_col, validate_ids=validate_ids
    )


def _mixture(df: DataFrame, spec: RecipeSpec, validate_ids: bool) -> DataFrame:
    if spec.mixture_weight_col is not None:
        return sampling.mixture_token_sample(
            df, spec.mixture_col, spec.name_col, spec.mixture_weight_col,
            spec.mixture, spec.mixture_total,
        )
    return sampling.mixture_sample(
        df, spec.mixture_col, spec.name_col, spec.mixture, spec.mixture_total
    )


# The pinned pre-pass order (CLAUDE.md); each entry says why it sits
# where it does. Operators are looked up through their modules at call
# time, so a patched module attribute (e.g. a tracing wrapper) is seen.
PREPASSES: tuple[PrePass, ...] = (
    # the cheapest stage — a plain pushdown-friendly filter on the name
    # column, so blocked domains never pay for any later stage.
    # Streaming-safe (no global state).
    PrePass("blocklist", lambda s: bool(s.blocklist), lambda s: [s.name_col],
            lambda df, s, v: dataframe_ops.blocklist_filter(df, s.name_col, s.blocklist),
            batch_only=None, checkpoint=False),
    # collapse multiple crawls of the same name/url to the newest BEFORE
    # any content pass — dedup would otherwise pick its own (min-id)
    # representative, and boilerplate/paragraph frequencies would
    # double-count stale versions. After blocklist (cheapest-first:
    # blocked rows never enter the argmax shuffle). One
    # map-side-combinable max(struct) aggregate.
    PrePass("keep_latest", lambda s: bool(s.keep_latest),
            lambda s: [s.name_col, *s.keep_latest],
            lambda df, s, v: dataframe_ops.latest_version(df, [s.name_col], *s.keep_latest),
            batch_only="the newest version per name is a global aggregate; for streams "
            "dedup versions downstream or via the signature-table flow",
            checkpoint=False),
    # strip corpus-wide repeated lines BEFORE dedup and the rules —
    # shared chrome inflates near-dup similarity and quality scores
    PrePass("remove_boilerplate", lambda s: bool(s.remove_boilerplate), _name_text,
            lambda df, s, v: boilerplate.remove_boilerplate_lines(
                df, s.name_col, s.text_col, min_docs=s.remove_boilerplate,
                count_col=_NREMOVED, validate_ids=v),
            batch_only="the line frequency is a global corpus aggregate",
            validates_ids=lambda s: True),
    # C4-style: after boilerplate (chrome lines removed first so they
    # don't masquerade as content paragraphs), before doc-level dedup
    # (paragraph-stripped texts may collapse into exact doc dupes; a
    # doc-level exact dup is also a paragraph dup, so this pass nulls
    # the losers first)
    PrePass("paragraph_dedup", lambda s: s.paragraph_dedup, _name_text,
            lambda df, s, v: paragraph_dedup.dedup_paragraphs(
                df, s.name_col, s.text_col, count_col=_NREMOVED, validate_ids=v),
            batch_only="the winner per paragraph is a global corpus aggregate",
            validates_ids=lambda s: True),
    # ExactSubstr-style: after paragraph dedup (exact paragraph repeats
    # are cheaper to kill whole), before doc-level dedup (span-stripped
    # texts may collapse into exact dupes)
    PrePass("remove_duplicated_spans", lambda s: bool(s.remove_duplicated_spans), _name_text,
            lambda df, s, v: span_dedup.remove_duplicated_spans(
                df, s.name_col, s.text_col, n=s.remove_duplicated_spans, count_col=_NREMOVED,
                materialize=s.dedup_materialize, validate_ids=v),
            batch_only="window frequency is a global corpus aggregate",
            validates_ids=lambda s: True),
    # BEFORE the rule chain so quality heuristics never pay for
    # duplicate bytes — the standard curation-pipeline stage order.
    # drop_near_dupes runs no id probe; the exact operators do.
    PrePass("dedup", lambda s: bool(s.dedup), _name_text, _dedup,
            batch_only="streaming: use streaming.streaming_dedup",
            validates_ids=lambda s: s.dedup == "exact"),
    # Lee et al. 2022 dup-fraction cap: AFTER dedup (whole-doc dups
    # already removed — this catches the PARTIAL duplication they leave
    # behind), BEFORE domain_cap (cap the cleaned corpus)
    PrePass("max_dup_ngram_fraction", lambda s: s.max_dup_ngram_fraction is not None,
            _name_text,
            lambda df, s, v: decontam.dup_ngram_stats(
                df, s.name_col, s.text_col, n=s.dup_ngram_n,
                materialize=s.dedup_materialize, validate_ids=v,
            ).filter(F.col("dup_fraction") <= s.max_dup_ngram_fraction),
            batch_only="gram doc frequency is a global corpus aggregate",
            validates_ids=lambda s: True),
    # AFTER dedup (cap the deduplicated corpus, not raw dup counts) — at
    # most N docs per domain by portable hash order
    PrePass("domain_cap", lambda s: bool(s.domain_cap),
            lambda s: [s.domain_cap_col, s.name_col],
            lambda df, s, v: sampling.group_cap_sample(
                df, s.domain_cap_col, s.name_col, cap=s.domain_cap),
            batch_only="per-domain ranking needs the whole corpus; streaming: "
            "use streaming.domain_quota_stream"),
    # LAST — select the training mix from the fully-hygienic corpus
    # (mixing before dedup/caps would let duplicates consume quota)
    PrePass("mixture", lambda s: s.mixture is not None,
            lambda s: [c for c in (s.mixture_col, s.name_col, s.mixture_weight_col) if c],
            _mixture,
            batch_only="target shares need the whole corpus; streaming: cap "
            "per-source flow with streaming.domain_quota_stream"),
)

class Pipeline:
    """Compiled recipe. ``apply(df)`` adds decision/transform columns."""

    def __init__(self, spec: RecipeSpec):
        self.spec = spec

    def _ctx(self, df: DataFrame, row_count: int | None = None) -> RuleContext:
        return RuleContext(
            name_col=self.spec.name_col,
            text_col=self.spec.text_col,
            html_col=self.spec.html_col if self.spec.html_col in df.columns else None,
            available_cols=df.columns,
            spec=self.spec,
            shared_cols=tuple(c for c in SHARED_COLS if c in df.columns),
            row_count=row_count,
        )

    def _uses_condition_from(self, pool: set[str]) -> bool:
        def names(e):
            if isinstance(e, str):
                yield e
            elif isinstance(e, list):
                for x in e:
                    yield from names(x)

        exprs = [r.condition for rules in self.spec.levels.values() for r in rules]
        exprs.extend(self.spec.common_conditions.values())
        return any(n in pool for e in exprs for n in names(e))

    def apply(self, df: DataFrame) -> CurationResult:
        spec = self.spec
        # row-count gate (has_n_rows family): ONE count, computed only when
        # a rule actually asks — on parquet sources this is a metadata-only
        # scan (no column read), so the gate stays cheap at any scale.
        # Computed on the RAW INPUT, before any dedup pre-pass: a
        # table-shape assertion describes the table the user pointed at,
        # not the post-dedup survivor set (and counting post-dedup would
        # execute the whole LSH job once for the gate and again for the
        # pipeline).
        row_count = None
        if self._uses_condition_from(ROWCOUNT_CONDITIONS):
            if df.isStreaming:
                raise RecipeError(
                    "row-count conditions (has_n_rows family) are batch-only: "
                    "an unbounded stream has no row count"
                )
            row_count = df.count()
        ids_validated = False  # run the duplicate-id probe at most once
        for p in (p for p in PREPASSES if p.enabled(spec)):
            names = list(df.columns)
            # fail BEFORE any data is processed when a configured pass's
            # column is absent — a typo'd domain_cap_col passes eager
            # recipe *type* validation, and a silent no-op here would
            # ship an uncapped/unfiltered corpus
            missing = [c for c in p.cols(spec) if c not in names]
            if missing:
                raise RecipeError(
                    f"[global] {p.key} is configured but column(s) "
                    f"{missing} are absent from the input (input has: {names})"
                )
            if p.batch_only and df.isStreaming:
                raise RecipeError(f"{p.key} is batch-only ({p.batch_only})")
            df = p.run(df, spec, not ids_validated).select(*names)
            if p.checkpoint:
                df = _checkpoint(df, spec.dedup_materialize)
            ids_validated = ids_validated or p.validates_ids(spec)
        input_cols = list(df.columns)
        if spec.text_col in df.columns:
            tcol = F.col(spec.text_col)
            # the shared pre-projections (registry.SHARED_COLS): each
            # projected once, read by every rule that needs it
            for col, (pool, make) in SHARED_COLS.items():
                if pool is None or self._uses_condition_from(pool):
                    df = df.withColumn(col, make(tcol))
        ctx = self._ctx(df, row_count=row_count)
        compiled_levels: dict[int, list[_CompiledRule]] = {
            lvl: [_compile_rule(r, ctx, spec.act_on_success) for r in rules]
            for lvl, rules in spec.levels.items()
        }

        # Materialize the decision struct as its own projection: gates and
        # outputs then reference a COLUMN, not copies of the chain.
        if not spec.hierarchical or set(compiled_levels) == {-1}:
            dec_expr = _build_decision(compiled_levels[-1])
        else:
            lvl_col = F.col(spec.level_col)
            keyed = sorted((k, v) for k, v in compiled_levels.items() if k != -1)
            default = compiled_levels.get(-1)
            dec_expr = (
                _build_decision(default)
                if default is not None
                else F.struct(
                    F.lit(True).alias("kept"),
                    F.lit(DEFAULT_RULE_ID).alias("rule_id"),
                    F.lit(0).alias("idx"),
                    F.lit(False).alias("quit"),
                )
            )
            for k, comp in reversed(keyed):
                dec_expr = F.when(lvl_col == k, _build_decision(comp)).otherwise(dec_expr)
        df = df.withColumn(DECISION_COL, dec_expr)
        d = F.col(DECISION_COL)

        if not spec.hierarchical or set(compiled_levels) == {-1}:
            plan = _fold_effects(compiled_levels[-1], d, ctx, spec)
        else:
            lvl_col = F.col(spec.level_col)
            plan = None
            for k, comp in compiled_levels.items():
                extra = None if k == -1 else (lvl_col == k)
                if k == -1:
                    # default level applies where no keyed level matches
                    # (null-safe: a null level row takes the default)
                    keyed_vals = [kk for kk in compiled_levels if kk != -1]
                    extra = (
                        ~F.coalesce(lvl_col.isin(keyed_vals), F.lit(False))
                        if keyed_vals
                        else None
                    )
                plan = _fold_effects(comp, d, ctx, spec, extra_gate=extra, plan=plan)

        cols: list[Column] = [F.col(c) for c in input_cols]
        cols.append(plan.kept.alias(KEPT_COL))
        cols.append(plan.rule_id.alias(RULE_COL))
        cols.append(plan.quit.alias(QUIT_COL))
        text_expr = plan.out_cols.get(spec.text_col, F.col(spec.text_col))
        cols.append(
            F.when(plan.kept, text_expr).otherwise(F.lit(None)).alias(SCRUBBED_COL)
        )
        for tcol, expr in plan.out_cols.items():
            if tcol == spec.text_col:
                continue
            # transformed EXISTING columns keep the original too (suffix
            # _out); DERIVED columns (extract action) appear under their
            # own name
            alias = f"{tcol}_out" if tcol in input_cols else tcol
            cols.append(expr.alias(alias))
        for name, expr in plan.cnt.items():
            cols.append(expr.alias(_CNT + name))
        for name, expr in plan.lst.items():
            cols.append(expr.alias(_LST + name))
        return CurationResult(df.select(*cols), spec, ctx, input_cols=input_cols)


def compile_recipe(spec: RecipeSpec) -> Pipeline:
    return Pipeline(spec)

