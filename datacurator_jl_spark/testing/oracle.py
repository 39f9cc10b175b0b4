"""Pure-Python per-row oracle of the recipe engine.

An INDEPENDENT re-implementation of the rule semantics — a sequential
per-document loop in plain Python/`re`, the way the reference's `dostep`
visitor works (src/DataCurator.jl:1516-1568) — used by tests to check the
vectorized Spark plan produces identical keep/drop labels (F1 >= 0.99
target; we assert exact agreement) and byte-identical scrubbed text.

All regexes use re.ASCII so \\s, \\b, \\w match Java-regex ASCII
semantics (Spark's dialect on this corpus).
"""

from __future__ import annotations

import re

import pandas as pd

from datacurator_jl_spark.functions.scrub import SCRUB_RULES
from datacurator_jl_spark.functions.text import EN_STOPWORDS, LANG_MARKERS
from datacurator_jl_spark.recipe import RecipeSpec

_A = re.ASCII


def _words(t: str) -> list[str]:
    # exactly the ASCII \S+ match list — pinned identical to the Spark
    # words() expr, the Arrow twin, and the DuckDB regexp_extract_all twin.
    # (str.strip() is unicode-aware and would diverge from Java \s on
    # e.g. \xa0; re.ASCII keeps all four engines on the same alphabet.)
    return re.findall(r"\S+", t, flags=_A)


def _count(pat: str, t: str) -> int:
    return len(re.findall(pat, t, flags=_A))


_PUNCT_TABLE = str.maketrans("", "", ".,;:!?\"'()[]")  # text.PUNCT_STRIP


def _norm_tokens(t: str) -> list[str]:
    """The set-membership tokens of the shared stats struct
    (``arrow_stats.token_stats_arrow``): whitespace split, lowercase,
    strip punctuation characters (token-based stopword/langid
    semantics)."""
    return [w.lower().translate(_PUNCT_TABLE) for w in _words(t)]


def _stopword_hits(t: str) -> int:
    sw = set(EN_STOPWORDS)
    return sum(1 for w in _norm_tokens(t) if w in sw)


def _lang_id(t: str) -> str:
    nt = _norm_tokens(t)
    scores = {k: sum(1 for w in nt if w in set(ws)) for k, ws in LANG_MARKERS.items()}
    scores["zh"] = len(re.findall("[一-鿿]", t)) // 4
    best = max(scores.values()) if scores else 0
    if best <= 0:
        return "und"
    for k in [*LANG_MARKERS, "zh"]:  # first language in fixed order wins ties
        if scores[k] == best:
            return k
    return "und"


def _symbol_ratio(t: str) -> float:
    if not t:
        return 0.0
    ok = _count(r"[A-Za-z0-9\s.,;:'\"!?()\-]", t)
    return (len(t) - ok) / len(t)


def _encoding_noise_ratio(t: str) -> float:
    """Mirror of text.encoding_noise_ratio: (U+FFFD + control chars
    outside tab/lf/cr + non-overlapping mojibake sequences) / chars.
    NB no re.ASCII here — the pattern's classes are literal non-ASCII
    codepoints, unaffected by the flag, but be explicit about intent."""
    if not t:
        return 0.0
    from datacurator_jl_spark.functions.text import CONTROL_CHARS, MOJIBAKE_PATTERN

    ctrl_set = set(CONTROL_CHARS)
    bad = (
        t.count("�")
        + sum(1 for ch in t if ch in ctrl_set)
        + len(re.findall(MOJIBAKE_PATTERN, t))
    )
    return bad / len(t)


def _distinct_word_ratio(t: str) -> float:
    w = _words(t.lower())
    return len(set(w)) / len(w) if w else 1.0


def _distinct_line_ratio(t: str) -> float:
    lines = t.split("\n")
    return len(set(lines)) / len(lines) if lines else 1.0


def _mean_word_length(t: str):
    w = _words(t)
    return sum(len(x) for x in w) / len(w) if w else None


def _max_word_length(t: str) -> int:
    w = _words(t)
    return max((len(x) for x in w), default=0)


def _rep_stats(t: str) -> dict[str, float]:
    """Mirror of functions/rep_stats.rep_stats_doc (pinned semantics in
    that module's docstring): sequential per-document counters, the way
    a per-row visitor would compute them."""
    from collections import Counter

    nc = len(t)
    toks = re.findall(r"\S+", t.lower(), flags=_A)
    out: dict[str, float] = {}
    for n in range(2, 11):
        grams = Counter(
            tuple(toks[i : i + n]) for i in range(len(toks) - n + 1)
        )
        best = 0
        tot = 0
        for g, k in grams.items():
            if k >= 2:
                charlen = sum(len(w) for w in g) + n - 1
                best = max(best, k * charlen)
                tot += (k - 1) * charlen
        if n <= 4:
            out[f"top{n}"] = min(1.0, best / nc) if nc else 0.0
        else:
            out[f"dup{n}"] = min(1.0, tot / nc) if nc else 0.0
    for key, delim in (("line", "\n"), ("para", "\n\n")):
        parts = [p for p in t.split(delim) if p != ""]
        if parts and nc:
            counts = Counter(parts)
            out[f"dup_{key}_frac"] = (len(parts) - len(counts)) / len(parts)
            out[f"dup_{key}_char_frac"] = (
                sum((k - 1) * len(p) for p, k in counts.items()) / nc
            )
        else:
            out[f"dup_{key}_frac"] = 0.0
            out[f"dup_{key}_char_frac"] = 0.0
    return out


def _eval_condition(expr, row) -> bool | None:
    """Returns the condition truth value; None models SQL null."""
    t = row["text"]
    if isinstance(expr, str):
        name, args = expr, []
    else:
        name, args = expr[0], list(expr[1:])
    if name in ("all", "and"):
        out = True
        for e in args:
            v = _eval_condition(e, row)
            if v is None:
                return None
            if not v:
                return False
        return out
    if name in ("any", "or"):
        for e in args:
            if _eval_condition(e, row):
                return True
        return False
    if name == "not":
        v = _eval_condition(args[0] if len(args) == 1 else args, row)
        return None if v is None else (not v)

    if name in ("always", "always_triggers"):
        return True
    if name in ("never", "always_fails"):
        return False
    if name == "has_text":
        return t is not None and re.search(r"\S", t, flags=_A) is not None
    # name-column conditions: evaluated BEFORE the null-text early
    # return (a null-text row still has a name). Null name -> null, SQL
    # IN semantics.
    if name in ("name_in_list", "name_not_in_list"):
        nm = row["url"]
        if nm is None:
            return None
        hit = nm in {str(v) for v in args[0]}
        return hit if name == "name_in_list" else not hit
    if t is None:
        return None  # null text -> null condition, like the Spark plan
    if name == "min_length":
        return len(t) >= int(args[0])
    if name == "max_length":
        return len(t) <= int(args[0])
    if name == "min_words":
        return len(_words(t)) >= int(args[0])
    if name == "max_words":
        return len(_words(t)) <= int(args[0])
    if name == "word_count_between":
        lo, hi = args[0]
        return lo < len(_words(t)) < hi
    if name == "mean_word_length_between":
        m = _mean_word_length(t)
        lo, hi = args[0]
        return None if m is None else (float(lo) < m < float(hi))
    if name == "max_word_length_below":
        return _max_word_length(t) < int(args[0])
    if name == "symbol_ratio_below":
        return _symbol_ratio(t) < float(args[0])
    if name == "encoding_noise_below":
        return _encoding_noise_ratio(t) < float(args[0])
    if name == "stopword_ratio_above":
        w = _words(t)
        r = (_stopword_hits(t) / len(w)) if w else 0.0
        return r > float(args[0])
    if name == "min_stopword_hits":
        return _stopword_hits(t) >= int(args[0])
    if name == "word_repetition_below":
        return _distinct_word_ratio(t) > 1.0 - float(args[0])
    if name == "line_repetition_below":
        return _distinct_line_ratio(t) > 1.0 - float(args[0])
    if name == "top_ngram_char_frac_below":
        return _rep_stats(t)[f"top{int(args[0])}"] < float(args[1])
    if name == "dup_ngram_char_frac_below":
        return _rep_stats(t)[f"dup{int(args[0])}"] < float(args[1])
    if name in (
        "dup_line_frac_below",
        "dup_line_char_frac_below",
        "dup_para_frac_below",
        "dup_para_char_frac_below",
    ):
        return _rep_stats(t)[name.removesuffix("_below")] < float(args[0])
    if name == "lang_is":
        return _lang_id(t) == args[0]
    if name == "compression_ratio_between":
        from datacurator_jl_spark.functions.compress import compression_ratio_py

        r = compression_ratio_py(t)
        if r is None:
            return None
        lo, hi = args[0]
        return float(lo) < r < float(hi)
    if name in ("classifier_score_above", "classifier_score_below"):
        from datacurator_jl_spark.functions.classifier import classifier_score_py

        s = classifier_score_py(t)
        if s is None:
            return None
        return s > float(args[0]) if name.endswith("above") else s < float(args[0])
    if name == "contains_pii":
        pats = "|".join(f"({p})" for _n, p, _r in SCRUB_RULES)
        return re.search(pats, t, flags=_A) is not None
    if name == "alpha_ratio_above":
        return (_count(r"[A-Za-z]", t) / len(t) if t else 0.0) > float(args[0])
    if name == "digit_ratio_below":
        return (_count(r"[0-9]", t) / len(t) if t else 0.0) < float(args[0])
    if name == "uppercase_ratio_below":
        return (_count(r"[A-Z]", t) / len(t) if t else 0.0) < float(args[0])
    raise NotImplementedError(f"oracle does not implement condition {name!r}")


def scrub_text(t: str | None) -> str | None:
    if t is None:
        return None
    for _name, pat, repl in SCRUB_RULES:
        t = re.sub(pat, repl.replace("\\", "\\\\"), t, flags=_A)
    return t


def _branch_decides(effects: list[tuple[str, object]]):
    """Terminal-decision semantics (engine v2): drop/keep/quit end the
    document's evaluation at that rule."""
    kinds = {k for k, _ in effects}
    if "drop" in kinds:
        return False
    if "keep" in kinds or "quit" in kinds:
        return True
    return None


def _action_kinds(expr) -> list[tuple[str, object]]:
    """Flatten an action expression to [(kind, payload)]."""
    if expr is None:
        return [("noop", None)]
    if isinstance(expr, str):
        if expr in ("keep",):
            return [("keep", None)]
        if expr in ("drop", "remove", "delete_file"):
            return [("drop", None)]
        if expr in ("quit", "halt", "quit_on_fail"):
            return [("quit", None)]
        if expr == "scrub_pii":
            return [("scrub", None)]
        return [("noop", None)]
    head = expr[0]
    if head in ("all_actions", "chain"):
        out = []
        for e in expr[1:]:
            out.extend(_action_kinds(e))
        return out
    if head in ("count", "increment_counter"):
        return [("count", expr[1])]
    if head in ("add_to_file_list", "->", "aggregate_to"):
        return [("list", expr[1])]
    if head in ("drop_log", "log_to_file_with_message"):
        return [("drop", None)]
    if head == "scrub_pii":
        return [("scrub", None)]
    return [("noop", None)]


def oracle_labels(pdf: pd.DataFrame, spec: RecipeSpec) -> pd.DataFrame:
    """Sequential per-document evaluation -> (url, keep, rule_id,
    scrubbed_text) per FIXTURES.md §2."""
    urls, keeps, rule_ids, scrubbed = [], [], [], []
    rules = spec.rules
    for _, row in pdf.iterrows():
        keep = True
        rid = None
        text = row["text"]
        for r in rules:
            v = _eval_condition(r.condition, row)
            fired = (v is True) == spec.act_on_success if v is not None else (
                spec.act_on_success is False
            )
            effects = _action_kinds(r.action if fired else r.counteraction)
            if any(k == "scrub" for k, _ in effects):
                text = scrub_text(text)
            decided = _branch_decides(effects)
            if decided is not None:  # terminal decision (drop/keep/quit)
                keep = decided
                rid = r.rule_id
                break
        urls.append(row["url"])
        keeps.append(keep)
        rule_ids.append(rid if rid is not None else "default_keep")
        scrubbed.append(text if keep else None)
    return pd.DataFrame(
        {"url": urls, "keep": keeps, "rule_id": rule_ids, "scrubbed_text": scrubbed}
    )
