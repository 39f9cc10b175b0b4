"""Text-quality heuristic expressions (Gopher/C4-style), all as native
``pyspark.sql.Column`` expressions — JVM-side, whole-stage-codegen'd,
never per-row Python. Word-derived heuristics take the shared stats
struct (``arrow_stats.token_stats_arrow``, one Arrow batch pass) as a
required argument and only read its fields.

These are the graft analogue of the reference's content-describe ops
(``describe_image`` 8-moment stats, reference src/DataCurator.jl:902-916)
and predicate builders (``buildcomp``, src/DataCurator.jl:2270-2293):
whole-column boolean masks / stat columns built once per document.

Everything here is deterministic and mirrors 1:1 into ANSI SQL for the
DuckDB oracle (see __spark_entry__.oracle_sql). Regexes stay in the
RE2-compatible common subset of Java-regex (Spark) and RE2 (DuckDB):
character classes, ``\\b``, ``+``, alternation — no backrefs, no
lookaround.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Word lists. Fixed, versioned: determinism of keep/drop labels depends on
# these never changing silently (SURVEY.md §7.4 determinism requirement).
# ---------------------------------------------------------------------------

# C4-style English stop words used for the "natural language" heuristic.
EN_STOPWORDS = (
    "the and of to in is that it for was on are as with his they at be this "
    "have from or had by not word but what some we can out other were all "
    "there when up use your how said an each she"
).split()

# Distinctive function words per language for the n-gram/stopword langid
# heuristic. Chosen to be (mostly) disjoint across languages.
LANG_MARKERS: dict[str, list[str]] = {
    "en": "the and is was are have not with for this that".split(),
    "de": "der die das und ist nicht ein eine mit von sich auch".split(),
    "fr": "le la les et est que une pour dans qui pas vous".split(),
    "es": "el los las una por con para como pero sus este".split(),
    "it": "il gli della che per una sono del nel alla come".split(),
}

TERMINAL_PUNCT = (".", "!", "?", '"', "'")


def _word_boundary_pattern(words: list[str]) -> str:
    return r"\b(" + "|".join(words) + r")\b"


# ---------------------------------------------------------------------------
# Basic stats
# ---------------------------------------------------------------------------


def n_chars(text: Column) -> Column:
    return F.length(text)


def words(text: Column) -> Column:
    r"""Whitespace tokenization: EXACTLY the ``\S+`` match list.

    Pinned across all four implementations (this JVM expr, the Python
    kernels' one definition in ``functions/tokens.py``, the Python
    oracle, DuckDB ``regexp_extract_all(text, '\S+')``). NB ``F.trim``
    strips only the space character — it is NOT whitespace-trim and must
    never be used for token/has-text semantics (round-1 fuzz divergence
    on "\n").

    Implementation: Java ``split('\s+')`` never yields interior or
    trailing empty tokens (runs are consumed; trailing empties stripped),
    only a single leading ``""`` when the text starts with whitespace —
    so ``array_remove(.., '')`` yields the exact ``\S+`` list in one
    codegen'd pass, with no CASE branch (CASE would defeat subexpression
    elimination) and no higher-order function.
    """
    return F.array_remove(F.split(text, r"\s+"), "")


def n_words(text: Column, stats: Column) -> Column:
    return stats.getField("nw")


def n_lines(text: Column) -> Column:
    return F.size(F.split(text, r"\n"))


def mean_word_length(text: Column, stats: Column) -> Column:
    """Average token length; null for empty docs.

    Computed as (non-whitespace chars) / (word count) — mathematically
    identical to averaging per-word lengths (the split consumes exactly
    the whitespace). Null text has nw=0, so it yields null too."""
    nw = n_words(text, stats)
    return F.when(nw > 0, stats.getField("ncnw").cast("double") / nw)


def distinct_word_ratio(text: Column, stats: Column) -> Column:
    """|distinct lowercase words| / |words|; 1.0 for empty docs.

    Low values = repeated-word spam (Gopher repetition rule)."""
    nw = n_words(text, stats)
    return F.when(nw > 0, stats.getField("nd").cast("double") / nw).otherwise(
        F.lit(1.0)
    )


def distinct_line_ratio(text: Column, stats: Column) -> Column:
    """|distinct lines| / |lines|; repeated-line spam detector. Null text
    has nl=ndl=1 (empty-string semantics), so it scores 1.0."""
    nl = stats.getField("nl")
    return F.when(nl > 0, stats.getField("ndl").cast("double") / nl).otherwise(
        F.lit(1.0)
    )


def _count_matches(text: Column, pattern: str) -> Column:
    return F.regexp_count(text, F.lit(pattern))


# Explicit ASCII character sets for translate()-based counting.
# translate() is a single char-map pass with NO regex machinery — both
# regexp_count (per-match find loop) and regexp_replace (per-match
# StringBuilder appends) allocate per matched character and were measured
# to ANTI-scale across cores on allocation pressure. Counts identical.
_LOWER = "abcdefghijklmnopqrstuvwxyz"
_UPPER = _LOWER.upper()
_DIGITS = "0123456789"
_WS = " \t\n\x0b\x0c\r"  # Java regex \s, spelled out
_BASIC_PUNCT = ".,;:'\"!?()-"
_ALLOWED = _LOWER + _UPPER + _DIGITS + _WS + _BASIC_PUNCT


def _count_chars_in(text: Column, charset: str) -> Column:
    """#chars of ``text`` belonging to ``charset`` (ASCII, enumerable)."""
    return F.length(text) - F.length(F.translate(text, charset, ""))


def alpha_ratio(text: Column) -> Column:
    """Fraction of characters that are ASCII letters; 0.0 for empty."""
    n = F.length(text)
    return F.when(
        n > 0, _count_chars_in(text, _LOWER + _UPPER).cast("double") / n
    ).otherwise(F.lit(0.0))


def digit_ratio(text: Column) -> Column:
    n = F.length(text)
    return F.when(n > 0, _count_chars_in(text, _DIGITS).cast("double") / n).otherwise(
        F.lit(0.0)
    )


def uppercase_ratio(text: Column) -> Column:
    n = F.length(text)
    return F.when(n > 0, _count_chars_in(text, _UPPER).cast("double") / n).otherwise(
        F.lit(0.0)
    )


def symbol_ratio(text: Column, stats: Column) -> Column:
    """Fraction of characters outside letters/digits/whitespace/basic
    punctuation — the C4 'symbol ratio' junk detector. ``n`` is
    length(text), so null text falls to 0.0."""
    n = F.length(text)
    return F.when(n > 0, stats.getField("nsym").cast("double") / n).otherwise(
        F.lit(0.0)
    )


# ---------------------------------------------------------------------------
# Word stats: every word-derived heuristic reads ONE shared struct,
# ``arrow_stats.token_stats_arrow`` (the engine pre-projects it as
# ``_dc_stats``; a standalone condition builds the same kernel inline).
#
# Token semantics (pinned): token = whitespace-split word, lowercased,
# with common punctuation characters (PUNCT_STRIP) deleted, then exact
# set membership. So "The," counts, "the-fox" does not.
# ---------------------------------------------------------------------------

PUNCT_STRIP = ".,;:!?\"'()[]"

STAT_SETS: dict[str, list[str]] = {"sw": EN_STOPWORDS, **LANG_MARKERS}

#: struct fields: word count, distinct words, set counts, then the
#: char/line stats (non-ws chars, line count, distinct lines, symbol
#: chars). Token fields are zero-for-null; the char/line fields use
#: empty-string semantics for null text (nl=ndl=1, counts 0).
STATS_FIELDS = ("nw", "nd", *STAT_SETS, "ncnw", "nl", "ndl", "nsym")


def stopword_hits(text: Column, stats: Column) -> Column:
    return stats.getField("sw")


def stopword_ratio(text: Column, stats: Column) -> Column:
    """English stop-word tokens / word count; 0.0 for empty docs."""
    nw = n_words(text, stats)
    return F.when(
        nw > 0, stopword_hits(text, stats).cast("double") / nw
    ).otherwise(F.lit(0.0))


def max_word_length(text: Column) -> Column:
    w = words(text)
    return F.when(
        F.size(w) > 0,
        F.array_max(F.transform(w, lambda x: F.length(x))),
    ).otherwise(F.lit(0))


def ellipsis_line_ratio(text: Column) -> Column:
    """Fraction of lines ending in '...' (C4 rule; whitespace-robust:
    trailing tabs/spaces after the ellipsis are ignored)."""
    lines = F.split(text, r"\n")
    nl = F.size(lines)
    cnt = F.size(F.filter(lines, lambda l: l.rlike(r"\.\.\.[ \t\x0b\f\r]*$")))
    return F.when(nl > 0, cnt.cast("double") / nl).otherwise(F.lit(0.0))


def bullet_line_ratio(text: Column) -> Column:
    """Fraction of lines starting with a bullet marker (Gopher rule)."""
    lines = F.split(text, r"\n")
    nl = F.size(lines)
    cnt = F.size(
        F.filter(lines, lambda l: l.rlike(r"^[ \t\x0b\f\r]*[-*•●▪]"))
    )
    return F.when(nl > 0, cnt.cast("double") / nl).otherwise(F.lit(0.0))


def terminal_punct_line_ratio(text: Column) -> Column:
    """Fraction of non-blank lines ending in terminal punctuation
    (ignoring trailing intra-line whitespace). Blank = no non-space char."""
    lines = F.filter(F.split(text, r"\n"), lambda l: l.rlike(r"\S"))
    nl = F.size(lines)
    cnt = F.size(F.filter(lines, lambda l: l.rlike(r"[.!?\"'][ \t\x0b\f\r]*$")))
    return F.when(nl > 0, cnt.cast("double") / nl).otherwise(F.lit(0.0))


# ---------------------------------------------------------------------------
# Language ID (heuristic over the shared struct's marker counts — the
# vectorized stand-in for a fastText stage; the mapInPandas model-stage
# plumbing lives in plans/stages.py for when a real model is available)
# ---------------------------------------------------------------------------


CJK_PATTERN = "[一-鿿]"


def cjk_score(text: Column) -> Column:
    """CJK character count / 4 (≈ hits-per-marker-word scale, keeps the
    zh score comparable to the marker-token counts). regexp_count is fine
    here: CJK chars are rare in the target corpora, so the per-match loop
    almost never fires."""
    cjk = F.regexp_count(text, F.lit("[一-鿿]"))
    return (cjk / F.lit(4)).cast("int")


def _lang_score_cols(text: Column, stats: Column) -> dict[str, Column]:
    """Language -> integer score: marker-token counts from the shared
    stats struct; zh from the CJK character ratio."""
    scores = {k: stats.getField(k) for k in LANG_MARKERS}
    scores["zh"] = cjk_score(text)
    return scores


LANG_ORDER = [*LANG_MARKERS, "zh"]  # fixed tie-break order


def lang_id(text: Column, stats: Column) -> Column:
    """argmax language by score; 'und' (undetermined) when all zero.

    Ties break by the fixed LANG_ORDER (deterministic — SURVEY.md §7.4
    requires documented tie-breaking).
    """
    counts = _lang_score_cols(text, stats)
    best = F.greatest(*counts.values())
    expr = F.lit("und")
    # build reversed when-chain so earlier languages win ties
    for k in reversed(LANG_ORDER):
        expr = F.when((best > 0) & (counts[k] == best), F.lit(k)).otherwise(expr)
    return expr


def lang_top_score(text: Column, stats: Column) -> Column:
    return F.greatest(*_lang_score_cols(text, stats).values())


# ---------------------------------------------------------------------------
# Perplexity proxy (KenLM stand-in): a deterministic score over the
# shared stats struct. Real-model plumbing (per-worker lazy load, Arrow
# batches) is in plans/stages.py.
# ---------------------------------------------------------------------------


def perplexity_proxy(text: Column, stats: Column) -> Column:
    """Lower = more natural text. Combines stopword density, word-length
    shape and repetition into one score in [0, ~10]. Deterministic.
    """
    sw = stopword_ratio(text, stats)
    mwl = F.coalesce(mean_word_length(text, stats), F.lit(0.0))
    rep = distinct_word_ratio(text, stats)
    sym = symbol_ratio(text, stats)
    # natural English: sw ~0.3-0.6, mwl ~4-6, rep high, sym ~0
    return (
        F.abs(mwl - F.lit(4.5)) / F.lit(4.5)
        + (F.lit(1.0) - rep)
        + F.lit(4.0) * sym
        + F.greatest(F.lit(0.0), F.lit(0.25) - sw) * F.lit(8.0)
    )


def token_count(text: Column) -> Column:
    """BPE-ish token estimate: word-ish runs + standalone punctuation.

    Pattern: runs of letters, runs of digits, or single non-space symbol.
    """
    return _count_matches(text, r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]")


def fingerprint(text: Column) -> Column:
    """Normalized document fingerprint: md5 over whitespace-collapsed,
    whitespace-trimmed, lowercased text. Stable across engines (md5 is md5
    everywhere). Collapse-THEN-trim: after ``\\s+ -> ' '`` any edge
    whitespace is a plain space, so the space-only ``trim`` is then a true
    whitespace trim."""
    norm = F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))
    return F.md5(norm)


def quality_score(text: Column, stats: Column) -> Column:
    """Composite quality in [0,1], higher = better. Weighted, deterministic
    blend of the heuristics — a native stand-in for a learned quality model.
    """
    sw = F.least(stopword_ratio(text, stats) * F.lit(2.5), F.lit(1.0))
    rep = distinct_word_ratio(text, stats)
    sym = F.lit(1.0) - F.least(symbol_ratio(text, stats) * F.lit(5.0), F.lit(1.0))
    alpha = alpha_ratio(text)
    return (sw * F.lit(0.35) + rep * F.lit(0.25) + sym * F.lit(0.2) + alpha * F.lit(0.2))


# ---------------------------------------------------------------------------
# Encoding-noise / mojibake signals (ftfy-style "badness", CCNet/
# RefinedWeb-grade hygiene): a crawl that went through a wrong-charset
# decode leaves three fingerprints — U+FFFD replacement characters
# (decoder gave up), stray control characters (C1 block = UTF-8
# continuation bytes decoded as Latin-1), and characteristic two-char
# sequences like "Ã©"/"â€™" (UTF-8 bytes decoded as Latin-1/cp1252).
# All three are counted with shared, pinned definitions so the Spark
# expr, the per-row Python oracle, and the DuckDB SQL twin agree
# byte-for-byte (graft analogue of the reference's content validators,
# src/DataCurator.jl:902-916 describe/validate family).
# ---------------------------------------------------------------------------

REPLACEMENT_CHAR = "�"

#: Control characters that should never appear in clean prose: C0 minus
#: the legitimate \t \n \r, plus DEL, plus the whole C1 block (C1 chars
#: in decoded text are the classic UTF-8-bytes-read-as-Latin-1 residue).
CONTROL_CHARS = (
    "".join(chr(c) for c in range(0x00, 0x20) if chr(c) not in "\t\n\r")
    + "\x7f"
    + "".join(chr(c) for c in range(0x80, 0xA0))
)

#: RE2/Java/Python-shared regex for the same set (ASCII escapes only —
#: the DuckDB twin cannot embed raw NUL/control bytes in a SQL literal).
CONTROL_CHARS_PATTERN_SQL = r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f-\x9f]"

#: What cp1252 decodes bytes 0x80-0x9F to (the printable remappings —
#: the undefined bytes 81/8D/8F/90/9D fall back to C1 controls, which
#: the -¿ range below already covers).
MOJIBAKE_CP1252 = "".join(
    chr(c)
    for c in (
        0x20AC, 0x201A, 0x0192, 0x201E, 0x2026, 0x2020, 0x2021, 0x02C6,
        0x2030, 0x0160, 0x2039, 0x0152, 0x017D, 0x2018, 0x2019, 0x201C,
        0x201D, 0x2022, 0x2013, 0x2014, 0x02DC, 0x2122, 0x0161, 0x203A,
        0x0153, 0x017E, 0x0178,
    )
)

# A UTF-8 continuation byte (0x80-0xBF) decoded as Latin-1 lands in
# U+0080-U+00BF; decoded as cp1252 it lands in MOJIBAKE_CP1252 (or the
# same C1 char for the five undefined bytes). A mojibake sequence is a
# 2-byte lead (0xC2-0xDF -> Â..ß) followed by ONE continuation char, or
# a 3-byte lead (0xE0-0xEF -> à..ï) followed by TWO — requiring the
# full continuation run keeps real text like "café”" (é + curly quote)
# from matching while "Ã©" and "â€™" do. 4-byte leads (F0-F4, emoji)
# are deliberately out of scope: their mojibake also contains a 3-byte-
# shaped suffix this pattern already hits. The two alternatives have
# disjoint lead ranges, so leftmost-first (Java/Python/RE2-Perl) and
# leftmost-longest engines produce the same non-overlapping match list.
_MOJI_CONT = "[\u0080-\u00bf" + MOJIBAKE_CP1252 + "]"
MOJIBAKE_PATTERN = (
    "[Â-ß]" + _MOJI_CONT + "|[à-ï]" + _MOJI_CONT + "{2}"
)

#: Same pattern with the class RANGES spelled as RE2 \x{..} escapes so
#: the DuckDB twin carries no raw C1 bytes inside the SQL text (the
#: cp1252 chars are printable and stay literal). Java accepts \x{..}
#: too, but the Python re twin does not — hence two spellings, pinned
#: equal by tests/test_round6_features.py.
_MOJI_CONT_SQL = r"[\x{80}-\x{bf}" + MOJIBAKE_CP1252 + "]"
MOJIBAKE_PATTERN_SQL = (
    r"[\x{c2}-\x{df}]" + _MOJI_CONT_SQL
    + r"|[\x{e0}-\x{ef}]" + _MOJI_CONT_SQL + "{2}"
)


def replacement_char_count(text: Column) -> Column:
    """#U+FFFD replacement characters (a decoder already gave up here)."""
    return _count_chars_in(text, REPLACEMENT_CHAR)


def control_char_count(text: Column) -> Column:
    """#control characters outside \\t \\n \\r (single translate pass —
    no regex machinery; see _count_chars_in scaling note)."""
    return _count_chars_in(text, CONTROL_CHARS)


def mojibake_count(text: Column) -> Column:
    """#non-overlapping mojibake sequences (UTF-8 read as Latin-1/cp1252)."""
    return _count_matches(text, MOJIBAKE_PATTERN)


def encoding_noise_ratio(text: Column) -> Column:
    """(replacement + control + mojibake hits) / chars; 0.0 for empty.

    The single-number mis-decode detector: clean prose scores 0.0, a
    wrong-charset document scores roughly (multi-byte chars)/(chars).
    Each mojibake SEQUENCE counts once (not per char) — the ratio is a
    signal, not a byte accounting."""
    n = F.length(text)
    bad = (
        replacement_char_count(text)
        + control_char_count(text)
        + mojibake_count(text)
    )
    return F.when(n > 0, bad.cast("double") / n).otherwise(F.lit(0.0))
