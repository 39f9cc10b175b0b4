"""One tokenizer (functions/tokens.py): ``token_codes`` is the exact
``TOKEN_RE`` match list, and every batch kernel built on it equals its
per-row reference on the same edge cases.

CASES holds the boundary inputs that split tokenizers apart: leading
and trailing whitespace (Arrow's splitter emits empty tokens there),
all-whitespace and null text, vertical tab and form feed (whitespace
under ``re.ASCII``), and the characters ``re.ASCII`` does NOT treat as
whitespace but Unicode does (``\\x00``, ``\\x1c``-``\\x1f``, ``\\x85``,
``\\xa0``, U+2028), plus case folds that change length (``İ``), and
stop-word / language-marker sentences whose punctuation the stats
struct's set counts strip (``"(lazy)"``, ``"'und'"``, ``"the."``) or keep
(``"the-fox"``).
"""

from __future__ import annotations

import ast
import hashlib
import json
from collections import Counter
from pathlib import Path
from types import SimpleNamespace

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from datacurator_jl_spark.functions import arrow_hash as AH
from datacurator_jl_spark.functions.arrow_stats import _token_stats_batch
from datacurator_jl_spark.functions.classifier import linear_score_arrow
from datacurator_jl_spark.functions.text import (
    _ALLOWED,
    _WS,
    PUNCT_STRIP,
    STAT_SETS,
    STATS_FIELDS,
)
from datacurator_jl_spark.functions.tokenizer import JsonVocabTokenizer
from datacurator_jl_spark.functions.tokens import TOKEN_RE, token_codes
from datacurator_jl_spark.operators.decontam import word_ngrams_arrow
from datacurator_jl_spark.operators.dedup import _h32
from datacurator_jl_spark.operators.distill import unigram_buckets_arrow
from datacurator_jl_spark.plans.stages import (
    FakeLangModel,
    FakePerplexityModel,
    JsonPerplexityModel,
)

CASES = [
    "", " ", "  ", "  \t\n ", "\n", "\t", "\x0b", "\x0b\x0c", "\v lone \f",
    None, "a", " a ", "a b", " a b a ", "\ta b\r\n", "\tbar ", "\nfoo",
    " . ", "x\n\ny", "a\x0bb", "a\x0bb\x0cc", "a\x00b", "nul\x00 \x00also",
    "nul\x00 \x00also \x00", "x\xa0y z", "p\x85q", "p\x85q r", "\x1c\x1d",
    "the fox the fox", "\tthe fox", "the and of", "The THE the",
    "The the THE", "w1 w2 w3 w1", "mixed \u2028 line", " der und la le ",
    "a\nb\na", "x\n\n", "\n\nx", "li\u0307ne \u0130\n\u0130",
    "$ymb0l$ & \u00a92024 \u2014 em", "quote'\"paren() dash-",
    "The quick, brown fox! AND the (lazy) dog.", "der Der DER und 'und' nicht?",
    "le la  les\tet\nest que", "the-fox and_dog the. the", "   ", "x\n\n\ny",
    "the quick brown fox jumps over the lazy dog", "the the the the",
    "   \n\t ", "\u00e7\u00fc\u00e9 \u6f22\u5b57 mixed UNICODE words",
    "\tleading and trailing\n", "a b c d e", "one", "  x \t y \x0b z ",
    "rep rep rep rep", "Mixed CASE mixed case", "the quick brown fox",
    "novel words only here", "the quick", "THE QUICK BROWN cat",
    "The quick brown fox jumps over the lazy dog", "the THE tHe", "word",
    "   \t\n", "unicode na\u00efve caf\u00e9 tokens", "a b c d", "  x \t y  ",
]


def _toks(t, lower=True):
    """The per-row reference token list (null text has none)."""
    if not isinstance(t, str):
        return []
    return TOKEN_RE.findall(t.lower() if lower else t)


def _exploded(texts: pd.Series, lower: bool) -> pd.Series:
    """Token occurrences indexed by row label: the findall -> explode
    shape the float kernels' summation order is pinned to."""
    toks = pd.Series([_toks(t, lower) for t in texts], index=texts.index)
    return toks.explode().dropna()


@pytest.fixture(params=["cases", "corpus"])
def texts(request, docs_pdf):
    if request.param == "cases":
        return pd.Series(CASES, dtype=object)
    return docs_pdf["text"].reset_index(drop=True)


@pytest.mark.parametrize("lower", [False, True])
def test_token_codes_is_the_findall_list(texts, lower):
    src = texts.str.lower() if lower else texts
    rows, codes, uniques = token_codes(src)
    got = [[] for _ in range(len(src))]
    for r, c in zip(rows.tolist(), codes.tolist()):
        got[r].append(uniques[c])
    exp = [_toks(t, lower=False) for t in src]
    assert got == exp
    # uniques in first-appearance order, exactly once each
    assert uniques == list(dict.fromkeys(w for ws in exp for w in ws))


def test_token_codes_degenerate_batches():
    for texts in (pd.Series([], dtype=object), pd.Series([None, None]),
                  pd.Series(["", " \t\n"])):
        rows, codes, uniques = token_codes(texts)
        assert len(rows) == len(codes) == len(uniques) == 0


def _case_tokens():
    """``""`` plus every raw and lowered CASES token, once each."""
    return [""] + list(dict.fromkeys(
        w for t in CASES for lower in (False, True) for w in _toks(t, lower)
    ))


@pytest.mark.parametrize("hexchars", [4, 8, 15])
@pytest.mark.parametrize("suffix", ["", "#3"])
def test_md5_prefix_matches_hashlib(hexchars, suffix):
    strings = _case_tokens()
    got = AH.md5_prefix(strings, suffix, hexchars)
    assert got.dtype == np.int64
    assert got.tolist() == [_md5(w + suffix, hexchars) for w in strings]
    empty = AH.md5_prefix([], suffix, hexchars)
    assert empty.dtype == np.int64 and empty.shape == (0,)


@pytest.mark.parametrize("suffix", ["", "#3"])
def test_md5_prefix_matches_spark_and_duckdb(spark, suffix):
    """The Spark Column (``dedup._h32``) and DuckDB spellings of the md5
    contract equal the Python one byte for byte (UTF-8, NUL, case folds
    that change length), at 8 hex digits and at 15 (the simhash/winnow
    word hash)."""
    import duckdb

    strings = _case_tokens()
    df = spark.createDataFrame(list(enumerate(strings)), "i int, s string")
    spark_h = df.orderBy("i").select(_h32(F.col("s"), suffix).alias("h")).collect()
    assert [r.h for r in spark_h] == AH.md5_prefix(strings, suffix, 8).tolist()
    con = duckdb.connect()
    con.register("t", pd.DataFrame({"i": range(len(strings)), "s": strings}))
    for n in (8, 15):
        sql = f"SELECT ('0x' || substr(md5(s || ?), 1, {n}))::BIGINT FROM t ORDER BY i"
        duck_h = [r[0] for r in con.execute(sql, [suffix]).fetchall()]
        assert duck_h == AH.md5_prefix(strings, suffix, n).tolist(), n


@pytest.mark.parametrize("hexchars", [0, 16])
def test_md5_prefix_rejects_hexchars_outside_one_to_fifteen(hexchars):
    with pytest.raises(ValueError, match="hexchars"):
        AH.md5_prefix(["a"], hexchars=hexchars)


# -- every ported kernel vs its per-row reference ---------------------


@pytest.fixture
def env(monkeypatch, tmp_path):
    """``env.udf(factory, *args)`` calls a pandas_udf Column factory
    without Spark (``F.pandas_udf`` is replaced so the factory hands
    back its batch function); ``env.tmp`` holds the model fixtures."""

    def fake(f=None, returnType=None, **_):
        if callable(f):
            return lambda *cols: f
        return lambda g: (lambda *cols: g)

    monkeypatch.setattr(F, "pandas_udf", fake)
    return SimpleNamespace(udf=lambda factory, *args: factory(None, *args), tmp=tmp_path)


def _fhex(v):
    return None if v is None or pd.isna(v) else float(v).hex()


def _md5(w: str, nhex: int) -> int:
    """The md5 contract spelled independently of ``arrow_hash``."""
    return int(hashlib.md5(w.encode("utf-8")).hexdigest()[:nhex], 16)


_STRIP = str.maketrans("", "", PUNCT_STRIP)


def _standin_weight(tok: str) -> int:
    b = _md5(f"{tok}#qw1", 8) % 65536
    return _md5(f"w{b}#qw1", 8) % 2001 - 1000


def k_ngrams(texts, env):
    out = [[] for _ in range(len(texts))]
    for n in (2, 3, 5):
        ordered = env.udf(word_ngrams_arrow, n)(texts)
        distinct = env.udf(word_ngrams_arrow, n, True)(texts)
        for row, o, d in zip(out, ordered, distinct):
            row.append((list(o), sorted(d)))
    return out


def r_ngrams(texts, _):
    out = []
    for t in texts:
        toks = _toks(t)
        row = []
        for n in (2, 3, 5):
            grams = [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]
            row.append((grams, sorted(set(grams))))
        out.append(row)
    return out


def k_token_stats(texts, _):
    got = _token_stats_batch(texts)
    return [{f: int(got[f].iloc[i]) for f in STATS_FIELDS} for i in range(len(texts))]


def r_token_stats(texts, _):
    out = []
    for t in texts:
        raw = t or ""
        toks = _toks(raw)
        exp = dict.fromkeys(STATS_FIELDS, 0)
        exp["nw"], exp["nd"] = len(toks), len(set(toks))
        for tok in toks:
            nu = tok.translate(_STRIP)
            for name, ws in STAT_SETS.items():
                exp[name] += nu in ws
        # char/line fields read the RAW text: lowercasing can change length
        exp["ncnw"] = sum(c not in _WS for c in raw)
        exp["nsym"] = sum(c not in _ALLOWED for c in raw)
        lines = raw.split("\n")
        exp["nl"], exp["ndl"] = len(lines), len(set(lines))
        out.append(exp)
    return out


def k_minhash(texts, _):
    got = AH._minhash_batch(texts, 4)
    assert (got.dtypes == "Int64").all()  # null signature for tokenless rows
    return [[None if pd.isna(v) else int(v) for v in row] for row in got.itertuples(index=False)]


def r_minhash(texts, _):
    out = []
    for t in texts:
        ws = set(_toks(t))
        out.append([min((_md5(f"{w}#{i}", 8) for w in ws), default=None) for i in range(4)])
    return out


def k_simhash(texts, _):
    got = AH._simhash_batch(texts, 16)
    assert got.dtype == "int64"
    return got.tolist()


def r_simhash(texts, _):
    out = []
    for t in texts:
        hs = [_md5(w, 15) for w in set(_toks(t))]
        sums = [sum(((h >> j) & 1) * 2 - 1 for h in hs) for j in range(16)]
        out.append(sum(1 << j for j, s in enumerate(sums) if s > 0))
    return out


def k_wordset(texts, _):
    return [None if v is None else list(v) for v in AH._h32_wordset_batch(texts)]


def r_wordset(texts, _):
    # distinct hashes in first-occurrence order; null text -> null set
    return [
        None if t is None else list(dict.fromkeys(_md5(w, 8) for w in _toks(t)))
        for t in texts
    ]


def k_classifier_standin(texts, env):
    return [_fhex(v) for v in env.udf(linear_score_arrow)(texts)]


def r_classifier_standin(texts, _):
    out = []
    for t in texts:
        toks = _toks(t)
        s = sum(_standin_weight(w) for w in toks)
        out.append(_fhex(s / (1000.0 * len(toks)) if toks else None))
    return out


_W = np.sin(np.arange(512) * 0.7) / 3.0  # non-dyadic: sum order shows


def k_classifier_weights(texts, env):
    score = env.udf(linear_score_arrow, 512, "qw1", _W, 0.25)
    return [_fhex(v) for v in score(texts)]


def r_classifier_weights(texts, _):
    ex = _exploded(texts, lower=True)
    w = ex.map(lambda t: _W[_md5(f"{t}#qw1", 8) % 512]).astype("float64")
    sums = w.groupby(level=0).sum()
    n = ex.groupby(level=0).size()
    out = pd.Series(np.nan, index=texts.index)
    out[sums.index] = 0.25 + sums / n[sums.index]
    return [_fhex(v) for v in out]


def k_distill(texts, env):
    got = env.udf(unigram_buckets_arrow, 64, "s1")(texts)
    return [[(d["b"], d["c"]) for d in row] for row in got]


def r_distill(texts, _):
    return [
        sorted(Counter(_md5(f"{w}#s1", 8) % 64 for w in _toks(t)).items())
        for t in texts
    ]


def k_lang_model(texts, _):
    got = FakeLangModel().predict_batch(texts)
    return list(zip(got["lang"], map(_fhex, got["conf"])))


def r_lang_model(texts, _):
    markers = FakeLangModel().markers
    out = []
    for t in texts:
        counts = {k: sum(w in s for w in _toks(t)) for k, s in markers.items()}
        best = max(counts.values())
        lang = max(counts, key=counts.get) if best > 0 else "und"
        out.append((lang, _fhex(best / max(sum(counts.values()), 1))))
    return out


def k_perplexity_model(texts, _):
    return [_fhex(v) for v in FakePerplexityModel().score_batch(texts)]


def r_perplexity_model(texts, _):
    out = []
    for t in texts:
        s = [float(_md5(w, 4) % 1000) for w in _toks(t, lower=False)]
        out.append(_fhex(sum(s) / len(s) if s else 1e6))
    return out


def _json_ppl(tmp_path, texts):
    words = sorted({w for t in texts for w in _toks(t, lower=False)})[::2]
    path = tmp_path / "ppl.json"
    path.write_text(json.dumps(
        {"words": {w: 0.1 + i / 7 for i, w in enumerate(words)}, "unk": 9.3}
    ))
    return json.loads(path.read_text()), str(path)


def k_json_perplexity_model(texts, env):
    _, path = _json_ppl(env.tmp, texts)
    return [_fhex(v) for v in JsonPerplexityModel(path).score_batch(texts)]


def r_json_perplexity_model(texts, env):
    spec, _ = _json_ppl(env.tmp, texts)
    ex = _exploded(texts, lower=False)
    means = ex.map(spec["words"]).fillna(spec["unk"]).groupby(level=0).mean()
    out = pd.Series(1e6, index=texts.index)
    out[means.index] = means
    return [_fhex(v) for v in out]


def _vocab(tmp_path):
    path = tmp_path / "vocab.json"
    path.write_text(json.dumps({"vocab": ["th", "the", "he", "fox", "an", "in", "er", "ing"]}))
    return str(path)


def k_vocab_tokenizer(texts, env):
    got = JsonVocabTokenizer(_vocab(env.tmp)).count_batch(texts)
    return [None if pd.isna(v) else int(v) for v in got]


def r_vocab_tokenizer(texts, env):
    tok = JsonVocabTokenizer(_vocab(env.tmp))
    return [
        None if t is None else sum(tok._count_word(w) for w in _toks(t, lower=False))
        for t in texts
    ]


KERNELS = {
    "token_stats": (k_token_stats, r_token_stats),
    "minhash": (k_minhash, r_minhash),
    "simhash": (k_simhash, r_simhash),
    "wordset": (k_wordset, r_wordset),
    "ngrams": (k_ngrams, r_ngrams),
    "classifier_standin": (k_classifier_standin, r_classifier_standin),
    "classifier_weights": (k_classifier_weights, r_classifier_weights),
    "distill": (k_distill, r_distill),
    "lang_model": (k_lang_model, r_lang_model),
    "perplexity_model": (k_perplexity_model, r_perplexity_model),
    "json_perplexity_model": (k_json_perplexity_model, r_json_perplexity_model),
    "vocab_tokenizer": (k_vocab_tokenizer, r_vocab_tokenizer),
}


@pytest.mark.parametrize("name", KERNELS)
def test_kernel_matches_per_row_reference(name, texts, env):
    kernel, reference = KERNELS[name]
    got = kernel(texts.copy(), env)
    exp = reference(texts, env)
    assert len(got) == len(exp) == len(texts)
    for t, g, e in zip(texts, got, exp):
        assert g == e, (name, t, g, e)


# -- one definition ----------------------------------------------------

PKG = Path(__file__).resolve().parents[1] / "datacurator_jl_spark"


def test_one_token_definition():
    """No tokenizer definition outside functions/tokens.py
    (testing/oracle.py keeps its own ``\\S+`` as the independent
    reference)."""
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        for node in ast.walk(ast.parse(path.read_text(), rel)):
            line = getattr(node, "lineno", 0)
            if (isinstance(node, ast.Constant) and node.value == r"\S+"
                    and rel not in ("functions/tokens.py", "testing/oracle.py")):
                offenders.append((rel, line, r"\S+ pattern"))
            name = getattr(node, "attr", getattr(node, "id", None))
            if name == "ascii_split_whitespace" and rel != "functions/tokens.py":
                offenders.append((rel, line, "ascii_split_whitespace"))
            if (isinstance(node, ast.Attribute) and node.attr == "findall"
                    and isinstance(node.value, ast.Attribute) and node.value.attr == "str"):
                offenders.append((rel, line, ".str.findall"))
    assert offenders == []


def test_no_unused_module_imports():
    """Every module-level import in the package (``__init__.py`` files
    re-export, so they are skipped) is referenced by name somewhere in
    its module: a dead import ties one module to another for nothing."""
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        if path.name == "__init__.py":
            continue
        rel = path.relative_to(PKG).as_posix()
        tree = ast.parse(path.read_text(), rel)
        used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
        for node in tree.body:
            if not isinstance(node, (ast.Import, ast.ImportFrom)):
                continue
            if isinstance(node, ast.ImportFrom) and node.module == "__future__":
                continue
            for a in node.names:
                name = (a.asname or a.name).split(".")[0]
                if name not in used:
                    offenders.append((rel, node.lineno, name))
    assert offenders == []


def test_no_unread_local_assignments():
    """A function never assigns a plain local name (``x = ...``) that it
    never reads: the shape that let ``drop_contained_docs`` build a
    capped join side and then join the uncapped one. Tuple unpacking,
    ``for`` targets, ``global``/``nonlocal`` names and ``_``-prefixed
    names are exempt; a read in a nested function counts."""
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        for fn in ast.walk(ast.parse(path.read_text(), rel)):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            nodes = list(ast.walk(fn))
            read = {n.id for n in nodes if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load)}
            read |= {x for n in nodes if isinstance(n, (ast.Global, ast.Nonlocal)) for x in n.names}
            for n in nodes:
                if (isinstance(n, ast.Assign) and len(n.targets) == 1
                        and isinstance(n.targets[0], ast.Name)
                        and not n.targets[0].id.startswith("_")
                        and n.targets[0].id not in read):
                    offenders.append((rel, n.lineno, fn.name, n.targets[0].id))
    assert sorted(set(offenders)) == []


def test_one_md5_definition():
    """``arrow_hash.md5_prefix`` is the package's only Python md5: no
    ``hashlib`` anywhere else (Spark ``F.md5`` Columns and DuckDB SQL
    strings are not Python hashing and stay legal)."""
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        if rel == "functions/arrow_hash.py":
            continue
        for node in ast.walk(ast.parse(path.read_text(), rel)):
            names = [a.name for a in getattr(node, "names", [])
                     if isinstance(node, (ast.Import, ast.ImportFrom))]
            if isinstance(node, ast.ImportFrom):
                names.append(node.module or "")
            if isinstance(node, ast.Name):
                names.append(node.id)
            if any(n.split(".")[0] == "hashlib" for n in names):
                offenders.append((rel, node.lineno))
    assert offenders == []
