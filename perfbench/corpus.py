"""Seeded, vectorized corpus generator for the benchmark workloads.

Every table is a pure function of ``(spec, seed)``. Generation is NumPy
work over token-rank arrays; only the short per-document string slices
and the planted variants touch Python objects, so 50k documents take
about a second. Ground truth (duplicate groups, blocklisted urls,
planted PII, repeat crawls) is returned separately and never handed to
the program under test.

Vocabulary model. A token is either
- one of ``FUNCTION_WORDS`` (the English stopword head, about 40% of
  tokens, drawn by Zipf rank inside the head), or
- a content word drawn from a Zipf-Mandelbrot law
  ``p(r) ~ 1 / (r + q)`` over ``ranks`` ranks, rendered as a syllable
  word whose length grows with its rank, or
- a hapax (a word no other document uses), at ``hapax_rate``.

The offset ``q`` sets how much vocabulary unrelated documents share.
The engine's near-dedup hashes unigram word sets into 4 bands of 2
minhash lanes, so two documents that share a few percent of their
distinct words already collide in some band; a small ``q`` (web-like
head) is right where no dedup runs, and a large ``q`` keeps unrelated
documents apart where a dedup pass must tell planted copies from
chance overlap. The function-word head is shared by every document,
which is safe only because it is small (a band collides through it
only when both lanes' minima fall in the head).
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import asdict, dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# English stopwords, most frequent first. Every fixed word the generator
# plants in many documents (this head, the page chrome below, the
# near-copy suffix) is one whose 8 minhash lanes (md5 of ``word + '#i'``,
# the engine's pinned signature) all hash above 3% of the range. A word
# shared by most documents that hashes low on both lanes of one LSH band
# is the minimum of that band for most documents, so unrelated
# documents would collide there; "the" and "of" are left out for that.
FUNCTION_WORDS = (
    "and to in is it for on as be this have from or by we all they his had "
    "were there when what some your how she use out word"
).split()
# navigation words for the per-domain header line
_NAV = (
    "home news about menu search login privacy terms blog help follow "
    "share subscribe more page site"
).split()

_CONS = list("bcdfghjklmnprstvwz") + ["th", "st"]  # 20 onsets
_VOWELS = list("aeiou")
_SYLL = [c + v for c in _CONS for v in _VOWELS]  # 100 syllables, 1-3 bytes
_SYLL_W = 3
_SYLL_BYTES = np.zeros((len(_SYLL), _SYLL_W), dtype=np.uint8)
for _i, _s in enumerate(_SYLL):
    _SYLL_BYTES[_i, : len(_s)] = np.frombuffer(_s.encode(), dtype=np.uint8)
_MAX_SYLL = 6
_TOKEN_W = _MAX_SYLL * _SYLL_W  # bytes per token slot, before separators
_SLOTS = np.arange(_MAX_SYLL)
_POW100 = np.power(np.int64(100), _SLOTS)

_FR = (
    "le la les et est que une pour dans qui pas vous des du en au sur avec "
    "mais nous sont ont"
).split()
_DE = (
    "der die das und ist nicht ein eine mit von sich auch den dem zu im "
    "auf wird sind"
).split()
_SYMBOLS = np.frombuffer(b"#$%^&*{}[]|<>~`=+_", dtype=np.uint8)
_PII = [
    "contact {u}.{v}@example.com for details",
    "call +1-555-{a:04d} during business hours",
    "my ssn is {b:03d}-{c:02d}-{a:04d} keep it safe",
    "server at 10.{c}.{b}.{c} was rebooted",
    "write to {u}@mail.test.org today",
]
_SOURCES = ("web", "news", "forum", "wiki")


@dataclass(frozen=True)
class CorpusSpec:
    """Shape of one generated documents table (see module docstring)."""

    n_docs: int
    q: float  # Zipf-Mandelbrot offset of the content vocabulary
    ranks: int = 2_000_000_000
    func_share: float = 0.40
    hapax_rate: float = 0.02
    min_tokens: int = 170  # ~1 KB of text
    max_tokens: int = 800  # ~5 KB of text
    n_domains: int = 400
    domain_zipf: float = 1.1
    exact_dup_frac: float = 0.0
    near_dup_frac: float = 0.0
    recrawl_frac: float = 0.0
    junk_frac: float = 0.20  # short / symbol / line-spam / other-language
    pii_frac: float = 0.08
    blocklist_frac: float = 0.0

    def key(self) -> str:
        blob = json.dumps(asdict(self), sort_keys=True).encode()
        return hashlib.sha1(blob).hexdigest()[:12]


def _render(ranks: np.ndarray, n_syll: np.ndarray) -> np.ndarray:
    """Rank -> fixed-width byte rows of ``n_syll`` syllables (NUL padded).

    An odd multiplier coprime to 100 scrambles neighbouring ranks into
    unrelated syllables (a bijection modulo ``100 ** n_syll``)."""
    mod = np.power(np.int64(100), n_syll)
    r = ((ranks % mod) * 7919 + 12345) % mod
    digits = (r[:, None] // _POW100[None, :]) % len(_SYLL)
    out = _SYLL_BYTES[digits].reshape(len(r), _TOKEN_W)
    out[np.repeat(_SLOTS[None, :] >= n_syll[:, None], _SYLL_W, axis=1)] = 0
    return out


def _word_bytes(words: list[str]) -> np.ndarray:
    out = np.zeros((len(words), _TOKEN_W), dtype=np.uint8)
    for i, w in enumerate(words):
        b = w.encode()
        out[i, : len(b)] = np.frombuffer(b, dtype=np.uint8)
    return out


def _content_ranks(rng: np.random.Generator, n: int, q: float, ranks: int) -> np.ndarray:
    u = rng.random(n)
    return np.floor(q * np.power(1.0 + ranks / q, u) - q).astype(np.int64)


def _zipf_index(rng: np.random.Generator, n: int, size: int, s: float) -> np.ndarray:
    p = 1.0 / np.power(np.arange(1, size + 1), s)
    return np.searchsorted(np.cumsum(p) / p.sum(), rng.random(n))


def _bodies(spec: CorpusSpec, rng: np.random.Generator, n: int, salt: int) -> list[str]:
    """``n`` distinct English-like bodies: lines of 8-16 tokens, blank
    lines between paragraphs of 2-5 lines."""
    lens = rng.integers(spec.min_tokens, spec.max_tokens + 1, n)
    t = int(lens.sum())
    starts = np.concatenate([[0], np.cumsum(lens)[:-1]])
    kind = rng.random(t)
    func = kind < spec.func_share
    hapax = (~func) & (kind < spec.func_share + spec.hapax_rate)
    fw = _word_bytes(FUNCTION_WORDS)
    tok = fw[_zipf_index(rng, t, len(FUNCTION_WORDS), 1.0)]
    cont = ~func & ~hapax
    r = _content_ranks(rng, int(cont.sum()), spec.q, spec.ranks)
    # frequent words are short: 1 syllable for the top 50, +1 per 10x
    nsy = np.clip(np.floor(np.log10(r + 50.0)).astype(np.int64), 2, _MAX_SYLL - 1)
    tok[cont] = _render(r, nsy)
    nh = int(hapax.sum())
    # hapax ids live above every content rank and are unique per (salt, i)
    hid = (salt % 1000) * 10**9 + np.arange(nh, dtype=np.int64)
    tok[hapax] = _render(hid, np.full(nh, _MAX_SYLL))
    # separators: newline every 8-16 tokens, blank line every 2-5 lines
    sep = np.zeros((t, 2), dtype=np.uint8)
    sep[:, 0] = ord(" ")
    pos = np.arange(t) - np.repeat(starts, lens)
    line_len = rng.integers(8, 17, t)
    eol = (pos % line_len) == line_len - 1
    sep[eol, 0] = ord("\n")
    para = eol & (rng.random(t) < 0.15)
    sep[para, 1] = ord("\n")
    last = np.zeros(t, dtype=bool)
    last[np.cumsum(lens) - 1] = True
    sep[last] = 0
    rows = np.concatenate([tok, sep], axis=1)
    keep = rows != 0
    flat = rows[keep]
    nbytes = keep.sum(axis=1)
    doc_bytes = np.add.reduceat(nbytes, starts)
    off = np.concatenate([[0], np.cumsum(doc_bytes)])
    buf = flat.tobytes().decode("ascii")
    return [buf[off[i] : off[i + 1]] for i in range(n)]


def _junk(rng: np.random.Generator, body: str, kind: int) -> str:
    words = body.split()
    if kind == 0:  # too short for the length rules
        return " ".join(words[: int(rng.integers(3, 15))])
    if kind == 1:  # symbol soup around a few words
        sym = bytes(rng.choice(_SYMBOLS, 400)).decode()
        return sym[:200] + " " + " ".join(words[:20]) + " " + sym[200:]
    if kind == 2:  # one line repeated
        line = " ".join(words[:10])
        return "\n".join([line] * int(rng.integers(15, 40)))
    # another language: same shape, French or German function words
    pool = _FR if kind == 3 else _DE
    out = np.array(words, dtype=object)
    swap = rng.random(len(words)) < 0.45
    out[swap] = np.array(pool, dtype=object)[rng.integers(0, len(pool), int(swap.sum()))]
    return " ".join(out)


def _near_copy(rng: np.random.Generator, text: str) -> str:
    """Replace ~1% of tokens and append one line: a near duplicate whose
    word-set Jaccard to the original stays near 0.97."""
    toks = text.split(" ")
    hit = rng.random(len(toks)) < 0.01
    for i in np.flatnonzero(hit):
        toks[i] = "edit" + str(int(rng.integers(0, 10**9)))
    return " ".join(toks) + "\nshared on may"


def generate(spec: CorpusSpec, seed: int) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Return ``(docs, truth)``.

    ``docs``: url, crawl_id, warc_ts, text, lang, domain, source, n_chars.
    ``truth`` (same row order): kind, orig (row of the document this
    row copies, or -1), copy (none/exact/near/recrawl), pii, blocked.
    """
    rng = np.random.default_rng(seed)
    n = spec.n_docs
    n_exact = int(n * spec.exact_dup_frac)
    n_near = int(n * spec.near_dup_frac)
    n_recrawl = int(n * spec.recrawl_frac)
    n_orig = n - n_exact - n_near - n_recrawl
    texts = _bodies(spec, rng, n_orig, salt=seed & 0xFFFFF)

    kind = np.array(["clean"] * n_orig, dtype=object)
    junk = np.flatnonzero(rng.random(n_orig) < spec.junk_frac)
    jk = rng.integers(0, 5, len(junk))
    names = np.array(["short", "symbol", "linespam", "fr", "de"], dtype=object)
    for i, k in zip(junk, jk):
        texts[i] = _junk(rng, texts[i], int(k))
    kind[junk] = names[jk]
    pii = np.zeros(n, dtype=bool)
    clean = np.flatnonzero(kind == "clean")
    for i in clean[rng.random(len(clean)) < spec.pii_frac]:
        a, b, c = (int(x) for x in rng.integers([0, 100, 10], [10000, 999, 99]))
        snip = _PII[int(rng.integers(0, len(_PII)))].format(
            u="user" + str(a), v="mail" + str(b), a=a, b=b, c=c
        )
        lines = texts[i].split("\n")
        lines.insert(int(rng.integers(0, len(lines) + 1)), snip + ".")
        texts[i] = "\n".join(lines)
        pii[i] = True

    # copies of clean originals: exact, near, and re-crawls of the same url
    orig = np.full(n, -1, dtype=np.int64)
    copy = np.array(["none"] * n, dtype=object)
    src = rng.choice(clean, n_exact + n_near + n_recrawl) if len(clean) else np.zeros(0, int)
    orig[n_orig:] = src
    copy[n_orig : n_orig + n_exact] = "exact"
    copy[n_orig + n_exact : n_orig + n_exact + n_near] = "near"
    copy[n_orig + n_exact + n_near :] = "recrawl"
    for j in range(n_orig, n):
        s = int(orig[j])
        texts.append(texts[s] if copy[j] == "exact" else _near_copy(rng, texts[s]))
        pii[j] = pii[s]
    kind = np.concatenate([kind, np.array(["copy"] * (n - n_orig), dtype=object)])

    dom_idx = _zipf_index(rng, n, spec.n_domains, spec.domain_zipf)
    recrawl = copy == "recrawl"
    dom_idx[recrawl] = dom_idx[orig[recrawl]]
    domains = np.array([f"site{i:04d}.example" for i in range(spec.n_domains)], dtype=object)
    dom = domains[dom_idx]
    # per-domain chrome: a header and a footer line every page of a
    # domain shares, plus one line shared by the whole corpus
    nav = np.array(_NAV, dtype=object)
    hdr = np.array([" | ".join(np.random.default_rng(i).permutation(nav)[:6]) for i in range(spec.n_domains)], dtype=object)
    ftr = np.array([f"copyright 2024 {_NAV[i % len(_NAV)]} all rights reserved" for i in range(spec.n_domains)], dtype=object)
    body = np.array(texts, dtype=object)
    chrome = kind != "short"
    body[chrome] = hdr[dom_idx[chrome]] + "\n" + body[chrome] + "\n" + ftr[dom_idx[chrome]] + "\nwe use cookies to improve your visit"

    url = np.array([f"https://{d}/p/{seed}-{i}" for i, d in enumerate(dom)], dtype=object)
    url[recrawl] = url[orig[recrawl]]
    base = np.datetime64("2024-03-01T00:00:00", "us")
    minutes = rng.integers(0, 30 * 24 * 60, n)
    minutes[recrawl] = minutes[orig[recrawl]] + rng.integers(60, 7 * 24 * 60, int(recrawl.sum()))
    ts = base + minutes.astype("timedelta64[m]")
    lang = np.where(np.isin(kind, ["fr", "de"]), kind, "en").astype(object)
    lang[rng.random(n) < 0.05] = None
    source = np.array(_SOURCES, dtype=object)[dom_idx % len(_SOURCES)]

    blocked = np.zeros(n, dtype=bool)
    if spec.blocklist_frac:
        blocked = (rng.random(n) < spec.blocklist_frac) & ~recrawl & (copy == "none")
    docs = pd.DataFrame(
        {
            "url": url,
            "crawl_id": np.arange(n, dtype=np.int64),
            "warc_ts": pd.Series(ts).dt.tz_localize("UTC"),
            "text": body,
            "lang": lang,
            "domain": dom,
            "source": source,
            "n_chars": pd.Series(body).str.len().astype("int64"),
        }
    )
    truth = pd.DataFrame(
        {"kind": kind, "orig": orig, "copy": copy, "pii": pii, "blocked": blocked}
    )
    return docs, truth


def write_parquet(df: pd.DataFrame, path: str, n_files: int) -> None:
    """Write ``df`` as ``n_files`` parquet parts (so a scan gets that many
    splits) under directory ``path``."""
    os.makedirs(path, exist_ok=True)
    table = pa.Table.from_pandas(df, preserve_index=False)
    step = -(-len(df) // n_files)
    for i in range(n_files):
        part = table.slice(i * step, step)
        if part.num_rows:
            pq.write_table(part, os.path.join(path, f"part-{i:03d}.parquet"))


def docs_stats(docs: pd.DataFrame, truth: pd.DataFrame) -> dict:
    """Corpus facts recorded beside each run."""
    dom = docs["domain"].value_counts()
    return {
        "docs": len(docs),
        "bytes": int(docs["n_chars"].sum()),
        "dup_rate": round(float((truth["copy"] != "none").mean()), 4),
        "top_domain_share": round(float(dom.iloc[0] / len(docs)), 4),
        "domains": int(len(dom)),
    }
