"""Pluggable token counting behind the ``DC_TOKENIZER`` seam.

Training-data budgets are set in BPE tokens, not whitespace tokens
(round-5, VERDICT r4 next #4): a 10B-token mix filled with whitespace
counts over-fills by the subword expansion factor. This module mirrors
the ``DC_LANGID_MODEL`` path-contract (plans/stages.py): explicit
argument > ``DC_TOKENIZER`` env var > native default. Resolution:

- ``None`` / unset -> the native Column expression
  ``functions.text.token_count`` (regex BPE-ish estimate). Zero Python,
  whole-stage codegen, byte-identical to the d25/d45 DuckDB oracles.
- ``"*.json"`` -> :class:`JsonVocabTokenizer`: greedy longest-match
  piece counting over a JSON vocab fixture — the testable stand-in that
  exercises the exact Arrow plumbing of a real tokenizer.
- ``"tiktoken:<encoding>"`` -> tiktoken (when installed).
- any other path -> HuggingFace ``tokenizers.Tokenizer.from_file``
  (when installed).

Non-native paths count via ONE Arrow-batched ``pandas_udf`` with the
standard lazy per-worker model cache — never per-row Python. The seam
feeds ``token_budget_sample`` (weight column), the recipe registry's
``token_count`` condition, and any counter that charges by tokens; the
default path keeps all of those byte-identical to round 4.

Reference analogue: the path-configured content loaders of
load_content (src/DataCurator.jl:1277-1301) — swap the model file, keep
the pipeline.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datacurator_jl_spark.functions.text import token_count as _native_token_count
from datacurator_jl_spark.functions.tokens import token_codes

# per-python-worker tokenizer cache: spec -> loaded counter
_WORKER_TOKENIZERS: dict[str, object] = {}


class JsonVocabTokenizer:
    """Greedy longest-match piece counter over a JSON vocab fixture.

    Format: ``{"vocab": ["piece", ...]}``. Each ``functions/tokens.py``
    word (a real BPE's pre-tokenizer split) is consumed left-to-right
    by the longest vocab piece that prefixes the remainder
    (case-sensitive), falling back to a single character —
    the classic WordPiece/BPE segmentation shape, deterministic and
    dependency-free, so the Arrow plumbing and the budget arithmetic
    are testable without tiktoken/HF in the container.
    """

    def __init__(self, path: str):
        import json

        with open(path) as fh:
            spec = json.load(fh)
        vocab = list(spec["vocab"])
        self.vocab = set(vocab)
        self.max_len = max((len(v) for v in vocab), default=1)
        # per-word piece-count memo: real corpora repeat words heavily,
        # so the greedy scan runs once per distinct word per worker
        self._memo: dict[str, int] = {}

    def _count_word(self, w: str) -> int:
        n = self._memo.get(w)
        if n is not None:
            return n
        i, n = 0, 0
        L = len(w)
        while i < L:
            step = 1  # single-character fallback (OOV chars count 1)
            for j in range(min(self.max_len, L - i), 1, -1):
                if w[i : i + j] in self.vocab:
                    step = j
                    break
            i += step
            n += 1
        if len(self._memo) > 2_000_000:  # pragma: no cover - safety valve
            self._memo.clear()
        self._memo[w] = n
        return n

    def count_batch(self, texts: pd.Series) -> pd.Series:
        rows, codes, uniques = token_codes(texts)
        pieces = np.array([self._count_word(w) for w in uniques], dtype=np.int64)
        # integer piece counts: exact in bincount's float64 sums
        counts = np.bincount(rows, weights=pieces[codes], minlength=len(texts))
        out = pd.Series(counts.astype(np.int64), index=texts.index, dtype="Int64")
        return out.mask(texts.isna())  # null text -> null count, as the native expr


class TiktokenCounter:  # pragma: no cover - tiktoken not in this container
    """``tiktoken:<encoding>`` adapter (e.g. ``tiktoken:cl100k_base``)."""

    def __init__(self, encoding: str):
        import tiktoken  # type: ignore

        self.enc = tiktoken.get_encoding(encoding)

    def count_batch(self, texts: pd.Series) -> pd.Series:
        enc = self.enc
        return texts.map(lambda t: len(enc.encode(t)), na_action="ignore").astype(
            "Int64"
        )


class HFTokenizerCounter:  # pragma: no cover - tokenizers not in container
    """HuggingFace ``tokenizers`` file adapter (tokenizer.json path)."""

    def __init__(self, path: str):
        from tokenizers import Tokenizer  # type: ignore

        self.tok = Tokenizer.from_file(path)

    def count_batch(self, texts: pd.Series) -> pd.Series:
        idx = texts.dropna()
        out = pd.Series([pd.NA] * len(texts), index=texts.index, dtype="Int64")
        if len(idx):
            encs = self.tok.encode_batch(list(idx))
            out[idx.index] = [len(e.ids) for e in encs]
        return out


def load_tokenizer(spec: str) -> object:
    """Resolve a tokenizer spec to a ``count_batch`` object. ``.json`` =
    the vocab fixture format; ``tiktoken:<enc>`` = tiktoken; any other
    path = a HF tokenizers file. (The native default never reaches here —
    ``token_count_column`` short-circuits to the Column expression.)"""
    if spec.endswith(".json"):
        return JsonVocabTokenizer(spec)
    if spec.startswith("tiktoken:"):  # pragma: no cover - lib absent
        try:
            return TiktokenCounter(spec.split(":", 1)[1])
        except ImportError as e:
            raise RuntimeError(
                f"DC_TOKENIZER={spec}: requires the tiktoken package"
            ) from e
    try:  # pragma: no cover - lib absent
        return HFTokenizerCounter(spec)
    except ImportError as e:  # pragma: no cover
        raise RuntimeError(
            f"DC_TOKENIZER={spec}: non-.json tokenizer paths require the "
            "HuggingFace tokenizers package"
        ) from e


def _get_tokenizer(spec: str) -> object:
    tok = _WORKER_TOKENIZERS.get(spec)
    if tok is None:
        tok = load_tokenizer(spec)
        _WORKER_TOKENIZERS[spec] = tok
    return tok


def token_count_column(text: Column, tokenizer: str | None = None) -> Column:
    """Token count per the configured tokenizer.

    ``tokenizer`` argument > ``DC_TOKENIZER`` env (resolved at DRIVER
    time — workers may not share the env; the spec rides the UDF
    closure) > native regex estimate. The native path returns the plain
    Column expression — no Python anywhere; a configured path returns
    one Arrow-batched ``pandas_udf`` with a lazy per-worker tokenizer.
    """
    spec = tokenizer or os.environ.get("DC_TOKENIZER")
    if not spec:
        return _native_token_count(text)

    @F.pandas_udf(T.LongType())
    def _count(s: pd.Series) -> pd.Series:
        return _get_tokenizer(spec).count_batch(s)

    return _count(text)
