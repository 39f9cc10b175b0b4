r"""The one whitespace tokenizer: the ASCII ``\S+`` match list.

Every token the package computes in Python is a ``TOKEN_RE`` match:
a maximal run of characters outside the six ASCII whitespace
characters `` \t\n\x0b\f\r``. ``re.ASCII`` keeps Python's ``\s`` to
exactly those six, which is Java's regex ``\s`` (the Spark Column
twins in ``functions/text.py``) and the class every DuckDB oracle
spells out. Without it Python would also split on ``\x1c``-``\x1f``,
``\x85``, ``\xa0`` and U+2028 (tests/test_whitespace_semantics.py,
tests/test_tokens.py).

Two forms, one definition:

- ``TOKEN_RE`` for per-row work: the reference twins and the per-doc
  n-gram kernels, which need each document's token list in order.
- ``token_codes`` for whole Arrow batches: one C pass instead of a
  per-row ``findall`` plus object ``explode`` and ``factorize``. Batch
  kernels do their per-token Python work once per batch-unique token
  and their per-row work with integer ``bincount`` / ``groupby`` over
  the codes.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pa_compute

TOKEN_RE = re.compile(r"\S+", re.ASCII)


def token_codes(texts: pd.Series) -> tuple[np.ndarray, np.ndarray, list[str]]:
    """Every ``TOKEN_RE`` match of a batch as ``(rows, codes, uniques)``.

    One entry per token occurrence, in row-major order: ``rows`` are
    batch POSITIONS 0..n-1 (int64, non-decreasing), ``codes`` index
    ``uniques`` (int64), and ``uniques`` lists the distinct tokens in
    order of first appearance, as ``pd.factorize`` would. Null text
    tokenizes like ``""`` (no tokens); callers that need null apart
    from empty read ``texts.isna()``. Case is the caller's: pass
    ``texts.str.lower()`` for lowercased tokens.

    Arrow's ``ascii_split_whitespace`` splits on exactly the six
    ``re.ASCII`` whitespace characters and collapses interior runs, but
    emits EMPTY strings at leading and trailing boundaries (and ``[""]``
    for an all-whitespace document). A real ``\\S+`` match is never
    empty, so dropping the empty tokens restores the exact match list.
    """
    arr = pa.Array.from_pandas(texts.fillna(""), type=pa.string())
    toks = pa_compute.ascii_split_whitespace(arr)
    flat = pa_compute.list_flatten(toks)
    lens = pa_compute.list_value_length(toks).to_numpy(zero_copy_only=False)
    rows = np.repeat(np.arange(len(texts), dtype=np.int64), lens)
    nonempty = np.asarray(pa_compute.not_equal(flat, ""))
    if not nonempty.all():
        flat = flat.filter(pa.array(nonempty))
        rows = rows[nonempty]
    enc = pa_compute.dictionary_encode(flat)
    codes = enc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
    # the same str list as to_pylist, ~10x faster (a 1k-doc batch with a
    # 260k-token vocabulary on a 4-core VM: 33 vs 360 ms)
    uniques = enc.dictionary.to_numpy(zero_copy_only=False).tolist()
    return rows, codes, uniques
