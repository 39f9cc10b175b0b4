"""Hashed linear quality classifier — the FineWeb-Edu-style learned
filter, as Spark plumbing with a deterministic stand-in.

Production web pipelines filter on a LEARNED score (fastText supervised
/ linear probe over hashed bag-of-words), not only on heuristics. The
real artifact here is the plumbing: hashed-bucket lookup, Arrow-batched
scoring, a broadcastable weight array, and a path-configured model seam
(``DC_QUALITY_MODEL``) — the same contract as the langid/perplexity
stages (plans/stages.py:190-230).

PINNED SEMANTICS (stand-in path, oracle-exact):
- tokens = ``functions/tokens.py`` over ``lower(text)``, WITH
  multiplicity (fastText averages token vectors; repeats count).
- bucket(tok) = ``_h32(tok + '#<salt>') % n_buckets``.
- stand-in weight ``w[b] = _h32('w' + str(b) + '#<salt>') % 2001 - 1000``
  — an INTEGER in [-1000, 1000]. Integer weights are the cross-engine
  trick: the per-doc sum is exact and summation-order-free in int64,
  and the score is ONE final double division
  ``sum / (1000.0 * n_tokens)`` — so the Spark Arrow kernel, DuckDB,
  and the per-row Python oracle agree BIT-EXACTLY, with no float-sum
  ordering hazard.
- zero tokens or null text -> null score (condition fails, engine
  null-semantics).

Model path (``weights=`` / ``DC_QUALITY_MODEL``): a real learned model
is ``{"n_buckets": B, "weights": [float x B], "bias": f}`` JSON; score
= ``bias + mean(w[bucket(tok)])`` in float64. Float weights forfeit the
bit-exact oracle (sum order), so the json path is pytest-covered, not
oracle-checked. The weight array rides the UDF closure (fine to a few
MB; at fastText scale ship it with ``SparkContext.broadcast`` or a
per-worker file load as in plans/stages._get_model).

Scale shape: a narrow per-row projection — no shuffle, no collect. The
Arrow path is one vectorized pandas stage per batch that hashes each
batch-unique token once (``arrow_hash.md5_prefix``) — the only Spark
route: a JVM higher-order fold would be CodegenFallback (interpreted)
and anti-scale (measured in the functions/arrow_stats.py docstring).
"""

from __future__ import annotations

import json

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datacurator_jl_spark.functions.arrow_hash import md5_prefix
from datacurator_jl_spark.functions.tokens import TOKEN_RE, token_codes


def token_buckets(tokens, n_buckets: int, salt: str) -> np.ndarray:
    """``_h32(tok + '#<salt>') % n_buckets`` for each token, int64."""
    return md5_prefix(tokens, f"#{salt}") % n_buckets


def standin_weights(tokens, n_buckets: int, salt: str) -> np.ndarray:
    """The pinned stand-in weight of each token, int64 (python
    reference and Arrow path alike). Each distinct bucket's ``w{b}``
    key is hashed once."""
    ub, inv = np.unique(token_buckets(tokens, n_buckets, salt), return_inverse=True)
    w = md5_prefix([f"w{b}" for b in ub.tolist()], f"#{salt}") % 2001 - 1000
    return w[inv]


def classifier_score_py(
    text: str | None, n_buckets: int = 65536, salt: str = "qw1"
) -> float | None:
    """Per-row Python oracle twin of the stand-in score."""
    if text is None:
        return None
    toks = TOKEN_RE.findall(text.lower())
    if not toks:
        return None
    s = int(standin_weights(toks, n_buckets, salt).sum())
    return s / (1000.0 * len(toks))


def linear_score_arrow(
    col: Column,
    n_buckets: int = 65536,
    salt: str = "qw1",
    weights: np.ndarray | None = None,
    bias: float = 0.0,
) -> Column:
    """Arrow-batched classifier score (the hot path). Without
    ``weights``: the integer stand-in (oracle-exact). With ``weights``
    (float64 array of length n_buckets): ``bias + mean(w[bucket])``."""
    if weights is not None:
        weights = np.asarray(weights, dtype=np.float64)
        if len(weights) != n_buckets:
            raise ValueError(
                f"weights has {len(weights)} entries, n_buckets={n_buckets}"
            )

    @F.pandas_udf(T.DoubleType())
    def _score(texts: pd.Series) -> pd.Series:
        rows, codes, uniques = token_codes(texts.str.lower())
        out = pd.Series(np.nan, index=texts.index, dtype="float64")
        if not uniques:
            return out
        if weights is None:
            uw = standin_weights(uniques, n_buckets, salt)
            # integer weights: every partial sum is an exact integer far
            # below 2**53, so the float64 bincount equals the int64 sum
            n = np.bincount(rows, minlength=len(texts))
            sums = np.bincount(rows, weights=uw[codes], minlength=len(texts))
            has = n > 0
            out[has] = sums[has] / (1000.0 * n[has])
        else:
            buckets = token_buckets(uniques, n_buckets, salt)
            # float weights keep pandas' (compensated) groupby sum: a
            # naive bincount sum would move the last bits of the score
            grouped = pd.Series(weights[buckets][codes]).groupby(rows)
            sums, n = grouped.sum(), grouped.size()
            out.iloc[sums.index] = (bias + sums / n).to_numpy()
        # docs with zero tokens stay NaN -> null
        return out

    return _score(col)


def load_linear_model(path: str) -> tuple[int, np.ndarray, float]:
    """Load a ``{"n_buckets": B, "weights": [...], "bias": f}`` JSON
    model (the ``DC_QUALITY_MODEL`` seam). Returns (B, weights, bias)."""
    with open(path) as fh:
        spec = json.load(fh)
    n_buckets = int(spec["n_buckets"])
    weights = np.asarray(spec["weights"], dtype=np.float64)
    if len(weights) != n_buckets:
        raise ValueError(
            f"{path}: weights has {len(weights)} entries, "
            f"n_buckets={n_buckets}"
        )
    return n_buckets, weights, float(spec.get("bias", 0.0))


def linear_score(
    col: Column, n_buckets: int = 65536, salt: str = "qw1",
    model_path: str | None = None,
) -> Column:
    """The model seam: explicit path > ``DC_QUALITY_MODEL`` env > the
    deterministic stand-in — same contract as plans/stages.py:190."""
    import os

    path = model_path or os.environ.get("DC_QUALITY_MODEL")
    if path:
        n_buckets, weights, bias = load_linear_model(path)
        return linear_score_arrow(col, n_buckets, salt, weights, bias)
    return linear_score_arrow(col, n_buckets, salt)
