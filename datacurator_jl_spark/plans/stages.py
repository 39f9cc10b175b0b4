"""Model-stage planner: Arrow-batched vectorized UDF stages for rules a
Column expression can't express (real fastText language-ID, KenLM
perplexity), sandwiched between native predicate stages in
cheap-to-expensive order.

This is SURVEY.md §4's "physical strategies that are NOT plain
built-ins": Catalyst cannot cost-order opaque UDFs, so the planner does
— native (free) stages first, then UDF stages sorted by declared cost,
each stage only seeing rows that survived the previous ones
(``docs/src/recipe.md:497-499``'s cheap-first doctrine across the
UDF boundary).

Worker-state pattern: the model loads LAZILY ONCE PER PYTHON WORKER
(module-level cache keyed by loader), not per batch — the standard
mapInPandas model-serving idiom. Arrow batch size is controlled by
``spark.sql.execution.arrow.maxRecordsPerBatch`` (set in session.py).

The model libs (fasttext, kenlm) are not available in this environment,
so ``FakeLangModel`` / ``FakePerplexityModel`` provide DETERMINISTIC
stand-ins (hash/heuristic based) that exercise the exact same plumbing —
schema contract, lazy init, Arrow batching. Swap ``loader`` for the real
thing in production; nothing else changes.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from datacurator_jl_spark.functions.arrow_hash import md5_prefix
from datacurator_jl_spark.functions.tokens import token_codes

# per-python-worker model cache: loader id -> loaded model
_WORKER_MODELS: dict[str, object] = {}


def _get_model(key: str, loader: Callable[[], object]) -> object:
    model = _WORKER_MODELS.get(key)
    if model is None:
        model = loader()
        _WORKER_MODELS[key] = model
    return model


class FakeLangModel:
    """Deterministic fastText stand-in: marker-token voting implemented
    with vectorized pandas str ops (mirrors functions.text.LANG_MARKERS
    semantics loosely; the REAL contract tested is the stage plumbing)."""

    def __init__(self):
        from datacurator_jl_spark.functions.text import LANG_MARKERS

        self.markers = {k: set(ws) for k, ws in LANG_MARKERS.items()}

    def predict_batch(self, texts: pd.Series) -> pd.DataFrame:
        rows, codes, uniques = token_codes(texts.str.lower())
        counts = {}
        for k, s in self.markers.items():
            hit = np.array([u in s for u in uniques], dtype=bool)
            counts[k] = np.bincount(rows[hit[codes]], minlength=len(texts))
        df = pd.DataFrame(counts, index=texts.index)
        best = df.max(axis=1)
        lang = df.idxmax(axis=1).where(best > 0, "und")
        total = df.sum(axis=1)
        conf = (best / total.clip(lower=1)).astype("float64")
        return pd.DataFrame({"lang": lang, "conf": conf})


class FakePerplexityModel:
    """Deterministic KenLM stand-in: pseudo-logprob = mean of a
    hash-derived per-word score (stable across workers/runs).

    Vectorized like a real scorer would be: ``token_codes``, one md5
    per batch-UNIQUE word (``arrow_hash.md5_prefix``), C-speed groupby
    mean — so the stage's cost honestly represents the batched cost
    model the planner orders stages by."""

    def score_batch(self, texts: pd.Series) -> pd.Series:
        rows, codes, uniques = token_codes(texts)
        out = pd.Series(1e6, index=texts.index, dtype="float64")  # empty doc
        if not uniques:
            return out
        scores = (md5_prefix(uniques, hexchars=4) % 1000).astype(np.float64)
        # pandas' (compensated) groupby mean, not bincount: float sums
        # are pinned to it
        means = pd.Series(scores[codes]).groupby(rows).mean()
        out.iloc[means.index] = means.to_numpy()
        return out


class JsonMarkerLangModel:
    """File-backed marker-voting model: ``{"lang": ["marker", ...]}``
    loaded from a JSON path. The tiny-fixture model FORMAT for the
    path-configured loader contract — same ``predict_batch`` interface as
    the real fastText adapter, so the stage plumbing is identical and the
    path->model seam is testable without the fasttext binary."""

    def __init__(self, path: str):
        import json

        with open(path) as fh:
            spec = json.load(fh)
        self.markers = {k: set(ws) for k, ws in spec.items()}

    predict_batch = FakeLangModel.predict_batch


class JsonPerplexityModel:
    """File-backed unigram scorer: ``{"words": {w: score}, "unk": s}``
    JSON — the perplexity twin of :class:`JsonMarkerLangModel`. Scores a
    doc as the mean per-word score (unk for OOV), vectorized via map."""

    def __init__(self, path: str):
        import json

        with open(path) as fh:
            spec = json.load(fh)
        self.words: dict[str, float] = {k: float(v) for k, v in spec["words"].items()}
        self.unk = float(spec.get("unk", 1e6))

    def score_batch(self, texts: pd.Series) -> pd.Series:
        rows, codes, uniques = token_codes(texts)
        out = pd.Series(1e6, index=texts.index, dtype="float64")  # empty doc
        if not uniques:
            return out
        scores = pd.Series(uniques).map(self.words).fillna(self.unk).to_numpy()
        means = pd.Series(scores[codes]).groupby(rows).mean()
        out.iloc[means.index] = means.to_numpy()
        return out


class FastTextAdapter:  # pragma: no cover - fasttext not in this environment
    """Adapts a real fastText model to the ``predict_batch`` contract."""

    def __init__(self, model):
        self.model = model

    def predict_batch(self, texts: pd.Series) -> pd.DataFrame:
        cleaned = texts.fillna("").str.replace("\n", " ", regex=False)
        labels, probs = self.model.predict(list(cleaned))
        return pd.DataFrame(
            {
                "lang": [l[0].replace("__label__", "") if l else "und" for l in labels],
                "conf": [float(p[0]) if len(p) else 0.0 for p in probs],
            },
            index=texts.index,
        )


class KenLMAdapter:  # pragma: no cover - kenlm not in this environment
    """Adapts a real KenLM model to the ``score_batch`` contract
    (negative mean per-token log10 prob, lower = more fluent)."""

    def __init__(self, model):
        self.model = model

    def score_batch(self, texts: pd.Series) -> pd.Series:
        def one(t: str) -> float:
            toks = t.split()
            if not toks:
                return 1e6
            return -self.model.score(t, bos=True, eos=True) / len(toks)

        return texts.fillna("").map(one)


def load_langid_model(model_path: str | None = None) -> object:
    """Resolve the language-ID model — the path-configured loader
    contract (round-3, VERDICT #4): explicit path > ``DC_LANGID_MODEL``
    env > deterministic stand-in. A ``.json`` path loads the tiny marker
    fixture format; any other path requires the fasttext package (real
    production model)."""
    import os

    path = model_path or os.environ.get("DC_LANGID_MODEL")
    if not path:
        return FakeLangModel()
    if path.endswith(".json"):
        return JsonMarkerLangModel(path)
    try:  # pragma: no cover - lib not in this environment
        import fasttext  # type: ignore
    except ImportError as e:
        raise RuntimeError(
            f"DC_LANGID_MODEL={path}: non-.json model paths require the "
            "fasttext package"
        ) from e
    return FastTextAdapter(fasttext.load_model(path))  # pragma: no cover


def load_perplexity_model(model_path: str | None = None) -> object:
    """Perplexity twin of :func:`load_langid_model`: explicit path >
    ``DC_KENLM_MODEL`` env > deterministic stand-in; ``.json`` = unigram
    fixture format, anything else = real KenLM."""
    import os

    path = model_path or os.environ.get("DC_KENLM_MODEL")
    if not path:
        return FakePerplexityModel()
    if path.endswith(".json"):
        return JsonPerplexityModel(path)
    try:  # pragma: no cover - lib not in this environment
        import kenlm  # type: ignore
    except ImportError as e:
        raise RuntimeError(
            f"DC_KENLM_MODEL={path}: non-.json model paths require the "
            "kenlm package"
        ) from e
    return KenLMAdapter(kenlm.Model(path))  # pragma: no cover


def load_fasttext_or_fake(model_path: str | None = None) -> object:
    """Back-compat entry with the ORIGINAL contract: real fastText
    whenever the package is importable (default model ``lid.176.bin``),
    else fall through to the path-contract resolution (env fixture or
    deterministic stand-in). ``.json`` paths always mean the fixture
    format."""
    if model_path is None or not model_path.endswith(".json"):
        try:  # pragma: no cover - lib not in this environment
            import fasttext  # type: ignore

            return FastTextAdapter(fasttext.load_model(model_path or "lid.176.bin"))
        except ImportError:
            pass
    return load_langid_model(model_path)


@dataclass
class ModelStage:
    """One vectorized model stage appended via mapInPandas.

    ``apply_batch(model, pdf) -> pdf`` must return the input batch plus
    this stage's output columns (declared in ``out_schema``).
    """

    name: str
    out_schema: str  # e.g. "lang_pred string, lang_conf double"
    loader: Callable[[], object]
    apply_batch: Callable[[object, pd.DataFrame], pd.DataFrame]
    cost: float = 1.0  # relative; planner orders ascending
    prefilter: object | None = None  # Column: rows the model must see


def langid_stage(
    text_col: str = "text", cost: float = 1.0, model_path: str | None = None
) -> ModelStage:
    import os

    # resolve env at DRIVER time (workers may not share the env); the
    # path rides the closure, the model itself loads lazily per worker
    path = model_path or os.environ.get("DC_LANGID_MODEL")

    def apply_batch(model, pdf: pd.DataFrame) -> pd.DataFrame:
        out = model.predict_batch(pdf[text_col])
        pdf = pdf.copy()
        pdf["lang_pred"] = out["lang"].values
        pdf["lang_conf"] = out["conf"].values
        return pdf

    return ModelStage(
        name=f"langid:{path or 'standin'}",  # path in key busts worker cache
        out_schema="lang_pred string, lang_conf double",
        loader=lambda: load_langid_model(path),
        apply_batch=apply_batch,
        cost=cost,
    )


def perplexity_stage(
    text_col: str = "text", cost: float = 5.0, model_path: str | None = None
) -> ModelStage:
    import os

    path = model_path or os.environ.get("DC_KENLM_MODEL")

    def apply_batch(model, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.copy()
        pdf["ppl"] = model.score_batch(pdf[text_col]).values
        return pdf

    return ModelStage(
        name=f"perplexity:{path or 'standin'}",
        out_schema="ppl double",
        loader=lambda: load_perplexity_model(path),
        apply_batch=apply_batch,
        cost=cost,
    )


@dataclass
class StagePlanner:
    """Orders model stages cheap-to-expensive and applies each as one
    mapInPandas pass; an optional per-stage ``prefilter`` Column drops
    rows BEFORE the expensive model sees them (native filter, pushed
    ahead of the Python boundary)."""

    stages: list[ModelStage] = field(default_factory=list)

    def add(self, stage: ModelStage) -> "StagePlanner":
        self.stages.append(stage)
        return self

    def apply(self, df: DataFrame) -> DataFrame:
        for stage in sorted(self.stages, key=lambda s: s.cost):
            if stage.prefilter is not None:
                df = df.filter(stage.prefilter)
            schema = ", ".join(
                f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields
            )
            schema = schema + ", " + stage.out_schema
            loader, apply_batch, key = stage.loader, stage.apply_batch, stage.name

            def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
                model = None
                for pdf in batches:
                    if model is None:  # lazy: once per worker+task
                        model = _get_model(key, loader)
                    yield apply_batch(model, pdf)

            df = df.mapInPandas(run, schema=schema)
        return df
