"""The benchmark workloads: inputs, one timed operation, output checks.

Every workload is single-client and closed-loop: one Spark job (or one
micro-batch) at a time from this driver process. Package code is called
through its public modules by attribute (``engine.Pipeline``,
``sinks.write_outputs``, ...), so a traced run can wrap those names.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import shutil
import time
from dataclasses import dataclass, field
from datetime import datetime, timezone

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import corpus as C

HERE = os.path.dirname(os.path.abspath(__file__))


@dataclass
class Op:
    """One timed operation: a pass, a micro-batch."""

    latency_s: float
    docs: int
    ok: bool = True


@dataclass
class Ctx:
    """What a workload needs from the harness."""

    spark: object
    seed: int
    cores: int
    run_dir: str
    cache_dir: str
    digest_dir: str  # output digests per seed; never pruned
    facts: dict = field(default_factory=dict)  # corpus facts, printed with the run


def cached_corpus(ctx: Ctx, name: str, spec: C.CorpusSpec, n_files: int):
    """Generate (or reuse) one documents table: returns (path, docs, truth).

    Cached by (name, spec, seed) under the work directory, so a repeated
    seed skips generation; generation never overlaps a timed window."""
    d = os.path.join(ctx.cache_dir, f"{name}-{spec.key()}-{ctx.seed}")
    docs_path, truth_path = os.path.join(d, "docs"), os.path.join(d, "truth.parquet")
    if os.path.exists(truth_path):
        docs = pq.read_table(docs_path).to_pandas()
        truth = pd.read_parquet(truth_path)
    else:
        docs, truth = C.generate(spec, ctx.seed)
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        C.write_parquet(docs, os.path.join(tmp, "docs"), n_files)
        truth.to_parquet(os.path.join(tmp, "truth.parquet"))
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
    os.utime(d)
    return docs_path, docs, truth


def same_as_before(ctx: Ctx, key: str, rows: list[str]) -> list[str]:
    """Compare a digest of ``rows`` with the one an earlier run stored
    under ``key``, or store it. Digests live beside the corpus cache, not
    in it, so pruning a corpus does not forget its outputs."""
    digest = hashlib.sha1("\n".join(sorted(rows)).encode()).hexdigest()
    path = os.path.join(ctx.digest_dir, key + ".sha1")
    if os.path.exists(path):
        with open(path) as f:
            if f.read() != digest:
                return [f"output differs from an earlier run of this seed ({key})"]
        return []
    os.makedirs(ctx.digest_dir, exist_ok=True)
    with open(path, "w") as f:
        f.write(digest)
    return []


def distinct_tokens_per_worker(docs: pd.DataFrame, cores: int) -> int:
    """Distinct lowercased whitespace tokens in one worker's share of the
    corpus (every ``cores``-th document), against the 4M-entry per-worker
    token caches in ``functions/arrow_hash.py``."""
    seen: set[str] = set()
    for t in docs["text"].iloc[::cores]:
        seen.update(t.lower().split())
    return len(seen)


def read_column(path: str, col: str) -> list:
    """One column of a Spark-written parquet directory, including its
    ``_batch_id=N`` partitions (which pyarrow skips by default)."""
    import pyarrow.dataset as ds

    skip = [".", "_SUCCESS", "_committed", "_started"]
    return ds.dataset(path, format="parquet", partitioning="hive", ignore_prefixes=skip).to_table(columns=[col]).column(col).to_pylist()


def count_files(path: str) -> int:
    return sum(1 for _, _, fs in os.walk(path) for f in fs if not f.startswith((".", "_")))


def load_spec(path: str, extra_global: dict | None = None):
    """``recipe.load_recipe`` on the recipe at ``path``; ``extra_global``
    keys are appended to its ``[global]`` table first (written to a
    sibling file, since the loader takes a path)."""
    from datacurator_jl_spark import recipe

    if extra_global:
        with open(path) as f:
            text = f.read()
        lines = [f"{k} = {json.dumps(v)}" for k, v in extra_global.items()]
        text = text.replace("[global]\n", "[global]\n" + "\n".join(lines) + "\n", 1)
        path = path + ".resolved.toml"
        with open(path, "w") as f:
            f.write(text)
    return recipe.load_recipe(path)


def _label_mismatches(sample: pd.DataFrame, spec, kept: pd.DataFrame, dropped: pd.DataFrame | None) -> list[str]:
    """Compare engine labels of ``sample`` rows against the per-row
    Python oracle (``testing.oracle.oracle_labels``)."""
    from datacurator_jl_spark.testing.oracle import oracle_labels

    exp = oracle_labels(sample.reset_index(drop=True), spec).set_index("url")
    k = kept.set_index("url")
    d = dropped.set_index("url") if dropped is not None else None
    bad = []
    for url, row in exp.iterrows():
        if url in k.index:
            got = k.loc[url]
            if not row["keep"] or got["dc_rule_id"] != row["rule_id"] or got["scrubbed_text"] != row["scrubbed_text"]:
                bad.append(url)
        elif d is not None and url in d.index:
            if row["keep"] or d.loc[url, "dc_rule_id"] != row["rule_id"]:
                bad.append(url)
        else:
            bad.append(url)
    return [f"{len(bad)}/{len(exp)} sampled docs disagree with the oracle, e.g. {bad[0]}"] if bad else []


@dataclass(frozen=True)
class Sizes:
    filter_docs: int
    curate_docs: int
    ingest_base: int
    ingest_batches: int  # micro-batches streamed, warm-up included
    ingest_warm: int  # leading micro-batches not counted (query start, JIT)
    ingest_fresh: int  # planted-unique docs per batch
    ingest_copies: int  # planted copies per batch


# At 4 cores a cold filter pass takes ~8 s. A cold curate pass is about
# 21 s of fixed cost (~80 Spark jobs and their barriers) plus about
# 9 ms per document (passes over 1k, 2k and 4k docs), so at 2,000
# documents per-document work is about half the pass; 4,000 would take
# a minute, and the whole measurement (48 fresh runs) must fit in an
# hour. An ingest micro-batch takes ~5 s and the first one about twice
# that.
FULL = Sizes(filter_docs=4000, curate_docs=2000, ingest_base=1000,
             ingest_batches=5, ingest_warm=1, ingest_fresh=45, ingest_copies=15)
# --smoke: every check still runs, well under a minute per workload
SMOKE = Sizes(filter_docs=400, curate_docs=300, ingest_base=300,
              ingest_batches=3, ingest_warm=1, ingest_fresh=15, ingest_copies=5)
ORACLE_SAMPLE = 100
# curate's domain_cap and mixture_total, as shares of its corpus: the
# cap trims the top Zipf domains, and every source still fills its
# mixture quota after the blocklist, dedup and domain-cap passes
DOMAIN_CAP_SHARE = 0.03
MIXTURE_SHARE = 0.36


class RecipeWorkload:
    """A recipe pass: ``Pipeline.apply`` + ``sinks.write_outputs`` over a
    parquet corpus, repeated until the window closes."""

    name = ""
    recipe = ""
    window_start = 0.0  # epoch s before which a traced run attributes nothing

    def __init__(self, sizes: Sizes):
        self.sizes = sizes

    def spec(self) -> C.CorpusSpec:
        raise NotImplementedError

    def generate(self, ctx: Ctx) -> None:
        self.path, self.docs, self.truth = cached_corpus(ctx, self.name, self.spec(), 2 * ctx.cores)
        self.n = len(self.docs)
        ctx.facts.update(C.docs_stats(self.docs, self.truth))
        ctx.facts["distinct_tokens_per_worker"] = distinct_tokens_per_worker(self.docs, ctx.cores)
        self.rspec = self.load_recipe(ctx)
        self.out = None

    def prepare(self, ctx: Ctx) -> None:
        pass

    def load_recipe(self, ctx: Ctx):
        return load_spec(self.recipe)

    def one_pass(self, ctx: Ctx, i: int) -> Op:
        from datacurator_jl_spark import engine, sinks

        out = os.path.join(ctx.run_dir, f"{self.name}-out{i % 2}")
        t0 = time.perf_counter()
        result = engine.Pipeline(self.rspec).apply(ctx.spark.read.parquet(self.path))
        sinks.write_outputs(result, out)
        self.result, self.out = result, out
        return Op(time.perf_counter() - t0, self.n)

    def timed(self, ctx: Ctx, seconds: float, span=None) -> list[Op]:
        ops: list[Op] = []
        end = time.perf_counter() + seconds
        i = 0
        while i == 0 or time.perf_counter() < end:
            try:
                with span("op") if span else contextlib.nullcontext():
                    ops.append(self.one_pass(ctx, i))
            except Exception as e:  # a failed pass is counted, not fatal
                print(f"{self.name} pass {i} failed: {e!r}")
                ops.append(Op(float("nan"), 0, ok=False))
            i += 1
        return ops

    def files_written(self) -> int:
        """Data files one pass writes."""
        return count_files(self.out)

    def standing_rows(self) -> int:
        return 0

    def outputs(self) -> tuple[pd.DataFrame, pd.DataFrame]:
        kept = pq.read_table(os.path.join(self.out, "kept"), columns=["url", "dc_rule_id", "scrubbed_text", "text"]).to_pandas()
        dropped = pq.read_table(os.path.join(self.out, "drop_log")).to_pandas()
        return kept, dropped


class Filter(RecipeWorkload):
    """The flagship recipe over a duplicate-free web corpus."""

    name = "filter"
    recipe = os.path.join(os.path.dirname(HERE), "recipes", "webtext_quality.toml")

    def spec(self) -> C.CorpusSpec:
        return C.CorpusSpec(n_docs=self.sizes.filter_docs, q=50.0, ranks=2_000_000)

    def check(self, ctx: Ctx) -> list[str]:
        kept, dropped = self.outputs()
        errs = []
        if len(kept) + len(dropped) != self.n:
            errs.append(f"kept {len(kept)} + dropped {len(dropped)} != {self.n} input docs")
        ctx.facts["keep_rate"] = round(len(kept) / self.n, 4)
        rng = np.random.default_rng(ctx.seed)
        sample = self.docs.iloc[np.sort(rng.choice(self.n, ORACLE_SAMPLE, replace=False))]
        return errs + _label_mismatches(sample, self.rspec, kept, dropped)


class Curate(RecipeWorkload):
    """Every [global] pre-pass ahead of the flagship rules, over a corpus
    with planted duplicates, boilerplate, repeat crawls and domain skew."""

    name = "curate"
    recipe = os.path.join(HERE, "curate.toml")

    def spec(self) -> C.CorpusSpec:
        return C.CorpusSpec(
            n_docs=self.sizes.curate_docs, q=1e8, ranks=10**11, exact_dup_frac=0.06,
            near_dup_frac=0.06, recrawl_frac=0.04, blocklist_frac=0.01,
            junk_frac=0.15, pii_frac=0.05, n_domains=150,
        )

    def load_recipe(self, ctx: Ctx):
        blocked = sorted(self.docs.loc[self.truth["blocked"].to_numpy(), "url"])
        path = os.path.join(ctx.run_dir, "curate.toml")
        shutil.copyfile(self.recipe, path)
        n = self.sizes.curate_docs
        extra = {"blocklist": blocked, "domain_cap": max(1, round(DOMAIN_CAP_SHARE * n)),
                 "mixture_total": round(MIXTURE_SHARE * n)}
        spec = load_spec(path, extra)
        with open(path + ".resolved.toml", "rb") as f:
            self.recipe_key = hashlib.sha1(f.read()).hexdigest()[:12]
        return spec

    def check(self, ctx: Ctx) -> list[str]:
        from datacurator_jl_spark.operators.sampling import _mixture_quotas

        kept, dropped = self.outputs()
        survivors = pd.concat([kept["url"], dropped["url"]])
        errs = []
        if survivors.duplicated().any():
            errs.append("a url reached the rule chain twice")
        docs, truth = self.docs, self.truth
        blocked = set(docs.loc[truth["blocked"].to_numpy(), "url"])
        if blocked & set(survivors):
            errs.append(f"{len(blocked & set(survivors))} blocklisted urls survived")
        exact = truth["copy"].to_numpy() == "exact"
        gid = np.where(exact, truth["orig"], np.arange(len(docs)))
        # a url that reaches the rules is its latest crawl (keep_latest),
        # and that version belongs to its own group: an exact copy of an
        # original that was re-crawled no longer has a twin to drop
        latest = docs.assign(gid=gid).sort_values(["warc_ts", "crawl_id"]).drop_duplicates("url", keep="last")
        group = latest.set_index("url")["gid"]
        g = group[group.index.isin(kept["url"])]
        grp_sizes = g[g.isin(np.unique(gid[exact]))].value_counts()
        if (grp_sizes > 1).any():
            errs.append(f"{int((grp_sizes > 1).sum())} exact-copy groups kept more than one doc")
        meta = docs.drop_duplicates("url").set_index("url").loc[survivors]
        per_dom = meta["domain"].value_counts()
        if per_dom.max() > self.rspec.domain_cap:
            errs.append(f"domain {per_dom.idxmax()} kept {per_dom.max()} > cap {self.rspec.domain_cap}")
        quotas = _mixture_quotas(self.rspec.mixture, self.rspec.mixture_total)
        got = meta["source"].value_counts().to_dict()
        if got != quotas:
            errs.append(f"mixture {got} != quotas {quotas}")
        ctx.facts["keep_rate"] = round(len(kept) / self.n, 4)
        ctx.facts["survivors"] = len(survivors)
        # rule labels of kept and dropped survivors against the oracle; a
        # dropped doc's text (what the rule chain saw, after the text
        # pre-passes) is re-read from the pass's last materialized
        # pre-pass, outside every timed window
        from pyspark.sql import functions as F

        gone = self.result.df.filter(~F.col("dc_kept")).select("url", "text").toPandas()
        rng = np.random.default_rng(ctx.seed)
        sample = pd.concat([
            t.iloc[np.sort(rng.choice(len(t), min(ORACLE_SAMPLE, len(t)), replace=False))][["url", "text"]]
            for t in (kept, gone)
        ])
        errs += _label_mismatches(sample, self.rspec, kept, dropped)
        # the survivor set and every label, against earlier runs of the seed
        labels = pd.concat([kept[["url", "dc_rule_id"]], dropped[["url", "dc_rule_id"]]])
        rows = [f"{u}\t{r}" for u, r in labels.itertuples(index=False)]
        return errs + same_as_before(ctx, f"curate-{self.spec().key()}-{self.recipe_key}-{ctx.seed}", rows)


class Ingest:
    """Streaming ingest dedup against a pre-seeded signature table."""

    name = "ingest"
    window_start = 0.0

    def __init__(self, sizes: Sizes):
        self.sizes = sizes
        z = sizes
        self.base_n, self.n_batches, self.fresh_n, self.copies_n = (
            z.ingest_base, z.ingest_batches, z.ingest_fresh, z.ingest_copies)

    def spec(self) -> C.CorpusSpec:
        # base + every batch's fresh documents; no junk, so every
        # document is long enough for its minhash to be content-driven
        return C.CorpusSpec(n_docs=self.base_n + self.n_batches * self.fresh_n, q=1e8,
                            ranks=10**11, junk_frac=0.0, pii_frac=0.0, n_domains=150)

    def generate(self, ctx: Ctx) -> None:
        path, docs, truth = cached_corpus(ctx, self.name, self.spec(), ctx.cores)
        self.path = path
        cols = ["url", "crawl_id", "warc_ts", "text", "lang", "domain", "source", "n_chars"]
        docs = docs[cols]
        base = docs.iloc[:self.base_n]
        fresh = docs.iloc[self.base_n:].reset_index(drop=True)
        self.docs = docs
        # batches: fresh docs, plus exact and near copies of base docs
        # and of earlier batches' fresh docs, under new urls
        rng = np.random.default_rng(ctx.seed + 7)
        self.batches, self.fresh_urls, self.copy_urls = [], [], []
        for j in range(self.n_batches):
            new = fresh.iloc[j * self.fresh_n : (j + 1) * self.fresh_n]
            pool = pd.concat([base, fresh.iloc[: j * self.fresh_n]]) if j else base
            src = pool.iloc[rng.choice(len(pool), self.copies_n, replace=False)].copy()
            near = rng.random(len(src)) < 0.5
            src.loc[near, "text"] = [C._near_copy(rng, t) for t in src.loc[near, "text"]]
            src["url"] = [f"{u}#copy{j}-{k}" for k, u in enumerate(src["url"])]
            batch = pd.concat([new, src]).sample(frac=1.0, random_state=int(rng.integers(1 << 31)))
            self.batches.append(batch)
            self.fresh_urls += list(new["url"])
            self.copy_urls += list(src["url"])
        ctx.facts.update(C.docs_stats(docs, truth))
        ctx.facts.update(docs=self.n_batches * (self.fresh_n + self.copies_n), base_docs=self.base_n,
                         dup_rate=round(self.copies_n / (self.fresh_n + self.copies_n), 4))
        ctx.facts["distinct_tokens_per_worker"] = distinct_tokens_per_worker(docs, ctx.cores)

    def prepare(self, ctx: Ctx) -> None:
        """Pre-seed the standing signature table from the base corpus (the
        ``_batch_id=-1`` partition a compacted table has), once per seed."""
        from datacurator_jl_spark.operators import dedup
        from pyspark.sql import functions as F

        self.schema = ctx.spark.read.parquet(self.path).schema
        self.base_sig = os.path.join(os.path.dirname(self.path), "base_sig")
        if not os.path.exists(os.path.join(self.base_sig, "_SUCCESS")):
            base = ctx.spark.createDataFrame(self.docs.iloc[:self.base_n][["url", "text"]])
            sig = dedup.signature_table(base, "url", "text", 8)
            sig.withColumn("_batch_id", F.lit(-1)).write.mode("overwrite").partitionBy("_batch_id").parquet(self.base_sig)

    def timed(self, ctx: Ctx, seconds: float, span=None) -> list[Op]:
        """Stream every batch; the ops of the counted micro-batches."""
        from datacurator_jl_spark.streaming import stream

        d = os.path.join(ctx.run_dir, "ingest")
        src, sig, self.out = (os.path.join(d, x) for x in ("in", "sig", "out"))
        shutil.copytree(self.base_sig, sig)
        os.makedirs(src)
        t = time.time() - 10_000
        for j, b in enumerate(self.batches):
            f = os.path.join(src, f"batch-{j:04d}.parquet")
            C.write_parquet(b, f + ".d", 1)
            os.rename(os.path.join(f + ".d", "part-000.parquet"), f)
            os.rmdir(f + ".d")
            os.utime(f, (t + j, t + j))  # the file source admits oldest first
        docs = ctx.spark.readStream.schema(self.schema).option("maxFilesPerTrigger", 1).parquet(src)
        q = stream.incremental_dedup_stream(docs, sig, self.out, os.path.join(d, "ckpt"), id_col="url", text_col="text")
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        progress = [p for p in q.recentProgress if p["numInputRows"]]
        # one file per trigger, oldest first; numInputRows counts every
        # read of the batch inside foreachBatch, so docs come from the file
        ops = [Op(p["durationMs"]["triggerExecution"] / 1000.0, len(b)) for p, b in zip(progress, self.batches)]
        # trigger start of the first counted batch (epoch s): a traced run
        # attributes only what runs from there on
        if len(progress) > self.sizes.ingest_warm:
            ts = datetime.strptime(progress[self.sizes.ingest_warm]["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
            self.window_start = ts.replace(tzinfo=timezone.utc).timestamp()
        # the first micro-batch also starts the query and runs cold plan
        # code: not a steady batch
        return ops[self.sizes.ingest_warm:]

    def files_written(self) -> int:
        """Data files the stream appended, to both sinks, per batch run."""
        sig = os.path.join(os.path.dirname(self.out), "sig")
        return count_files(self.out) + count_files(sig) - count_files(self.base_sig)

    def standing_rows(self) -> int:
        sig = os.path.join(os.path.dirname(self.out), "sig")
        return len(read_column(sig, "doc"))

    def check(self, ctx: Ctx) -> list[str]:
        admitted = set(read_column(self.out, "url"))
        errs = []
        missing = [u for u in self.fresh_urls if u not in admitted]
        leaked = [u for u in self.copy_urls if u in admitted]
        if missing:
            errs.append(f"{len(missing)} planted-unique docs not admitted, e.g. {missing[0]}")
        if leaked:
            errs.append(f"{len(leaked)} planted copies admitted, e.g. {leaked[0]}")
        errs += same_as_before(ctx, f"ingest-{self.spec().key()}-{self.sizes.ingest_fresh}-{self.sizes.ingest_copies}-{ctx.seed}", list(admitted))
        ctx.facts["keep_rate"] = round(len(admitted) / (len(self.fresh_urls) + len(self.copy_urls)), 4)
        return errs


def prune_cache(cache_dir: str, keep: int = 4) -> None:
    """Keep the ``keep`` most recently used corpora."""
    entries = sorted((os.path.getmtime(os.path.join(cache_dir, e)), e) for e in os.listdir(cache_dir))
    for _, e in entries[:-keep]:
        shutil.rmtree(os.path.join(cache_dir, e), ignore_errors=True)


WORKLOADS = {"filter": Filter, "curate": Curate, "ingest": Ingest}
