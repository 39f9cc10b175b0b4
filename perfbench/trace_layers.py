"""Traced run: spans around the package's public calls, joined to the
Spark event log by job group.

Spans are recorded from the benchmark's side only. Each wrapper opens a
span (name, start, end, parent), sets a Spark job group for its
duration, and, for a pre-pass operator, materializes the operator's
output inside the span (``localCheckpoint(eager=True)``). The engine
defers every pre-pass through ``localCheckpoint(eager=False)``, so
without that the operator's jobs would run inside whichever caller
acts next and be credited to it. The extra materialization is part of
the tracing overhead: the run reports the time it takes, and its
docs/s to compare with an untraced run of the same seed.
"""

from __future__ import annotations

import contextlib
import glob
import importlib
import itertools
import json
import os
import threading
import time
from collections import defaultdict
from dataclasses import asdict, dataclass

import kernels

PKG = "datacurator_jl_spark"

# (module, attribute, span name): pre-pass operators the engine calls
# through their modules, in the engine's pinned order
PREPASSES = [
    ("operators.dataframe_ops", "blocklist_filter", "dataframe_ops.blocklist"),
    ("operators.dataframe_ops", "latest_version", "dataframe_ops.keep_latest"),
    ("operators.boilerplate", "remove_boilerplate_lines", "boilerplate"),
    ("operators.paragraph_dedup", "dedup_paragraphs", "paragraph_dedup"),
    ("operators.span_dedup", "remove_duplicated_spans", "span_dedup"),
    ("operators.dedup", "drop_near_dupes", "dedup"),
    ("operators.decontam", "dup_ngram_stats", "decontam"),
    ("operators.sampling", "group_cap_sample", "sampling.domain_cap"),
    ("operators.sampling", "mixture_sample", "sampling.mixture"),
]
# calls whose work runs inside the span without forcing
PLAIN = [
    ("engine", "Pipeline.apply", "engine.apply"),
    ("sinks", "write_outputs", "sinks.write"),
]
# the ingest micro-batch's two dedup calls (both forced)
STREAMING = [
    ("operators.dedup", "signature_table", "streaming.signature"),
    ("operators.dedup", "incremental_near_dup_survivors", "streaming.survivors"),
]
DEDUP_SPANS = ("dedup", "streaming.survivors")
# Spark SQL metrics read from each completed stage
ACCUMULABLES = {
    "data sent to Python workers": "to_python_bytes",
    "data returned from Python workers": "from_python_bytes",
    "time to run Python workers": "python_s",
    "scan time": "scan_s",
}


def metric(span: str, suffix: str) -> str:
    """``boilerplate`` + ``s`` -> ``boilerplate.s``; ``sampling.mixture`` +
    ``s`` -> ``sampling.mixture_s`` (the layer is the module)."""
    return f"{span}_{suffix}" if "." in span else f"{span}.{suffix}"


@dataclass
class Span:
    name: str
    group: str
    parent: str | None
    start: float  # epoch seconds, to line up with event-log times
    end: float = 0.0
    rows_out: int = 0
    force_s: float = 0.0  # time the wrapper spent materializing the output

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, event_dir: str):
        self.event_dir = event_dir
        os.makedirs(event_dir, exist_ok=True)
        self.spans: list[Span] = []
        self._ids = itertools.count()
        self._local = threading.local()
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []

    def spark_conf(self) -> dict[str, str]:
        return {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + self.event_dir,
            "spark.eventLog.compress": "false",
        }

    @contextlib.contextmanager
    def span(self, name: str):
        from pyspark import SparkContext

        sc = SparkContext._active_spark_context
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        s = Span(name, f"perfbench-{next(self._ids)}", parent.group if parent else None, time.time())
        stack.append(s)
        sc.setLocalProperty("spark.jobGroup.id", s.group)
        try:
            yield s
        finally:
            s.end = time.time()
            stack.pop()
            sc.setLocalProperty("spark.jobGroup.id", parent.group if parent else None)
            with self._lock:
                self.spans.append(s)

    # -- wrappers -------------------------------------------------------
    def _patch(self, owner, attr: str, name: str, force: bool, rows_filter=None) -> None:
        orig = getattr(owner, attr)
        tracer = self

        def wrapped(*args, **kwargs):
            with tracer.span(name) as s:
                out = orig(*args, **kwargs)
                if force:
                    t0 = time.perf_counter()
                    out = out.localCheckpoint(eager=True)
                    s.rows_out = (rows_filter(out) if rows_filter else out).count()
                    s.force_s = time.perf_counter() - t0
                return out

        self._undo.append((owner, attr, orig))
        setattr(owner, attr, wrapped)

    def install(self, wl) -> None:
        from pyspark.sql import functions as F

        spec = getattr(wl, "rspec", None)
        for mod, attr, name in PREPASSES + STREAMING:
            rows_filter = None
            if name == "decontam" and spec is not None:
                thr = spec.max_dup_ngram_fraction
                rows_filter = lambda df, thr=thr: df.filter(F.col("dup_fraction") <= thr)  # noqa: E731
            self._patch(importlib.import_module(f"{PKG}.{mod}"), attr, name, True, rows_filter)
        for mod, attr, name in PLAIN:
            owner = importlib.import_module(f"{PKG}.{mod}")
            if "." in attr:
                cls, attr = attr.split(".")
                owner = getattr(owner, cls)
            self._patch(owner, attr, name, False)

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    # -- the traced run -------------------------------------------------
    def run(self, ctx, wl, seconds: float):
        """The timed window with every wrapper installed."""
        self.install(wl)
        try:
            with self.span("run"):
                ops = wl.timed(ctx, seconds, span=self.span)
        finally:
            self.uninstall()
        self.files_written = wl.files_written()
        return ops

    def measure_kernels(self, ctx, wl) -> None:
        """The per-batch kernel micro-bench, after the timed window."""
        self.kernels = kernels.measure(ctx.spark, wl.docs)

    def write(self, path: str) -> None:
        """The recorded spans, one JSON object per line."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")

    # -- report ---------------------------------------------------------
    def _events(self) -> tuple[dict, dict]:
        """From the event log: per-stage totals, and per job its group,
        submission time (epoch s) and stages (each stage counted once)."""
        jobs: dict[int, tuple[str, float, list[int]]] = {}
        stages: dict[int, dict] = defaultdict(lambda: defaultdict(float))
        owned: set[int] = set()
        # Spark writes a rolling log: one directory of event files per app
        for path in sorted(glob.glob(os.path.join(self.event_dir, "**", "events_*"), recursive=True)):
            with open(path) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "-"
                        mine = [sid for sid in ev["Stage IDs"] if sid not in owned]
                        owned.update(mine)
                        jobs[ev["Job ID"]] = (g, ev["Submission Time"] / 1000.0, mine)
                    elif kind == "SparkListenerTaskEnd":
                        m = ev.get("Task Metrics") or {}
                        st = stages[ev["Stage ID"]]
                        st["tasks"] += 1
                        st["run_s"] += m.get("Executor Run Time", 0) / 1000.0
                        st["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                        st["result_bytes"] += m.get("Result Size", 0)
                        st["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                        st["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                        st["input_rows"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
                        st["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
                    elif kind == "SparkListenerStageCompleted":
                        info = ev["Stage Info"]
                        st = stages[info["Stage ID"]]
                        st["stages"] += 1
                        for acc in info.get("Accumulables", []):
                            key = ACCUMULABLES.get(acc.get("Name", ""))
                            if key:
                                scale = 1e-3 if key.endswith("_s") else 1.0
                                st[key] += float(acc.get("Value") or 0) * scale
        for st in stages.values():
            # (the parquet reader's input byte count is unreliable on a
            # local file system, so scans are counted in rows)
            if st["scan_s"]:
                st["scan_rows"] = st["input_rows"]
            # stages that run a Python UDF: their executor time outside
            # the Python workers is the JVM side of the decision projection
            # (scan, rule chain, write) -- approximate, since the Arrow
            # runner overlaps the two
            if st["to_python_bytes"]:
                st["rules_s"] = max(0.0, st["run_s"] - st["python_s"])
        return jobs, stages

    def report(self, ctx, wl, ops, phases: dict) -> dict[str, tuple[float, str]]:
        jobs, stages = self._events()
        root = next(s for s in self.spans if s.name == "run")
        # the measured window: the traced run, less an ingest stream's
        # first (warm-up) micro-batch
        t0 = max(root.start, wl.window_start)
        window = root.end - t0
        traced = [s for s in self.spans if s.start >= t0 and s is not root]
        n_ops = max(1, len([o for o in ops if o.ok]))
        by_name: dict[str, list[Span]] = defaultdict(list)
        for s in traced:
            by_name[s.name].append(s)

        def total(key: str, groups=None) -> float:
            """Per-op sum of a stage metric over the jobs of ``groups``
            (default: every job submitted inside the traced window)."""
            v = 0.0
            for g, t, sids in jobs.values():
                if (g in groups) if groups is not None else (t0 <= t <= root.end):
                    v += sum(stages[sid][key] for sid in sids)
            return v / n_ops

        def wall(name: str) -> float:
            return sum(s.wall for s in by_name.get(name, [])) / n_ops

        def groups(*names: str) -> set[str]:
            return {s.group for n in names for s in by_name.get(n, [])}

        out: dict[str, tuple[float, str]] = {}
        for k in ("session.start_s", "recipe.compile_s", "functions.warmup_s"):
            out[k] = (phases[k], "s")
        out["sources.scan_rows"] = (total("scan_rows"), "rows")
        out["sources.scan_s"] = (total("scan_s"), "s")
        out["functions.python_s"] = (total("python_s"), "s")
        out["functions.to_python_bytes"] = (total("to_python_bytes"), "bytes")
        out["functions.from_python_bytes"] = (total("from_python_bytes"), "bytes")
        for k, v in self.kernels.items():
            out[k] = (v, "ms")
        out["engine.apply_s"] = (wall("engine.apply"), "s")
        out["engine.rules_s"] = (total("rules_s"), "s")
        for _, _, name in PREPASSES:
            out[metric(name, "s")] = (wall(name), "s")
            rows = sum(s.rows_out for s in by_name.get(name, [])) / n_ops
            out[metric(name, "rows_out")] = (rows, "rows")
        dd = groups(*DEDUP_SPANS)
        out["dedup.jobs"] = (sum(1 for g, _, _ in jobs.values() if g in dd) / n_ops, "count")
        out["dedup.shuffle_bytes"] = (total("shuffle_write_bytes", dd), "bytes")
        out["dedup.driver_bytes"] = (total("result_bytes", dd), "bytes")
        # the batch's own signature runs inside survivors: self times
        surv_groups = groups("streaming.survivors")
        nested = sum(s.wall for s in by_name.get("streaming.signature", []) if s.parent in surv_groups) / n_ops
        sig, surv = wall("streaming.signature"), wall("streaming.survivors")
        op_wall = sum(o.latency_s for o in ops if o.ok) / n_ops
        streaming = bool(surv_groups)
        out["streaming.signature_s"] = (sig, "s")
        out["streaming.survivors_s"] = (surv - nested, "s")
        out["streaming.commit_s"] = (op_wall - sig - surv + nested if streaming else 0.0, "s")
        out["streaming.base_rows"] = (float(wl.standing_rows()), "rows")
        out["sinks.write_s"] = (wall("sinks.write"), "s")
        out["sinks.bytes_written"] = (total("output_bytes"), "bytes")
        out["sinks.files_written"] = (self.files_written / n_ops, "count")
        out["spark.jobs"] = (sum(1 for _, t, _ in jobs.values() if t0 <= t <= root.end) / n_ops, "count")
        out["spark.stages"] = (total("stages"), "count")
        out["spark.tasks"] = (total("tasks"), "count")
        out["spark.shuffle_write_bytes"] = (total("shuffle_write_bytes"), "bytes")
        out["spark.spill_bytes"] = (total("spill_bytes"), "bytes")
        out["spark.gc_s"] = (total("gc_s"), "s")
        out["spark.core_busy"] = (total("run_s") * n_ops / (window * ctx.cores), "ratio")
        # traced time no layer span covers: a recipe pass's own time
        # outside engine.apply and sinks.write, or, for ingest, the
        # stream's time outside its micro-batches (commit is its own row)
        if streaming:
            unattributed = window / n_ops - op_wall
        else:
            ops_in = sum(s.wall for s in by_name.get("op", []))
            top = sum(s.wall for s in traced if s.name in ("engine.apply", "sinks.write"))
            unattributed = (ops_in - top) / n_ops
        out["unattributed_s"] = (unattributed, "s")
        # tracing overhead = this minus docs_per_s of an untraced run of
        # the same seed; force_s is the part spent materializing outputs
        out["trace.docs_per_s"] = (_docs_per_s(ops), "docs/s")
        out["trace.force_s"] = (sum(s.force_s for s in traced) / n_ops, "s")
        return out


def _docs_per_s(ops) -> float:
    import statistics

    good = [o.docs / o.latency_s for o in ops if o.ok]
    return statistics.median(good) if good else 0.0
