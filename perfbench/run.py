"""Repository benchmark: curation workloads, end to end and per layer.

Usage (from the repository root):

    python3 perfbench/run.py --workload curate --seed 1 --seconds 10 --trace 0

Each run is one fresh process: it generates (or reuses) the seeded
inputs, starts Spark on ``local[nproc]``, measures set-up, runs timed
operations until ``--seconds`` have passed (a recipe pass runs cold, as
a CLI user pays it; an ingest stream counts its micro-batches after the
warm-up ones), checks the outputs, stops Spark and waits for its
processes, and prints a table followed by one JSON line. ``--trace 0`` reports the end-to-end metrics; ``--trace 1`` turns
on the Spark event log and wraps the package's public calls, and
reports the per-layer metrics instead (perfbench/README.md).
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs: checks only, well under a minute")
    return ap.parse_args(argv)


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def driver_mem() -> str:
    """Spark driver heap fitted to the host: an eighth of MemTotal, at
    least 2g and at most the 24g ``session.py`` defaults to. The heap is
    touched at start (see ``main``), and the Python workers, the page
    cache and the host's other tenants need the rest."""
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{max(2, min(24, int(kb / 8 / 2**20)))}g"


def _status(pid: int) -> dict[str, str]:
    out = {}
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            k, _, v = line.partition(":")
            out[k] = v.strip()
    return out


def descendants(root: int) -> list[int]:
    """``root`` and every live process descended from it, from /proc."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                ppid = int(_status(int(name))["PPid"])
            except (OSError, KeyError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


# one evacuating G1 pause in the unified GC log:
# "[12.345s]...Pause Young (Normal) (G1 Evacuation Pause) 150M->40M(2048M)";
# Remark and Cleanup pauses free no young garbage, so they are skipped
GC_PAUSE = re.compile(r"^\[(\d+\.\d+)s\].* Pause (?:Young|Full) .* (\d+)([KMG])->(\d+)([KMG])\(")
_MB = {"K": 1 / 1024, "M": 1.0, "G": 1024.0}


def reset_peaks(spark) -> float:
    """Open the timed window's memory peaks: reset this driver process's
    VmHWM (``clear_refs`` 5). Returns the JVM's uptime (s), where the
    window starts in its GC log."""
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")
    return spark.sparkContext._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getUptime() / 1000.0


def heap_after_gc_peak_mb(gc_log: str, since: float) -> float:
    """The largest heap occupancy any young or full GC pause after
    ``since`` (JVM uptime, s) left behind: the heap the program kept live, where the
    JVM's VmHWM is its pre-touched heap. 0 when no pause ran."""
    peak = 0.0
    with open(gc_log) as f:
        for line in f:
            m = GC_PAUSE.match(line)
            if m and float(m.group(1)) >= since:
                peak = max(peak, int(m.group(4)) * _MB[m.group(5)])
    return peak


def memory_peaks(spark) -> dict[str, float]:
    """MB: VmHWM of the JVM, of every process under it (the Python daemon
    and its workers) and of this driver process since ``reset_peaks``,
    from /proc."""
    jvm = spark.sparkContext._gateway.proc.pid
    hwm: dict[int, int] = {}
    for pid in descendants(jvm) + [os.getpid()]:
        try:
            hwm[pid] = int(_status(pid).get("VmHWM", "0 kB").split()[0])
        except OSError:
            pass
    return {"total": sum(hwm.values()) / 1024.0, "jvm": hwm.get(jvm, 0) / 1024.0,
            "driver": hwm.get(os.getpid(), 0) / 1024.0, "processes": len(hwm)}


def _alive(pid: int) -> bool:
    try:
        return not _status(pid).get("State", "Z").startswith(("Z", "X"))
    except OSError:
        return False


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop Spark, end its JVM (it exits when its stdin closes) and wait
    until the JVM and the Python workers under it have exited."""
    from pyspark import SparkContext

    proc = spark.sparkContext._gateway.proc
    pids = descendants(proc.pid)
    spark.stop()
    proc.stdin.close()
    proc.wait(timeout)
    SparkContext._gateway = SparkContext._jvm = None
    end = time.monotonic() + timeout
    while any(_alive(p) for p in pids) and time.monotonic() < end:
        time.sleep(0.05)


SETUP_DOCS = 64


def setup(ctx, wl, cores: int, extra_conf: dict) -> dict[str, float]:
    """Fresh process -> get_spark -> recipe compile -> first Arrow batch on
    a small slice. Returns the per-phase seconds."""
    t0 = time.perf_counter()
    from datacurator_jl_spark import engine, session

    spark = ctx.spark = session.get_spark("perfbench", cores=cores, extra_conf=extra_conf)
    t1 = time.perf_counter()
    from workloads import Filter, load_spec

    spec = load_spec(Filter.recipe)
    pipe = engine.Pipeline(spec)
    t2 = time.perf_counter()
    head = wl.docs.iloc[:SETUP_DOCS][["url", "text"]]
    pipe.apply(spark.createDataFrame(head)).df.select("dc_kept", "dc_rule_id").collect()
    t3 = time.perf_counter()
    return {"session.start_s": t1 - t0, "recipe.compile_s": t2 - t1,
            "functions.warmup_s": t3 - t2, "setup_s": t3 - t0}


def tail(values: list[float]) -> tuple[float, int]:
    """The highest percentile with at least ten samples beyond it (and
    that percentile), or the maximum when fewer than eleven samples."""
    v = sorted(values)
    if len(v) <= 10:
        return v[-1], 100
    return v[len(v) - 11], int(100 * (len(v) - 10) / len(v))


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import datacurator_jl_spark  # noqa: F401
        import bench
    except ImportError as e:
        print(f"perfbench: the package is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    import workloads as W

    if args.workload not in W.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(W.WORKLOADS)}", file=sys.stderr)
        return 2

    # everything the run writes stays under the working directory
    work = os.path.join(os.getcwd(), ".perfbench")
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    cache_dir = os.path.join(work, "cache")
    digest_dir = os.path.join(work, "digests")
    tmp, local = os.path.join(run_dir, "tmp"), os.path.join(run_dir, "local")
    gc_log = os.path.join(run_dir, "gc.log")
    for d in (cache_dir, tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = driver_mem()
    # no JVM writes its perf-data file to /tmp (spark-submit's launcher
    # JVM reads its options from SPARK_LAUNCHER_OPTS)
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
    cores = host_cores()
    extra_conf = {
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # the whole driver heap is committed and touched at start, so the
        # JVM's share of peak_rss_mb is its heap cap plus native memory,
        # not wherever G1's heap sizing happened to stop in this run
        "spark.driver.extraJavaOptions": f"{jvm_opts} -Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']} -XX:+AlwaysPreTouch"
                                         f" -Xlog:gc:file={gc_log}",
    }
    tracer = None
    if args.trace:
        from trace_layers import Tracer

        tracer = Tracer(os.path.join(run_dir, "events"))
        extra_conf.update(tracer.spark_conf())

    run_wall: dict[str, float] = {}  # where the run's own time went
    last = [time.perf_counter()]

    def lap(name: str) -> None:
        now = time.perf_counter()
        run_wall[name] = round(now - last[0], 2)
        last[0] = now

    ctx = W.Ctx(spark=None, seed=args.seed, cores=cores, run_dir=run_dir, cache_dir=cache_dir, digest_dir=digest_dir)
    try:
        calib = bench.calibrate()
        lap("calibrate")
        wl = W.WORKLOADS[args.workload](W.SMOKE if args.smoke else W.FULL)
        wl.generate(ctx)
        lap("generate")
        phases = setup(ctx, wl, cores, extra_conf)
        wl.prepare(ctx)
        lap("setup")
        window_uptime = reset_peaks(ctx.spark)
        if tracer is None:
            ops = wl.timed(ctx, 0.0 if args.smoke else args.seconds)
        else:
            ops = tracer.run(ctx, wl, args.seconds)
        mem = memory_peaks(ctx.spark)
        mem["heap"] = heap_after_gc_peak_mb(gc_log, window_uptime)
        lap("timed")
        if tracer:
            tracer.measure_kernels(ctx, wl)
        errs = [] if all(o.ok for o in ops) else ["a timed operation raised"]
        try:
            errs += wl.check(ctx)
        except Exception as e:  # a check that cannot run is a failed check
            errs.append(f"output check raised: {e!r}")
        lap("check")
        stop_spark(ctx.spark)
        ctx.spark = None
        layers = {}
        if tracer:
            layers = tracer.report(ctx, wl, ops, phases)
            layers["jvm.heap_after_gc_peak_mb"] = (mem["heap"], "MB")
            tracer.write(os.path.join(work, "trace", f"{args.workload}-{args.seed}.jsonl"))
        lap("stop")
    finally:
        if ctx.spark is not None:
            stop_spark(ctx.spark)
        shutil.rmtree(run_dir, ignore_errors=True)
        W.prune_cache(cache_dir)

    good = [o for o in ops if o.ok]
    failed = len(ops) - len(good) if not errs else len(ops)
    lat = [o.latency_s for o in good] or [float("nan")]
    docs_per_s = statistics.median(o.docs / o.latency_s for o in good) if good else float("nan")
    q = max(1, len(lat) // 4)
    growth = statistics.median(lat[-q:]) / statistics.median(lat[:q])
    tail_s, tail_p = tail(lat)
    e2e = {
        "docs_per_s": (docs_per_s, "docs/s"),
        "batch_p50_s": (statistics.median(lat), "s"),
        "setup_s": (phases["setup_s"], "s"),
        "peak_rss_mb": (mem["total"], "MB"),
    }
    print(f"workload {args.workload}  seed {args.seed}  cores {cores}  driver_mem {os.environ['SPARK_GRAFT_DRIVER_MEM']}  calibrate_s {calib}")
    print("run_wall_s  " + "  ".join(f"{k} {v}" for k, v in run_wall.items()))
    print("corpus  " + "  ".join(f"{k} {v}" for k, v in ctx.facts.items()))
    print(f"ops {len(ops)}  latencies_s {[round(x, 3) for x in lat]}  jvm_hwm_mb {mem['jvm']:.0f}  "
          f"driver_hwm_mb {mem['driver']:.0f}  processes {mem['processes']}  heap_after_gc_peak_mb {mem['heap']:.0f}")
    print(f"  {'batch_tail_s':<34} {tail_s:>14.4f} s  (p{tail_p} of {len(lat)} ops)")
    print(f"  {'batch_growth':<34} {growth:>14.4f} ratio")
    print(f"  {'failed_frac':<34} {failed / max(1, len(ops)):>14.4f} ratio")
    for k, (v, u) in e2e.items():
        print(f"  {k:<34} {v:>14.4f} {u}")
    for e in errs:
        print(f"CHECK FAILED: {e}")
    if tracer:
        for k, (v, u) in layers.items():
            print(f"  {k:<34} {v:>14.4f} {u}")
    metrics = layers if tracer else e2e
    print(json.dumps({
        "correct": not errs,
        "attempted": max(1, len(ops)),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
