"""Benchmark entry point.

    python3 perfbench/run.py --workload mhw_batch --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Generates the workload's inputs from
``--seed``, sets up, runs the workload's warm-up jobs
(``Workload.warmup_jobs``), then runs jobs in a closed loop for
``--seconds`` (at least one), checks every job's output and then the
whole run's outside the timed window, and prints one JSON object as the
last line of standard output. ``--trace 0`` reports the end-to-end metrics;
``--trace 1`` reports the per-layer metrics from spans around the calls
into each engine layer (see ``spans.py``), plus the tracing overhead.

Everything the run writes lives under ``.bench_work/`` in the checkout
and is removed at exit, except the spans of a traced run, kept in
``.bench_work/spans/<workload>-<seed>.jsonl``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: set-up repetitions whose median is reported (generate + ingest)
SETUP_REPS = 3
#: driver heap: the engine's 48g default overcommits a 15 GB host
DRIVER_MEMORY = "4g"
#: layers with spans; ``session`` reports only its start time
LAYERS = ("sources", "climatology", "severity", "detection", "streaming",
          "textops", "plans")
GENERIC = ("call_s", "exec_s", "tasks", "failed_tasks", "executor_run_s",
           "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "driver_idle_s")
COUNTS = ("sources.rows", "detection.events", "detection.events_per_cell_year",
          "streaming.batches", "textops.candidate_pairs",
          "textops.pair_precision")


def pin_environment(work: str) -> int:
    """Fix what the engine reads from the environment, so two commits
    run identically: cores, driver heap, worker import path, and fresh
    scratch directories inside the run's work directory."""
    cpus = len(os.sched_getaffinity(0))
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        PYTHONPATH=ROOT,
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        TMPDIR=os.path.join(work, "tmp"),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    )
    return cpus


class Context:
    """What a workload needs from the run: session, tracer, seed, work
    directory, and a place to record layer counts."""

    def __init__(self, spark, tracer, seed: int, work: str):
        self.spark, self.tracer, self.seed, self.work = spark, tracer, seed, work
        self.counts: dict[str, float] = {}

    def count(self, name: str, value: float) -> None:
        self.counts[name] = float(value)


#: (module, function, layer, force) probed in traced jobs: functions the
#: flagship plans call internally, wrapped in a span; ``force``
#: checkpoints the output so the layer's work lands on its own span
PROBES = (
    ("mhw3d_detection_spark.plans.pipeline", "pooled_climatology", "climatology", True),
    ("mhw3d_detection_spark.plans.pipeline", "calculate_severity", "severity", True),
    ("mhw3d_detection_spark.plans.pipeline", "exceedance", "detection", False),
    ("mhw3d_detection_spark.plans.pipeline", "enrich_series", "detection", False),
    ("mhw3d_detection_spark.plans.pipeline", "fused_detect_metrics", "detection", True),
    ("mhw3d_detection_spark.operators.detection", "detect_partials", "detection", True),
    ("mhw3d_detection_spark.operators.textops", "minhash_bands_rowlocal", "textops", True),
    ("mhw3d_detection_spark.operators.textops", "minhash_candidate_pairs", "textops", True),
    ("mhw3d_detection_spark.operators.textops", "connected_components_bounded", "textops", True),
    ("mhw3d_detection_spark.operators.textops", "text_stats", "textops", False),
)


@contextlib.contextmanager
def layer_probes(tracer):
    """Swap each :data:`PROBES` function for a spanned wrapper while
    the block runs."""
    import importlib

    saved = []

    def wrap(fn, layer, force):
        def probe(*a, **kw):
            with tracer.span(fn.__name__, layer) as s:
                out = fn(*a, **kw)
                s.mark_called()
                if force and not out.isStreaming:
                    out = out.localCheckpoint(eager=True)
            return out
        return probe

    try:
        for mod, name, layer, force in PROBES:
            m = importlib.import_module(mod)
            saved.append((m, name, getattr(m, name)))
            setattr(m, name, wrap(getattr(m, name), layer, force))
        yield
    finally:
        for m, name, fn in saved:
            setattr(m, name, fn)


def run_jobs(w, ctx, seconds: float, traced: bool):
    """Closed loop: next job only after the previous one and its check.
    Returns ``[(seconds, items, ok)]``; at least one job runs."""
    out = []
    t_end = time.perf_counter() + seconds
    i = 0
    while True:
        ctx.spark.catalog.clearCache()
        ctx.tracer.start_trace(f"job-{i}")
        probes = layer_probes(ctx.tracer) if traced else contextlib.nullcontext()
        t0 = time.perf_counter()
        try:
            with probes:
                items = w.job(i)
            dt = time.perf_counter() - t0
            ok = w.check(i)
        except Exception:
            traceback.print_exc()
            dt, items, ok = time.perf_counter() - t0, 0, False
        out.append((dt, items, ok))
        i += 1
        if time.perf_counter() >= t_end:
            return out


def jvm_peak_rss_mb(spark) -> float:
    """The Spark JVM's peak resident set, from ``/proc``."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no VmHWM in /proc status")


def layer_metrics(tracer, cores: int, counts: dict) -> dict:
    """Per-layer metrics from the spans: self times and counters summed
    per unit (a traced job, or a set-up for layers that only run in
    set-up), median over units."""
    spans = tracer.spans
    children: dict[int, list] = {}
    for s in spans:
        if s.parent_id is not None:
            children.setdefault(s.parent_id, []).append(s)
    per_unit: dict[str, dict[str, dict[str, float]]] = {}
    for s in spans:
        call_s, exec_s = s.call_s, s.exec_s
        for c in children.get(s.span_id, []):
            if c.start < s.start + s.call_s:
                call_s -= c.end - c.start
            else:
                exec_s -= c.end - c.start
        m = per_unit.setdefault(s.layer, {}).setdefault(s.trace_id, {})
        vals = dict(s.counters, call_s=max(call_s, 0.0), exec_s=max(exec_s, 0.0))
        vals["driver_idle_s"] = max(
            vals["call_s"] + vals["exec_s"] - s.counters.get("executor_run_s", 0.0) / cores, 0.0)
        for k in GENERIC:
            m[k] = m.get(k, 0.0) + vals.get(k, 0.0)
    out: dict[str, float] = {}
    for layer in LAYERS:
        units = per_unit.get(layer, {})
        jobs = [u for t, u in units.items() if t.startswith("job-")]
        chosen = jobs or list(units.values())
        for k in GENERIC:
            vals = [u[k] for u in chosen]
            out[f"{layer}.{k}"] = statistics.median(vals) if vals else 0.0
    for k in COUNTS:
        out[k] = counts.get(k, 0.0)
    return out


def unit_of(name: str) -> str:
    last = name.rsplit(".", 1)[-1]
    if last.endswith("_s"):
        return "s"
    if last.endswith("_mb"):
        return "MB"
    if last == "pair_precision":
        return "ratio"
    if last == "events_per_cell_year":
        return "1/cell/year"
    return "count"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "mhw3d_detection_spark", "__init__.py")):
        print(f"engine package not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    import workloads as W
    from spans import Tracer

    if args.workload not in W.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(W.WORKLOADS)}",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    cores = pin_environment(work)
    spark = None
    try:
        t0 = time.perf_counter()
        from mhw3d_detection_spark.session import get_spark

        spark = get_spark(f"perfbench-{args.workload}")
        session_s = time.perf_counter() - t0
        tracer = Tracer(spark, enabled=bool(args.trace))
        ctx = Context(spark, tracer, args.seed, work)
        ctx.count("session.start_s", session_s)
        w = W.WORKLOADS[args.workload](ctx)

        prep = []
        for r in range(SETUP_REPS):
            tracer.start_trace(f"setup-{r}")
            t = time.perf_counter()
            w.prepare()
            prep.append(time.perf_counter() - t)
        warm_s, warm_ok = 0.0, True
        for k in range(w.warmup_jobs):
            tracer.start_trace(f"warmup-{k}")
            spark.catalog.clearCache()
            t = time.perf_counter()
            w.job(-1 - k)
            warm_s += time.perf_counter() - t
            warm_ok = w.check(-1 - k) and warm_ok
        setup_s = session_s + statistics.median(prep) + warm_s
        jobs = run_jobs(w, ctx, args.seconds, traced=bool(args.trace))
        tracer.start_trace("finish")
        t = time.perf_counter()
        final_ok = w.finish()
        finish_s = time.perf_counter() - t
        if args.trace:
            tracer.collect_counters()
        peak = jvm_peak_rss_mb(spark)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))

    attempted = len(jobs)
    failed = attempted if not final_ok else sum(1 for _, _, ok in jobs if not ok)
    correct = warm_ok and final_ok and failed == 0
    if args.trace:
        correct = correct and tracer.nesting_ok()
    times = [dt for dt, _, _ in jobs]
    info = dict(w.info, workload=w.name, jobs=attempted, job_times_s=[round(x, 3) for x in times],
                setup_reps_s=[round(x, 3) for x in prep], warmup_s=round(warm_s, 3),
                finish_s=round(finish_s, 3),
                session_s=round(session_s, 3), item=w.item, recall=w.recall,
                peak_rss_mb=round(peak, 1))
    if args.trace:
        vals = layer_metrics(tracer, cores, ctx.counts)
        vals["session.start_s"] = session_s
        vals["session.peak_rss_mb"] = peak
        vals["trace.job_p50_s"] = statistics.median(times)
        spans_path = os.path.join(ROOT, ".bench_work", "spans", f"{w.name}-{args.seed}.jsonl")
        os.makedirs(os.path.dirname(spans_path), exist_ok=True)
        tracer.dump(spans_path)
        info["spans"] = os.path.relpath(spans_path, ROOT)
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in sorted(vals.items())}
    else:
        items = sum(n for _, n, _ in jobs)
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "job_p50_s": {"value": statistics.median(times), "unit": "s"},
            "items_per_s": {"value": items / sum(times), "unit": "1/s"},
            "recall": {"value": w.recall, "unit": "ratio"},
            "ops_ok_frac": {"value": (attempted - failed) / attempted, "unit": "ratio"},
        }
        n = len(times)
        if n >= 20:
            q = 1.0 - 10.0 / n
            info[f"job_p{int(q * 100)}_s"] = sorted(times)[int(q * (n - 1))]
    print(json.dumps({"info": info}))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers it started) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    with contextlib.suppress(Exception):
        gw.shutdown()
    if proc is not None:
        with contextlib.suppress(OSError):
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


if __name__ == "__main__":
    sys.exit(main())
