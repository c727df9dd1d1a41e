"""The repo benchmark: one workload per run, closed loop, one client.

Usage (from the repo root):

    python3 perfbench/run.py --workload feature_pipeline --seed 1 --seconds 1 --trace 0
    python3 perfbench/run.py --scaling --seed 1 --seconds 1

A run starts one Spark session at ``local[nproc]`` (settings in
``host.host_settings``), builds the workload's inputs from ``--seed``,
runs the workload's warm-up executions (``Workload.warmups``: as many as
it takes the execution time to level off as the JVM compiles the hot
paths), and then runs timed job executions back to back: at least one,
and new ones until ``--seconds`` have passed. Each execution's output is
checked after its timer stops. The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; the line before it
holds every execution and the run's annotations.

``--trace 0`` reports the end-to-end metrics:

* ``setup_s``: session start + the median of ``SETUP_REPEATS`` rounds of
  input generation and cache fill + the warm-up executions.
* ``wall_s``: median wall time of one execution, call to sink completion.
* ``rows_per_s``: input rows (sequences, or documents) / ``wall_s``.
* ``cpu_s``: median utime+stime per execution over the process tree
  (Python driver, JVM, Python workers), from /proc.
* ``peak_rss_mb``: median over executions of the tree's peak resident
  memory (proportional set size, sampled every 0.1 s) while that
  execution ran. The heap is committed at start (-Xms = -Xmx), so the
  figure does not follow the collector's heap resizing.
* ``dup_recall``: planted near-duplicates removed / planted. Workloads
  without planted duplicates report 1.0 (nothing planted, nothing
  missed).

``--trace 1`` runs the same setup, then times each engine layer on cached
inputs under a Spark job group per span and reads the spans' stage and
SQL metrics from the Spark REST API. It then alternates untraced and
traced executions: ``trace.overhead_s`` is the difference of their median
walls, ``trace.uncovered_s`` the traced wall minus the summed walls of the
layers that make up one execution. Spans are written at exit to
``.perfbench/spans/``.

``--scaling`` runs ``feature_pipeline`` at ``local[1]`` and
``local[nproc]`` in two child runs and prints ``scaling_eff`` =
wall(1) / (nproc * wall(nproc)).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import nullcontext
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import host  # noqa: E402

LAYERS = (
    "tables", "synth", "pipeline", "asof", "window", "lineage", "sink",
    "text", "dedup", "prepare",
)
# per-layer metrics read off one span
SPAN_EXTRAS = {
    "tables.scan_s": ("tables.scan", "wall_s"),
    "synth.gen_s": ("synth.gen", "wall_s"),
    "prepare.jobs": ("prepare", "jobs"),
}
LAYER_EXTRAS = (
    "tables.scan_s", "tables.rows", "synth.gen_s", "asof.plan_s",
    "asof.match_rate", "lineage.rows_written", "sink.mb_written",
    "dedup.candidates", "dedup.pairs", "dedup.pair_yield",
    "dedup.max_band_bucket", "prepare.jobs",
)


def summary(xs: list[float]) -> dict:
    if not xs:
        return {"n": 0}
    q = statistics.quantiles(xs, n=4) if len(xs) > 1 else [xs[0]] * 3
    return {"n": len(xs), "median": statistics.median(xs), "q1": q[0], "q3": q[2]}


class Loop:
    """Timed executions with their checks, CPU time and peak memory."""

    def __init__(self, spark, wl, mem: host.PssSampler):
        self.jvm = spark.sparkContext._jvm
        self.wl, self.mem = wl, mem
        self.walls: list[float] = []
        self.cpus: list[float] = []
        self.peaks: list[float] = []
        self.failed = 0

    def once(self, i, span=None) -> None:
        # collect the previous execution's garbage outside the timed region
        self.jvm.System.gc()
        c0 = host.tree_cpu_s()
        s0 = self.mem.cpu_s
        self.mem.peak_mb = 0.0
        self.mem.arm()
        t0 = time.perf_counter()
        try:
            with span or nullcontext():
                res = self.wl.execute(i)
            ok = True
        except Exception:
            traceback.print_exc(file=sys.stderr)
            ok = False
        dt = time.perf_counter() - t0
        self.mem.disarm()
        # the sampler thread runs in this process: its CPU is not the program's
        self.cpus.append(host.tree_cpu_s() - c0 - (self.mem.cpu_s - s0))
        self.walls.append(dt)
        self.peaks.append(max(self.mem.peak_mb, host.tree_pss_mb()))
        if ok:
            try:
                ok = bool(self.wl.check(i, res))
            except Exception:
                traceback.print_exc(file=sys.stderr)
                ok = False
        if not ok:
            print(f"# execution {i}: FAILED", file=sys.stderr)
        self.failed += not ok
        self.wl.cleanup(i)


def run(args) -> int:
    from perfbench.trace import GENERIC, Tracer
    from perfbench.workloads import SETUP_REPEATS, WORKLOADS

    settings = host.host_settings(args.cores)
    run_id = f"{args.workload}-s{args.seed}-p{os.getpid()}"
    work = host.WORK / run_id
    work.mkdir(parents=True, exist_ok=True)
    load_start = os.getloadavg()
    probe_start = host.cpu_probe_s()
    busy0, steal0 = host.cpu_jiffies()
    tracer = Tracer(run_id) if args.trace else None

    t0 = time.time()
    spark, start_s = host.start_session(settings, ui=bool(args.trace), app_name=f"perfbench-{args.workload}")
    try:
        if tracer is not None:
            tracer.bind(spark)
            tracer.record("session", t0, time.time())
        wl = WORKLOADS[args.workload](spark, args.seed, work)
        reps = []
        for r in range(1 if tracer else SETUP_REPEATS):
            t = time.perf_counter()
            wl.generate(r, tracer)
            reps.append(time.perf_counter() - t)
        t = time.perf_counter()
        wl.setup_plan()
        warm_ok = True
        warm_walls = []
        for k in range(wl.warmups):
            tag = f"warm{k}"
            t1 = time.perf_counter()
            res = wl.execute(tag)
            warm_walls.append(time.perf_counter() - t1)
            warm_ok &= bool(wl.check(tag, res))
            wl.cleanup(tag)
        warm_s = time.perf_counter() - t
        setup_s = start_s + statistics.median(reps) + warm_s

        with host.PssSampler() as mem:
            plain = Loop(spark, wl, mem)
            if tracer is None:
                deadline = time.perf_counter() + args.seconds
                while not plain.walls or time.perf_counter() < deadline:
                    plain.once(len(plain.walls))
            else:
                with tracer.span("layers"):
                    extras = wl.trace_layers(tracer)
                traced = Loop(spark, wl, mem)
                deadline = time.perf_counter() + args.seconds
                i = 0
                while not traced.walls or time.perf_counter() < deadline:
                    plain.once(i)
                    traced.once(i + 1, tracer.span(wl.execution_span))
                    i += 2
                tracer.collect_metrics()
                tracer.write(host.WORK / "spans" / f"{run_id}.jsonl")
        attempted = len(plain.walls) + (len(traced.walls) if tracer else 0)
        failed = plain.failed + (traced.failed if tracer else 0)

        busy1, steal1 = host.cpu_jiffies()
        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "settings": settings,
            "rows": wl.rows,
            "setup": {
                "session_start_s": start_s,
                "generate_and_cache_s": summary(reps),
                "warmup_s": warm_s,
                "warmup_wall_s": warm_walls,
                "warmup_checks_ok": warm_ok,
            },
            "executions": {
                "wall_s": plain.walls,
                "cpu_s": plain.cpus,
                "peak_rss_mb": plain.peaks,
            },
            "wall_s": summary(plain.walls),
            "cpu_s": summary(plain.cpus),
            "peak_rss_mb": summary(plain.peaks),
            "error_rate": failed / max(1, attempted),
            "annotations": {
                "load_start": load_start,
                "load_end": os.getloadavg(),
                "steal_pct_of_busy": 100.0 * (steal1 - steal0) / max(1, busy1 - busy0),
                "cpu_probe_s": [probe_start, host.cpu_probe_s()],
            },
        }
        wall = statistics.median(plain.walls)
        if tracer is None:
            metrics = {
                "setup_s": (setup_s, "s"),
                "wall_s": (wall, "s"),
                "rows_per_s": (wl.rows / wall, "rows/s"),
                "cpu_s": (statistics.median(plain.cpus), "s"),
                "peak_rss_mb": (statistics.median(plain.peaks), "MB"),
                "dup_recall": (getattr(wl, "dup_recall", 1.0), "ratio"),
            }
        else:
            twall = statistics.median(traced.walls)
            detail["traced_executions"] = {"wall_s": traced.walls}
            metrics = {"session.start_s": (start_s, "s")}
            by_name: dict[str, list[dict]] = {}
            for s in tracer.spans:
                by_name.setdefault(s["name"], []).append(s)
            for layer in LAYERS:
                recs = by_name.get(layer, [])
                for g in GENERIC:
                    v = statistics.median(r["metrics"][g] for r in recs) if recs else 0.0
                    unit = "MB" if g.endswith("_mb") else "count" if g == "failed_tasks" else "s"
                    metrics[f"{layer}.{g}"] = (v, unit)
            for name, (span, key) in SPAN_EXTRAS.items():
                if span in by_name:
                    extras[name] = by_name[span][0]["metrics"][key]
            for name in LAYER_EXTRAS:
                v = extras.get(name, 0)
                unit = "s" if name.endswith("_s") else "MB" if ".mb_" in name else (
                    "ratio" if name.endswith(("rate", "yield")) else "count"
                )
                metrics[name] = (v, unit)
            covered = sum(metrics[f"{n}.wall_s"][0] for n in wl.execution_layers)
            metrics["trace.overhead_s"] = (twall - wall, "s")
            metrics["trace.uncovered_s"] = (twall - covered, "s")
        print(json.dumps({"detail": detail}))
        print(json.dumps({
            "correct": failed == 0 and warm_ok,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }))
        return 0
    finally:
        host.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)


def scaling(args) -> int:
    """Run feature_pipeline at local[1] and local[nproc] as two child runs."""
    nproc = host.host_settings()["nproc"]
    walls = {}
    for cores in (1, nproc):
        cmd = [
            sys.executable, str(Path(__file__).resolve()), "--workload", "feature_pipeline",
            "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0",
            "--cores", str(cores),
        ]
        out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, check=True).stdout
        result = json.loads(out.strip().splitlines()[-1])
        walls[cores] = result["metrics"]["wall_s"]["value"]
        print(json.dumps({"cores": cores, **result}))
    print(json.dumps({
        "scaling_eff": walls[1] / (nproc * walls[nproc]),
        "wall_s": {str(c): w for c, w in walls.items()},
        "settings": host.host_settings(),
    }))
    return 0


def main(argv=None) -> int:
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=None, help="local[N]; default nproc")
    ap.add_argument("--scaling", action="store_true")
    args = ap.parse_args(argv)
    # on SIGTERM, unwind through run()'s finally, which stops the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not (ROOT / "go_html_transform_spark" / "__init__.py").is_file():
        print(f"perfbench: engine package not found under {ROOT}", file=sys.stderr)
        return 2
    if args.scaling:
        return scaling(args)
    if args.workload is None:
        ap.error("--workload is required")
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
