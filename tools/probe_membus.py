"""Memory-bus falsification probe for the rule_transform scaling residual.

The round-4 3-level fit (BENCH/BASELINE.md) leaves rule_transform as the
lowest work-term (marginal efficiency 0.754 at 4v16) after asof/window
closed at ~1.0.  Its plan is ONE zero-shuffle whole-stage-codegen
projection — there is no partitioning, shuffle, or Python to fix — so the
standing attribution is the box's shared memory bus.  This probe makes
that attribution falsifiable:

  Hold the payload constant (total tokens T) and sweep the row WIDTH
  (tokens per row).  Narrow rows spend their cycles on per-row work
  (match predicates, null checks, offsets) — a CPU-bound shape; wide rows
  approach pure array streaming (read T ints, write T ints) — a
  bandwidth-bound shape.  The PLAN is identical at every width (same two
  bench rules, same projection).  If 4->16-core efficiency is high at
  narrow widths and falls monotonically as the byte:compute ratio rises,
  the sub-linear residual tracks BYTES MOVED, not the plan — i.e. the
  shared bus is the ceiling and a real cluster (per-node buses scale with
  executors) does not inherit it.  If instead efficiency were flat-low at
  every width, the plan (or codegen) would be implicated and the 0.754
  would be a defect to fix.

Usage:
  python tools/probe_membus.py run CORES WIDTH TOTAL_TOKENS  # one level
  python tools/probe_membus.py sweep                         # full matrix

`sweep` shells each level through `taskset -c 0-(cores-1)` with a fresh
JVM, quiet-gates each window,
appends one JSON line per (width, pair) to BENCH/membus.jsonl and prints
a markdown summary row per width.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

WIDTHS = (8, 64, 512)
PAIR = (4, 16)
TOTAL_TOKENS = 1 << 30  # 1.07B int32 tokens = 4 GiB payload per pass


def run_level(cores: int, width: int, total_tokens: int) -> dict:
    from pyspark.sql import functions as F

    from go_html_transform_spark.operators import transforms as X
    from go_html_transform_spark.plans.pipeline import Transformer
    from go_html_transform_spark.session import get_spark

    rows = total_tokens // width
    spark = get_spark(
        app_name=f"membus-{cores}c-w{width}",
        cores=cores,
        shuffle_partitions=128,
        extra_conf={
            "spark.driver.memory": "24g",
            "spark.shuffle.compress": "false",
            "spark.shuffle.spill.compress": "false",
            "spark.ui.enabled": "true",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    # Deterministic synthetic rows: same 0..1023 vocab the bench rules hit
    # (t982 tag match, t756>t982 child subtransform, 1023 appended child).
    # The affine mix varies tokens across rows and positions so match rates
    # are realistic and constant across widths (~row-rate scales with
    # width exactly as real variable-length docs would).
    base = (
        spark.range(rows)
        .repartition(128)
        .select(
            F.concat(F.lit("d"), F.pmod(F.col("id"), F.lit(100000))).alias(
                "doc_id"
            ),
            F.lit("synth").alias("source"),
            F.transform(
                F.sequence(F.lit(1), F.lit(width)),
                lambda i: F.pmod(
                    F.col("id") * 2654435761 + i * 40503 + 17, F.lit(1024)
                ).cast("int"),
            ).alias("tokens"),
        )
    )
    from pyspark import StorageLevel

    base = base.persist(StorageLevel.MEMORY_AND_DISK)
    n = base.count()
    assert n == rows

    # EXACTLY the bench.py stage-1 rules — the plan under test.
    tr = (
        Transformer(base)
        .apply("t982", lambda t, p: X.append_children(t, [1023]))
        .apply(
            "t756 > t982",
            lambda t, p: X.subtransform(
                t, lambda tok: tok == 756, lambda tok: tok + 1
            ),
        )
    )

    jvm = spark.sparkContext._jvm

    def cpu_ms() -> float:
        import urllib.request

        base_url = spark.sparkContext.uiWebUrl
        if not base_url:
            return 0.0
        app_id = spark.sparkContext.applicationId
        try:
            with urllib.request.urlopen(
                f"{base_url}/api/v1/applications/{app_id}/stages?status=complete",
                timeout=10,
            ) as r:
                stages = json.loads(r.read())
        except Exception:
            return 0.0
        return sum(s.get("executorCpuTime", 0) for s in stages) / 1e6

    best = None
    iters = []
    cpu0 = cpu_ms()
    for _ in range(int(os.environ.get("MEMBUS_ITERS", "3"))):
        jvm.System.gc()
        time.sleep(1)
        t0 = time.perf_counter()
        tr.df.write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        iters.append(round(dt, 3))
        best = dt if best is None else min(best, dt)
    task_cpu_ms = round(cpu_ms() - cpu0, 1)

    with open("/proc/stat") as f:
        parts = [float(x) for x in f.readline().split()[1:]]
    result = {
        "cores": cores,
        "width": width,
        "rows": rows,
        "total_tokens": total_tokens,
        "wall_sec": round(best, 3),
        "iters_sec": iters,
        "tokens_per_sec": round(total_tokens / best),
        "payload_mb_per_sec": round(total_tokens * 4 / best / 1e6, 1),
        "task_cpu_ms_all_iters": task_cpu_ms,
        "load1": round(os.getloadavg()[0], 2),
        "steal_jiffies": parts[7] if len(parts) > 7 else 0.0,
    }
    spark.stop()
    return result


def _wait_quiet(load_thresh: float = 1.5, max_wait: int = 900) -> None:
    t0 = time.time()
    while time.time() - t0 < max_wait:
        if os.getloadavg()[0] < load_thresh:
            return
        time.sleep(15)
    print("# probe: still loaded, proceeding", flush=True)


def _spawn(cores: int, width: int, total: int) -> dict:
    _wait_quiet()
    out = subprocess.run(
        [
            "taskset",
            "-c",
            f"0-{cores - 1}",
            sys.executable,
            os.path.abspath(__file__),
            "run",
            str(cores),
            str(width),
            str(total),
        ],
        capture_output=True,
        text=True,
        check=True,
    )
    line = [l for l in out.stdout.strip().splitlines() if l.startswith("{")][-1]
    return json.loads(line)


def sweep(widths=WIDTHS) -> None:
    out_path = os.path.join(REPO, "BENCH", "membus.jsonl")
    print("| width | rows | t_4c (s) | t_16c (s) | eff 4v16 | cpu infl | MB/s @16c |")
    print("|---|---|---|---|---|---|---|")
    for width in widths:
        lo = _spawn(PAIR[0], width, TOTAL_TOKENS)
        hi = _spawn(PAIR[1], width, TOTAL_TOKENS)
        eff = round(lo["wall_sec"] / (4 * hi["wall_sec"]), 3)
        infl = round(
            hi["task_cpu_ms_all_iters"] / max(1.0, lo["task_cpu_ms_all_iters"]), 2
        )
        rec = {
            "config": "membus_probe",
            "pair": f"{PAIR[0]}v{PAIR[1]}",
            "width": width,
            "total_tokens": TOTAL_TOKENS,
            "eff": eff,
            "cpu_inflation": infl,
            "lo": lo,
            "hi": hi,
        }
        with open(out_path, "a") as f:
            f.write(json.dumps(rec) + "\n")
        print(
            f"| {width} | {lo['rows']} | {lo['wall_sec']} | {hi['wall_sec']} "
            f"| {eff} | {infl} | {hi['payload_mb_per_sec']} |",
            flush=True,
        )


if __name__ == "__main__":
    if sys.argv[1:2] == ["run"]:
        print(json.dumps(run_level(int(sys.argv[2]), int(sys.argv[3]), int(sys.argv[4]))))
    elif sys.argv[1:]:
        sweep([int(w) for w in sys.argv[1:]])
    else:
        sweep()
