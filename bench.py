"""Benchmark harness — north-star metric: sequences/sec end-to-end
(as-of join + windowed features) at SF=0.1 (BASELINE.json).

Runs the headline stages at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

    {"metric": ..., "value": <total sec>, "unit": "sec",
     "queries": {<stage>: sec, ...}, "sf": ..., "sequences_per_sec": ...}

Scaling evidence (N vs 4N cores) on this harness's workloads:
``python3 perfbench/run.py --scaling`` (local[1] vs local[4]).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _wait_quiet(max_wait: float, load_thresh: float) -> float:
    """Block until the box's 1-min load (ambient — nothing of ours is
    running yet / between attempts) drops under ``load_thresh``, up to
    ``max_wait`` seconds. The shared VM's other tenants produce load
    spikes of 10-25 that poison a window (BENCH_r03 was captured at
    load 19 and read as a 16% regression that two quiet reruns showed
    was ambient). Requires TWO consecutive readings 15 s apart under the
    threshold — a single reading can catch a momentary dip in a
    still-decaying tail (r4's kept attempt started at load 4.18) and
    burn an attempt on a window that was never going to be clean.
    Returns the load it proceeded at."""
    t0 = time.time()
    quiet_streak = 0
    while True:
        load1 = os.getloadavg()[0]
        if load1 < load_thresh:
            quiet_streak += 1
            if quiet_streak >= 2:
                return load1
        else:
            quiet_streak = 0
        if time.time() - t0 >= max_wait:
            if load1 >= load_thresh:
                print(
                    f"# bench: still loaded ({load1:.1f}) after "
                    f"{max_wait:.0f}s wait, proceeding",
                    file=sys.stderr,
                )
            return load1
        time.sleep(15)


def main() -> None:
    """Quiet-gated driver entry: wait for an idle window, run the bench,
    and if the window turns out contaminated (hypervisor steal >=1% of
    busy jiffies, or ambient load >=2 at window start) retry up to
    SPARK_GRAFT_QUIET_RETRIES times, emitting the first clean result —
    else the least-contaminated attempt flagged window_contaminated.
    Defaults raised for r5 (retries 1 -> 3, wait 600 -> 900): BENCH_r03
    and r04 both shipped contaminated headlines that quiet same-config
    reruns beat by ~22% — two attempts inside one decaying load tail
    were not enough."""
    max_wait = float(os.environ.get("SPARK_GRAFT_QUIET_WAIT", "900"))
    load_thresh = float(os.environ.get("SPARK_GRAFT_QUIET_LOAD", "2.0"))
    retries = int(os.environ.get("SPARK_GRAFT_QUIET_RETRIES", "3"))
    attempts: list[dict] = []
    for i in range(retries + 1):
        _wait_quiet(max_wait, load_thresh)
        result = _run_once()
        e = result["env"]
        contamination = e["steal_pct_of_busy"] + max(
            0.0, e["load_start"][0] - load_thresh
        )
        clean = e["steal_pct_of_busy"] < 1.0 and e["load_start"][0] < load_thresh
        attempts.append(
            {
                "attempt": i,
                "clean": clean,
                "steal_pct_of_busy": e["steal_pct_of_busy"],
                "load_start": e["load_start"][0],
                "full_pipeline": result["queries"]["full_pipeline"],
                "_contamination": contamination,
                "_result": result,
            }
        )
        print(
            f"# bench attempt {i}: steal={e['steal_pct_of_busy']} "
            f"load_start={e['load_start'][0]} "
            f"full={result['queries']['full_pipeline']} clean={clean}",
            file=sys.stderr,
        )
        if clean:
            break
    best = min(
        attempts,
        key=lambda a: (not a["clean"], a["_contamination"], a["full_pipeline"]),
    )
    result = best["_result"]
    result["window_contaminated"] = not best["clean"]
    result["env"]["attempts"] = [
        {k: v for k, v in a.items() if not k.startswith("_")} for a in attempts
    ]
    print(json.dumps(result))


def _run_once() -> dict:
    # ambient load sampled BEFORE the session spins up: the old read sat
    # after the 32-thread cache-warm burst, so every attempt measured
    # the bench's OWN warmup (~4) as "ambient" and flagged a genuinely
    # quiet window contaminated — the r3/r4 headline windows were
    # mislabeled exactly this way (steal was 0.1-0.3% throughout)
    load_start = os.getloadavg()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    from pyspark.sql import functions as F

    from go_html_transform_spark.operators import transforms as X
    from go_html_transform_spark.operators.asof import asof_join
    from go_html_transform_spark.operators.window import add_features
    from go_html_transform_spark.plans.pipeline import Transformer
    from go_html_transform_spark.session import get_spark
    from go_html_transform_spark.sources import tables as S

    # Fixed partition count at every parallelism level: production sizes
    # partitions to the DATA (then AQE coalesces), not to the core count —
    # and a fixed count removes a confound from the N-vs-4N comparison.
    # 128 = 4 waves at 32 cores (smooths stragglers) / 16 waves at 8.
    n_part = int(os.environ.get("SPARK_GRAFT_PARTITIONS", "128"))
    extra = {
        # 32g heap: the 10M-sequence cached working set + sort buffers fit
        # without G1 churn (8g measured 1.5-2x slower at local[32]).
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "32g"),
        # Shuffle dirs are tmpfs here, so lz4 is pure CPU overhead in the
        # hot path (measured: full_pipeline 15.1s -> 10.7s @local[32]). A
        # real cluster shuffling over the network keeps compression ON.
        "spark.shuffle.compress": os.environ.get(
            "SPARK_GRAFT_SHUFFLE_COMPRESS", "false"
        ),
        "spark.shuffle.spill.compress": os.environ.get(
            "SPARK_GRAFT_SHUFFLE_COMPRESS", "false"
        ),
        # UI on: the scaling harness reads /api/v1 stage task metrics to
        # separate hardware CPU-time inflation from real scheduling loss.
        "spark.ui.enabled": "true",
    }
    # Sweep hook: SPARK_GRAFT_EXTRA_CONF='{"spark.x":"y", ...}' merges
    # arbitrary conf (GC flags, off-heap, compression) into the session —
    # the config-sweep harness drives 8-vs-32 pairs through this.
    extra.update(json.loads(os.environ.get("SPARK_GRAFT_EXTRA_CONF", "{}")))
    spark = get_spark(
        app_name=f"bench-{cpus}",
        cores=cpus,
        shuffle_partitions=n_part,
        extra_conf=extra,
    )
    spark.sparkContext.setLogLevel("ERROR")

    seq = S.sequences(spark, sf_dir, repartition=n_part)
    lab = S.labels(spark, sf_dir)

    # Optional deterministic replication for the scaling runs: the sandbox
    # SFs are small enough that JVM/task overheads swamp the compute; the
    # N-vs-4N evidence needs a compute-bound working set. Replication
    # suffixes doc_id so the ENTITY count scales with the row count (as it
    # would at 10^12 rows), keeping per-entity timelines identical.
    # Default x100 (10M sequences at sf0.1): the sandbox SFs are small
    # enough that JVM/task overheads swamp the compute below ~10^7 rows;
    # entity-suffixed replication keeps per-entity timelines identical
    # while scaling the entity count with the row count.
    rep = int(os.environ.get("SPARK_GRAFT_REPLICATE", "100"))
    if rep > 1:
        r = spark.range(rep).select(F.col("id").alias("__rep"))

        def replicate(df, id_col):
            return (
                df.crossJoin(F.broadcast(r))
                .withColumn(
                    "doc_id", F.concat("doc_id", F.lit("#"), F.col("__rep"))
                )
                .withColumn(id_col, F.col(id_col) * rep + F.col("__rep"))
                .drop("__rep")
            )

        seq = replicate(seq, "event_id")
        lab = (
            lab.crossJoin(F.broadcast(r))
            .withColumn("doc_id", F.concat("doc_id", F.lit("#"), F.col("__rep")))
            .drop("__rep")
        )

    # Cache the (replicated) base inputs so each stage measures ITS OWN
    # cost, not a recompute of the upstream lineage. MEMORY_AND_DISK —
    # spill lands on the tmpfs local dir.
    from pyspark import StorageLevel

    seq = seq.persist(StorageLevel.MEMORY_AND_DISK)
    lab = lab.persist(StorageLevel.MEMORY_AND_DISK)
    n_sequences = seq.count()  # materializes cache + warms JVM/broadcast
    lab.count()

    timings: dict[str, float] = {}
    stage_tasks: dict[str, dict[str, float]] = {}
    n_iters = int(os.environ.get("SPARK_GRAFT_ITERS", "3"))

    jvm = spark.sparkContext._jvm

    def proc_stat() -> tuple[float, float]:
        """(busy_jiffies, steal_jiffies) from the aggregate /proc/stat cpu
        line — the delta over the bench window is the box's own evidence
        of hypervisor steal during THIS run."""
        try:
            with open("/proc/stat") as f:
                parts = f.readline().split()[1:]
            vals = [float(x) for x in parts]
            idle = vals[3] + (vals[4] if len(vals) > 4 else 0.0)
            steal = vals[7] if len(vals) > 7 else 0.0
            return sum(vals) - idle, steal
        except Exception:
            return 0.0, 0.0

    env_t0 = time.time()
    busy0, steal0 = proc_stat()

    def completed_stages() -> list[dict]:
        """Stage-level task metrics from the UI REST API (executorRunTime
        ms, executorCpuTime ns) — the evidence that separates hardware
        CPU-time inflation from real scaling loss in the N-vs-4N pair."""
        import urllib.request

        base = spark.sparkContext.uiWebUrl
        if not base:
            return []
        app_id = spark.sparkContext.applicationId
        try:
            with urllib.request.urlopen(
                f"{base}/api/v1/applications/{app_id}/stages?status=complete",
                timeout=10,
            ) as r:
                return json.loads(r.read())
        except Exception:
            return []

    def timed(name: str, fn) -> None:
        pre = {s["stageId"] for s in completed_stages()}
        best = None
        iters = []
        for _ in range(n_iters):  # min-of-N: drops codegen/JIT warmup noise
            # JMH-style forced GC between iterations: deferred cleanup debt
            # (shuffle-file cleaner, dead cache blocks) from the previous
            # iteration otherwise lands in this one's wall time — measured
            # 1.5-2x bimodal noise without it.
            jvm.System.gc()
            time.sleep(1)
            t0 = time.perf_counter()
            fn()
            dt = time.perf_counter() - t0
            iters.append(round(dt, 3))
            best = dt if best is None else min(best, dt)
        timings[name] = round(best, 3)
        # per-stage task metrics: run-vs-cpu over THIS stage's iterations
        # makes a round-over-round wall-time delta self-diagnosing (ambient
        # steal inflates run≫cpu; a real regression moves cpu too)
        post = [s for s in completed_stages() if s["stageId"] not in pre]
        stage_tasks[name] = {
            "iters_sec": iters,
            "task_run_ms": round(sum(s.get("executorRunTime", 0) for s in post), 1),
            "task_cpu_ms": round(
                sum(s.get("executorCpuTime", 0) for s in post) / 1e6, 1
            ),
        }

    # stage 1: selector-rule token transform (scan -> match -> rewrite)
    tr = (
        Transformer(seq)
        .apply("t982", lambda t, p: X.append_children(t, [1023]))
        .apply(
            "t756 > t982",
            lambda t, p: X.subtransform(t, lambda tok: tok == 756, lambda tok: tok + 1),
        )
    )
    timed("rule_transform", lambda: tr.df.write.format("noop").mode("overwrite").save())

    # stage 2: as-of join (backward, JVM union strategy)
    joined = asof_join(
        seq.select("doc_id", "event_time", "event_id", "n_tok", "source", "value"),
        lab,
        direction="backward",
    )
    timed("asof_join", lambda: joined.write.format("noop").mode("overwrite").save())

    # stage 3: windowed feature bundle (single shuffle + sort)
    feats = add_features(
        seq.select("doc_id", "event_time", "event_id", "n_tok", "value")
    )
    timed("window_features", lambda: feats.write.format("noop").mode("overwrite").save())

    # headline: full pipeline (rule transform -> as-of -> features).
    # Measured twice: compute_pipeline (noop sink — the scaling-efficiency
    # metric: the sandbox has ONE local disk, so a parquet sink is a fixed
    # IO floor that no core count can parallelize; a real cluster's sink
    # bandwidth scales with executors) and full_pipeline (parquet sink —
    # the honest end-to-end wall time at this parallelism).
    full = add_features(
        asof_join(
            tr.df.select(
                "doc_id", "event_time", "event_id", "tokens", "n_tok", "source", "value"
            ),
            lab,
            direction="backward",
        )
    )
    # parquet sink on tmpfs: the sandbox's single ~300 MB/s virtual disk is
    # a fixed-IO artifact no core count can parallelize; a real cluster's
    # sink (HDFS/S3/Iceberg) scales its aggregate bandwidth with executors,
    # and RAM-backed parquet keeps the encode CPU in the measurement.
    sink_root = os.environ.get("SPARK_GRAFT_SINK_DIR", "/dev/shm")
    out_dir = tempfile.mkdtemp(prefix="ghts_bench_", dir=sink_root)
    before_ids = {s["stageId"] for s in completed_stages()}
    try:
        # INTERLEAVED min-of-3 (c,f,c,f,c,f): ambient load drifts over the
        # ~1 min the pair takes, and back-to-back blocks hand the drift
        # entirely to one of the two — the round-1 "noop slower than
        # parquet" inversion. Alternating exposes both to the same
        # environment; min still drops warmup/GC-debt outliers.
        best_c, best_f = None, None
        for _ in range(n_iters):
            jvm.System.gc()
            time.sleep(1)
            t0 = time.perf_counter()
            full.write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            best_c = dt if best_c is None else min(best_c, dt)
            jvm.System.gc()
            time.sleep(1)
            t0 = time.perf_counter()
            full.write.mode("overwrite").parquet(f"{out_dir}/out")
            dt = time.perf_counter() - t0
            best_f = dt if best_f is None else min(best_f, dt)
        timings["compute_pipeline"] = round(best_c, 3)
        timings["full_pipeline"] = round(best_f, 3)
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)
    new_stages = [
        s for s in completed_stages() if s["stageId"] not in before_ids
    ]
    task_run_ms = sum(s.get("executorRunTime", 0) for s in new_stages)
    task_cpu_ms = sum(s.get("executorCpuTime", 0) for s in new_stages) / 1e6

    def env_block() -> dict:
        """Ambient-load snapshot over the bench window: makes round-over-
        round stage deltas interpretable without re-litigating the VM."""
        busy1, steal1 = proc_stat()
        d_busy, d_steal = busy1 - busy0, steal1 - steal0
        return {
            "load_start": [round(x, 2) for x in load_start],
            "load_end": [round(x, 2) for x in os.getloadavg()],
            "wall_sec": round(time.time() - env_t0, 1),
            "steal_pct_of_busy": round(
                100.0 * d_steal / max(1.0, d_busy + d_steal), 2
            ),
            "host_cpus": os.cpu_count(),
            "extra_conf": sorted(extra.items()),
            "iters": n_iters,
            "replicate": rep,
        }

    total = round(sum(timings.values()), 3)
    result = {
        "metric": "end-to-end pipeline seconds (rule transform + as-of join + windowed features + sink) over pre-tokenized sequences",
        "value": timings["full_pipeline"],
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cpus": cpus,
        "n_sequences": n_sequences,
        "sequences_per_sec": round(n_sequences / timings["full_pipeline"], 1),
        "compute_sequences_per_sec": round(n_sequences / timings["compute_pipeline"], 1),
        "total_sec": total,
        # task-time totals across the 6 interleaved pipeline executions
        # (3 noop + 3 parquet; identical logical work at every parallelism
        # level, so 8-vs-32 ratios of these isolate per-task CPU inflation
        # from scheduling loss)
        "full_task_run_ms": round(task_run_ms, 1),
        "full_task_cpu_ms": round(task_cpu_ms, 1),
        "stage_tasks": stage_tasks,
        "env": env_block(),
    }
    spark.stop()
    return result


if __name__ == "__main__":
    main()
