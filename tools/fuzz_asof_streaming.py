"""Randomized cross-batch sweep for the stateful streaming as-of.

The streaming parity tests pin hand-built fixtures (replay tie-breaks,
NULL-valued labels, exact-t ties) across two micro-batches. This tool
randomizes the axis those fixtures can't: RANDOM timelines cut at RANDOM
micro-batch boundaries (2-5 slices), with duplicate (entity, t) labels
and occasional NULL label values. It drives the one stateful as-of state
machine with k = 2 label streams
(``streaming_asof_enrich_many_stateful``, drained one file per trigger)
and checks each output column against its own batch ``asof_join`` on
the same rows. Batch-boundary state bugs (carried-label tie-breaks, NULL
state, boundary-straddling entities, one table's state leaking into the
other's column) are exactly what random cuts surface.

Usage: python tools/fuzz_asof_streaming.py [n_seeds]
Prints one JSON line; non-zero exit on any divergence.
"""

from __future__ import annotations

import datetime as dt
import glob
import json
import os
import random
import shutil
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

EPOCH = dt.datetime(2024, 1, 1)
N_LEFT = 200
N_RIGHT = 100
N_ENTITIES = 8
DOMAIN_S = 2000
TABLES = ("lab", "hi")


def _ts(sec: int) -> dt.datetime:
    return EPOCH + dt.timedelta(seconds=int(sec))


def main() -> None:
    n_seeds = int(sys.argv[1]) if len(sys.argv) > 1 else 6

    from pyspark.sql import functions as F

    from go_html_transform_spark.operators.asof import asof_join
    from go_html_transform_spark.session import get_spark
    from go_html_transform_spark.streaming import stream as ST

    spark = get_spark(app_name="fuzz-asof-stream", cores=4, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    checks = 0
    failures: list[tuple] = []
    for seed in range(n_seeds):
        rng = random.Random(seed * 69621 + 5)
        ents = [f"e{i}" for i in range(N_ENTITIES)]
        lrows = [
            (rng.choice(ents), rng.randrange(DOMAIN_S), i)
            for i in range(N_LEFT)
        ]
        left = spark.createDataFrame(
            [(e, i, _ts(s)) for e, s, i in lrows],
            "doc_id string, event_id long, event_time timestamp",
        )

        def value():
            return None if rng.random() < 0.1 else float(rng.randrange(-9, 10))

        rights, wants = {}, {}
        for name in TABLES:
            rrows = []
            for _ in range(N_RIGHT):
                # one label in ten repeats an earlier (entity, t)
                if rrows and rng.random() < 0.1:
                    e, s, _ = rng.choice(rrows)
                else:
                    e, s = rng.choice(ents), rng.randrange(DOMAIN_S)
                rrows.append((e, s, value()))
            rights[name] = spark.createDataFrame(
                [(e, _ts(s), v) for e, s, v in rrows],
                "doc_id string, obs_time timestamp, label_value double",
            )
            wants[name] = {
                r.event_id: r.label_value
                for r in asof_join(
                    left, rights[name], direction="backward"
                ).collect()
            }

        # random slice boundaries; ALL sides cut at the same instants so
        # per-entity arrival stays in-order across micro-batches
        n_cuts = rng.randrange(1, 4)
        cuts = sorted(rng.sample(range(1, DOMAIN_S), n_cuts))
        bounds = [0] + cuts + [DOMAIN_S + 1]
        root = tempfile.mkdtemp(prefix="fuzz_asof_st_")
        sides = [(left, os.path.join(root, "ev"), "event_time")] + [
            (rights[name], os.path.join(root, name), "obs_time")
            for name in TABLES
        ]
        for df, src, tcol in sides:
            for j in range(len(bounds) - 1):
                lo, hi = _ts(bounds[j]), _ts(bounds[j + 1])
                df.filter(
                    (F.col(tcol) >= F.lit(lo)) & (F.col(tcol) < F.lit(hi))
                ).coalesce(1).write.mode("append").parquet(src)
            files = sorted(
                glob.glob(src + "/part-*.parquet"), key=os.path.getmtime
            )
            for j, f in enumerate(files):
                os.rename(f, os.path.join(src, f"batch-{j:03d}.parquet"))

        es, *lss = (
            spark.readStream.schema(df.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            for df, src, _ in sides
        )
        out = ST.run_available_now(
            ST.streaming_asof_enrich_many_stateful(es, dict(zip(TABLES, lss))),
            f"fuzz_asof_many_{seed}",
            output_mode="append",
        ).collect()
        for name in TABLES:
            want = wants[name]
            got = {r.event_id: r[f"{name}_label_value"] for r in out}
            checks += len(want)
            if set(got) != set(want):
                failures.append((seed, name, "row-set", len(got), len(want)))
                continue
            for k, ev in want.items():
                if got[k] != ev:  # None == None; NULL never meets a value
                    failures.append((seed, name, cuts, k, got[k], ev))
        shutil.rmtree(root, ignore_errors=True)
    for f in failures[:20]:
        print("MISMATCH", f, file=sys.stderr)
    print(
        json.dumps(
            {
                "metric": "k-table streaming stateful as-of vs batch, per table, on random timelines and batch cuts",
                "seeds": n_seeds,
                "tables": len(TABLES),
                "rows_per_case": [N_LEFT] + [N_RIGHT] * len(TABLES),
                "row_checks": checks,
                "mismatches": len(failures),
            }
        )
    )
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
