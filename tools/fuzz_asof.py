"""Multi-seed as-of join sweep at larger-than-hypothesis case sizes.

tests/test_asof_properties.py pins every (direction, tolerance,
strictness, strategy) cell against pandas.merge_asof on hypothesis-sized
cases (<= 25 rows/side). This tool replays the same oracle on BIGGER
random cases — hundreds of events across a dozen entities with dense
duplicate timestamps — sweeping every semantics cell across the
strategies (union / bucketed / auto) per seed, with
the bucketed width RANDOMIZED per cell (including widths far below the
typical inter-event gap, i.e. mostly-empty buckets exercising the
boundary-carry chain — SURVEY §4.1's one novel algorithm).

Usage: python tools/fuzz_asof.py [n_seeds]
Prints one JSON line; exits non-zero on any mismatch (printing the
counterexamples first).
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

EPOCH = dt.datetime(2024, 1, 1)
N_LEFT = 300
N_RIGHT = 150
N_ENTITIES = 12
DOMAIN_S = 3000  # dense: ~1 right row / 20 s / entity -> many exact ties


def _ts(sec: int) -> dt.datetime:
    return EPOCH + dt.timedelta(seconds=int(sec))


def main() -> None:
    n_seeds = int(sys.argv[1]) if len(sys.argv) > 1 else 6

    import pandas as pd

    from go_html_transform_spark.operators.asof import asof_join
    from go_html_transform_spark.session import get_spark

    spark = get_spark(app_name="fuzz-asof", cores=8, shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")

    cells = 0
    failures: list[tuple] = []
    for seed in range(n_seeds):
        rng = random.Random(seed * 48271 + 11)
        ents = [f"e{i}" for i in range(N_ENTITIES)]
        lrows = [
            (rng.choice(ents), rng.randrange(DOMAIN_S), i)
            for i in range(N_LEFT)
        ]
        rrows = [
            (rng.choice(ents), rng.randrange(DOMAIN_S), float(rng.randrange(-9, 10)))
            for _ in range(N_RIGHT)
        ]
        left = spark.createDataFrame(
            [(e, _ts(s), i) for e, s, i in lrows],
            "doc_id string, event_time timestamp, event_id long",
        ).cache()
        right = spark.createDataFrame(
            [(e, _ts(s), v) for e, s, v in rrows],
            "doc_id string, obs_time timestamp, label_value double",
        ).cache()
        lp = pd.DataFrame(
            {
                "doc_id": [e for e, _, _ in lrows],
                "event_time": [_ts(s) for _, s, _ in lrows],
                "event_id": [i for _, _, i in lrows],
            }
        ).sort_values(["event_time", "event_id"], kind="mergesort")
        rp = (
            pd.DataFrame(
                {
                    "doc_id": [e for e, _, _ in rrows],
                    "obs_time": [_ts(s) for _, s, _ in rrows],
                    "label_value": [v for _, _, v in rrows],
                }
            )
            .groupby(["doc_id", "obs_time"], as_index=False)["label_value"]
            .max()
            .sort_values("obs_time", kind="mergesort")
        )
        for direction in ("backward", "forward", "nearest"):
            for tolerance in (None, 45.0):
                for strict in (False, True):
                    if strict and direction == "nearest":
                        continue
                    exp = pd.merge_asof(
                        lp,
                        rp,
                        left_on="event_time",
                        right_on="obs_time",
                        by="doc_id",
                        direction=direction,
                        tolerance=(
                            pd.Timedelta(seconds=tolerance) if tolerance else None
                        ),
                        allow_exact_matches=not strict,
                    )
                    expected = dict(zip(exp["event_id"], exp["label_value"]))
                    for strategy in ("union", "bucketed", "auto"):
                        cells += 1
                        # randomized width stresses the bucketed boundary
                        # carry: 7/30 s are far below the typical per-
                        # entity gap (~240 s) -> mostly-empty buckets with
                        # long carry chains; 10000 s -> one bucket (pure
                        # in-bucket path). 'auto' derives its own width.
                        bsec = rng.choice((7, 30, 113, 300, 1200, 10_000))
                        out = asof_join(
                            left,
                            right,
                            on="doc_id",
                            left_time="event_time",
                            right_time="obs_time",
                            direction=direction,
                            tolerance=tolerance,
                            strategy=strategy,
                            bucket_seconds=bsec,
                            allow_exact_matches=not strict,
                            # 'auto': any non-empty sample trips the
                            # threshold -> bucketed with derived width;
                            # an empty sample falls back to union —
                            # both must be correct
                            auto_hot_rows=1,
                        )
                        got = {r.event_id: r.label_value for r in out.collect()}
                        if set(got) != set(expected):
                            failures.append(
                                (seed, direction, tolerance, strict, strategy,
                                 "row-set", len(got), len(expected))
                            )
                            continue
                        for k, ev in expected.items():
                            gv = got[k]
                            ok = (gv is None) if pd.isna(ev) else (gv == ev)
                            if not ok:
                                failures.append(
                                    (seed, direction, tolerance, strict,
                                     strategy, k, gv, ev)
                                )
        left.unpersist()
        right.unpersist()
    for f in failures[:20]:
        print("MISMATCH", f, file=sys.stderr)
    print(
        json.dumps(
            {
                "metric": "as-of join sweep vs pandas merge_asof (large cases)",
                "seeds": n_seeds,
                "rows_per_case": [N_LEFT, N_RIGHT],
                "cells": cells,
                "row_checks": cells * N_LEFT,
                "mismatches": len(failures),
            }
        )
    )
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
