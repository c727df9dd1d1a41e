"""Local stand-in for the driver's correctness gate: run every
``queries()`` entry on Spark and its ``oracle_sql()`` twin on DuckDB at
sf0.01, compare row count + column names + order-insensitive values.

Usage: python tools/crosscheck.py [--strict] [sf_dir] [query_name ...]

Named queries run alone (a name not in the registry raises before any
query runs), and the summary counts the queries that ran.

``--strict`` replicates the driver's dtype-sensitive value hash: both
results are fetched THROUGH PANDAS (Spark ``toPandas()``, DuckDB
``.df()``) and cells compared by their string form WITHOUT float
normalization. This is the mode that catches the round-1 HUGEINT class
(DuckDB SUM(int) -> HUGEINT -> pandas float64 -> '5.0' vs Spark int64
'5') that the lenient %.6g normalization masks. A query must pass
strict locally before it can be trusted to hash-match in the driver.
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from go_html_transform_spark.session import get_spark

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.6g}"
    if isinstance(v, bool):
        return str(int(v))
    if v is None:
        return ""
    return str(v)


def norm_rows(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(norm_cell(r[i]) for i in idx) for r in rows)


def strict_cell(v):
    import numpy as np

    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(strict_cell(x) for x in v) + "]"
    if v is None:
        return ""
    if isinstance(v, float) and math.isnan(v):
        return "nan"
    try:
        if v != v:  # pandas NaT / numpy nan in object columns
            return "nan"
    except (TypeError, ValueError):
        pass
    return str(v)


def strict_rows(pdf):
    pdf = pdf[sorted(pdf.columns)]
    return sorted(tuple(strict_cell(v) for v in row) for row in pdf.itertuples(index=False))


def main():
    argv = [a for a in sys.argv[1:] if a != "--strict"]
    strict = "--strict" in sys.argv[1:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    import __spark_entry__ as E

    qs, os_ = E.queries(), E.oracle_sql()
    unknown = sorted(only - set(qs))
    if unknown:
        raise ValueError(f"not in the query registry: {', '.join(unknown)}")
    if only:
        qs = {name: fn for name, fn in qs.items() if name in only}

    spark = get_spark(app_name="crosscheck", cores=8, shuffle_partitions=16)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    failures = []
    for name, fn in qs.items():
        try:
            sdf = fn(spark, sf_dir)
            s_cols = sorted(sdf.columns)
            if strict:
                s_rows = strict_rows(sdf.toPandas())
            else:
                s_rows = norm_rows(sdf.columns, [tuple(r) for r in sdf.collect()])
        except Exception as e:
            failures.append((name, f"spark error: {e}"))
            print(f"FAIL {name}: spark error: {str(e)[:400]}")
            continue
        if name not in os_:
            print(f"SKIP-ORACLE {name}: rows={len(s_rows)} (rows-only check)")
            if len(s_rows) == 0:
                failures.append((name, "zero rows with no oracle"))
            continue
        try:
            rel = con.sql(os_[name])
            d_cols = sorted(rel.columns)
            if strict:
                d_rows = strict_rows(rel.df())
            else:
                d_rows = norm_rows(rel.columns, rel.fetchall())
        except Exception as e:
            failures.append((name, f"duckdb error: {e}"))
            print(f"FAIL {name}: duckdb error: {str(e)[:400]}")
            continue
        if s_cols != d_cols:
            failures.append((name, f"schema mismatch: {s_cols} vs {d_cols}"))
            print(f"FAIL {name}: schema {s_cols} vs {d_cols}")
        elif len(s_rows) != len(d_rows):
            failures.append((name, f"rowcount {len(s_rows)} vs {len(d_rows)}"))
            print(f"FAIL {name}: rowcount {len(s_rows)} vs {len(d_rows)}")
        elif s_rows != d_rows:
            diff = next(
                (i, a, b) for i, (a, b) in enumerate(zip(s_rows, d_rows)) if a != b
            )
            failures.append((name, f"value mismatch at sorted row {diff[0]}"))
            print(f"FAIL {name}: first diff @{diff[0]}\n  spark={diff[1]}\n  duck ={diff[2]}")
        else:
            print(f"OK   {name}: {len(s_rows)} rows")

    print(f"\n{len(qs) - len(failures)}/{len(qs)} ok")
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
