"""Local mimic of the driver's DuckDB correctness gate.

Runs every ``queries()`` entry on Spark and (when present) the matching
``oracle_sql()`` on DuckDB at the same sf dir, then compares:
row count, column-name set, and values (columns sorted by name, rows
sorted by all columns) — exact where possible, tiny float tolerance
reported separately so rounding-grid risks are visible.  Each result
line gives the Spark time (query plus ``toPandas``) and the DuckDB
oracle time separately.

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import sys
import time

import functools
import duckdb
import pandas as pd

print = functools.partial(print, flush=True)

sys.path.insert(0, ".")

from crick_spark.session import get_session
from crick_spark.sources.tables import TABLES


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # datetimes → naive UTC strings so Spark/DuckDB tz conventions can't differ
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            col = df[c]
            try:
                col = col.dt.tz_localize(None)
            except TypeError:
                col = col.dt.tz_convert("UTC").dt.tz_localize(None)
            df[c] = col.astype("datetime64[us]").astype(str)
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


def compare(name: str, sdf: pd.DataFrame, odf: pd.DataFrame) -> list[str]:
    problems = []
    if len(sdf) != len(odf):
        return [f"row count {len(sdf)} vs {len(odf)}"]
    if sorted(sdf.columns) != sorted(odf.columns):
        return [f"columns {sorted(sdf.columns)} vs {sorted(odf.columns)}"]
    s, o = normalize(sdf), normalize(odf)
    for c in s.columns:
        # int-vs-float dtype skew (e.g. duckdb HUGEINT → pandas float64)
        # passes Python ==, but the driver's value hash sees 506627 vs
        # 506627.0 — flag it even when every value compares equal
        si = pd.api.types.is_integer_dtype(s[c])
        oi = pd.api.types.is_integer_dtype(o[c])
        sf_ = pd.api.types.is_float_dtype(s[c])
        of = pd.api.types.is_float_dtype(o[c])
        if (si and of) or (sf_ and oi):
            problems.append(
                f"col {c}: dtype skew {s[c].dtype} vs {o[c].dtype} (hash would fail!)"
            )
    for c in s.columns:
        sv, ov = s[c].tolist(), o[c].tolist()
        for i, (a, b) in enumerate(zip(sv, ov)):
            if a is None and b is None:
                continue
            fa = isinstance(a, float)
            fb = isinstance(b, float)
            if fa and fb and math.isnan(a) and math.isnan(b):
                continue
            if a == b:
                continue
            if fa and fb and abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b)):
                problems.append(f"col {c} row {i}: NEAR-MISS {a!r} vs {b!r} (hash would fail!)")
            else:
                problems.append(f"col {c} row {i}: {a!r} vs {b!r}")
            if len(problems) > 8:
                return problems
    return problems


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as e

    spark = get_session("correctness-check")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, oracles = e.queries(), e.oracle_sql()
    n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as ex:
            print(f"FAIL  {name} (spark {time.time()-t0:.1f}s): spark error: {ex}")
            n_fail += 1
            continue
        spark_s = time.time() - t0
        if name not in oracles:
            print(f"ok    {name}: rows-only ({len(sdf)} rows, spark {spark_s:.1f}s)")
            if len(sdf) == 0:
                print(f"      WARNING: 0 rows")
            continue
        t0 = time.time()
        try:
            odf = con.sql(oracles[name]).df()
        except Exception as ex:
            print(
                f"FAIL  {name} (spark {spark_s:.1f}s, oracle {time.time()-t0:.1f}s): "
                f"duckdb error: {ex}"
            )
            n_fail += 1
            continue
        times = f"spark {spark_s:.1f}s, oracle {time.time()-t0:.1f}s"
        problems = compare(name, sdf, odf)
        if problems:
            n_fail += 1
            print(f"FAIL  {name} ({times})")
            for p in problems[:9]:
                print(f"      {p}")
        else:
            print(f"PASS  {name} ({len(sdf)} rows, {times})")
    print(f"\n{n_fail} failures / {len(only) if only else len(qs)} checked")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
