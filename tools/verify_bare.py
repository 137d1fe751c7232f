"""Driver-fidelity correctness gate: BARE SparkSession.

tools/verify_local.py runs the gate under the engine's tuned session
(UTC pin, AQE, Arrow, broadcast threshold).  The grading driver does
NOT — it hands queries a plain ``SparkSession.builder.master(...)``
session with Spark 4 defaults (ANSI on, local timezone, default
broadcast threshold).  A query that leans on any tuned conf passes
locally and fails the driver.  This script replicates the driver's
environment: it builds the bare session FIRST (so no engine conf is
ever applied) and then runs the same exact-compare as verify_local.

Usage: python tools/verify_bare.py [sf_dir] [query ...]
"""

from __future__ import annotations

import pathlib
import sys
import time

# this checkout's root, wherever the script is run from
sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))

from tools.verify_local import dtype_kind_mismatch, normalize, values_equal  # noqa: E402


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    # Bare session first — before any engine import can tune it.
    from pyspark.sql import SparkSession

    spark = SparkSession.builder.master("local[8]").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    import duckdb

    from __spark_entry__ import oracle_sql, queries
    from palegislature_spark.catalog import STAR_TABLES

    con = duckdb.connect()
    for t in STAR_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs, oracles = queries(), oracle_sql()
    failures = []
    n_checked = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        n_checked += 1
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: spark error: {type(e).__name__}: {e}")
            continue
        if name not in oracles:
            print(f"ok    {name}: rows-only ({len(s_rows)} rows) [{time.time()-t0:.1f}s]")
            continue
        try:
            res = con.execute(oracles[name])
            d_cols = [d[0] for d in res.description]
            d_rows = res.fetchall()
            d_pdf = con.execute(oracles[name]).df()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: duckdb error: {type(e).__name__}: {e}")
            continue

        dt_bad = dtype_kind_mismatch(sdf, d_pdf)
        if dt_bad:
            failures.append(name)
            print(f"FAIL  {name}: driver-lens dtype mismatch: {'; '.join(dt_bad)}")
            continue

        sc, sr = normalize(s_rows, s_cols)
        dc, dr = normalize(d_rows, d_cols)
        if sc != dc:
            failures.append(name)
            print(f"FAIL  {name}: columns spark={sc} duckdb={dc}")
            continue
        if len(sr) != len(dr):
            failures.append(name)
            print(f"FAIL  {name}: rows spark={len(sr)} duckdb={len(dr)}")
            continue
        bad = None
        for i, (a, b) in enumerate(zip(sr, dr)):
            if not all(values_equal(x, y) for x, y in zip(a, b)):
                bad = (i, a, b)
                break
        if bad:
            failures.append(name)
            print(
                f"FAIL  {name}: value mismatch at sorted row {bad[0]}:\n"
                f"  spark={bad[1]}\n  duck ={bad[2]}"
            )
            continue
        print(f"ok    {name}: {len(sr)} rows match [{time.time()-t0:.1f}s]")

    print(f"\n{n_checked - len(failures)}/{n_checked} checked queries pass (bare session)")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
