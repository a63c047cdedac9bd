"""Local replica of the driver's correctness gate: run each __spark_entry__
query under Spark AND its oracle SQL under DuckDB at sf0.01, compare
row-count + column set + order-insensitive values.

Usage: python tools/check_contract.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import duckdb  # noqa: E402
import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from transcriptpipe.session import get_spark  # noqa: E402

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm_cell(v):
    # Type-tagged normalization: the driver hashes values as materialized, so
    # an int-vs-float mismatch (e.g. DuckDB HUGEINT sum -> float64) must FAIL
    # here too, even when numerically equal (ADVICE r01).
    if isinstance(v, (bool, np.bool_)):
        return ("b", str(bool(v)))
    if isinstance(v, (float, np.floating)):
        if math.isnan(v):
            return ("f", "nan")
        return ("f", f"{float(v):.6g}")
    if isinstance(v, (int, np.integer)):
        return ("i", str(int(v)))
    if isinstance(v, pd.Timestamp):
        return ("t", v.isoformat())
    return ("s", str(v))


def frame_key(df: pd.DataFrame) -> list[tuple]:
    cols = sorted(df.columns)
    rows = [tuple(norm_cell(v) for v in row) for row in df[cols].itertuples(index=False)]
    return sorted(rows)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark(app_name="check-contract", cpus=8)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            got = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {e}")
            failures += 1
            continue
        if name not in oracles:
            print(f"ROWS-ONLY {name}: {len(got)} rows, cols={sorted(got.columns)}")
            if len(got) == 0:
                print(f"  WARN {name}: zero rows")
            continue
        try:
            want = con.sql(oracles[name]).df()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {e}")
            failures += 1
            continue
        problems = []
        if len(got) != len(want):
            problems.append(f"rowcount {len(got)} != {len(want)}")
        if sorted(got.columns) != sorted(want.columns):
            problems.append(f"cols {sorted(got.columns)} != {sorted(want.columns)}")
        if not problems:
            gk, wk = frame_key(got), frame_key(want)
            if gk != wk:
                diffs = [(g, w) for g, w in zip(gk, wk) if g != w][:3]
                problems.append(f"values differ, first diffs: {diffs}")
        if problems:
            failures += 1
            print(f"FAIL {name}: {'; '.join(problems)}")
        else:
            print(f"OK   {name}: {len(got)} rows")
    print(f"\n{'ALL OK' if failures == 0 else f'{failures} FAILURES'}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
