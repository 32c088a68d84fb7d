"""Local correctness gate — mimics the driver's DuckDB-oracle compare
(row-count + schema-width + order-insensitive value compare) so
mismatches surface before the round boundary.

The value compare itself uses ``normalize`` (string/round canon, the
historical local form), but every result FIRST passes
``driver_canon_probe`` — a faithful replay of the driver's pandas
canonicalization (``pd.DataFrame(rows).sort_values(all columns)``),
which CRASHES on unhashable cell values (lists/dicts/ndarrays) exactly
like the round-6 driver did on array-typed output columns
(``TypeError: unhashable type: 'list'`` out of ``factorize``).  Round 6
shipped 4 driver-red queries because the old ``str(v)`` canon made
lists sortable and hid the class; the probe makes the local gate fail
wherever the driver fails (VERDICT r6 item 2).

Usage: python tools/check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time
import traceback
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def driver_canon_probe(cols, rows):
    """Replay the driver's pandas canonicalization on a result set.

    The driver builds ``pd.DataFrame(rows, columns=cols)``, reorders
    columns by name, and ``sort_values`` over every column before
    hashing.  ``sort_values`` factorizes object columns, and pandas'
    ``PyObjectHashTable`` raises ``TypeError: unhashable type`` the
    moment a cell holds a list/dict/ndarray — so a query whose output
    schema contains Array/Map/Struct columns errs in the driver even
    when its values are correct.  Raising the same error HERE is the
    point: the gate must fail where the driver fails.
    """
    import pandas as pd

    df = pd.DataFrame(rows, columns=list(cols))
    df = df[sorted(df.columns)]
    if len(df):
        # sort with an appended constant column: a SINGLE-column sort
        # takes pandas' argsort path, which tolerates list cells that
        # the driver's hash step still rejects (review r7) — two sort
        # keys force the lexsort/factorize path for every column, the
        # same unhashable-cell crash surface as the driver's full
        # sort+hash canon
        probe = df.assign(__canon_probe=0)
        probe.sort_values(by=list(df.columns) + ["__canon_probe"], inplace=False)


def normalize(rows, ndigits=6):
    out = []
    for row in rows:
        r = []
        for v in row:
            if isinstance(v, float):
                if math.isnan(v):
                    r.append("NaN")
                else:
                    r.append(round(v, ndigits))
            elif hasattr(v, "isoformat"):
                r.append(str(v)[:26])
            elif v is None:
                r.append(None)
            else:
                r.append(str(v))
        out.append(tuple(r))
    return sorted(out, key=lambda t: tuple((x is None, str(x)) for x in t))


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    if os.environ.get("CHECK_VANILLA"):
        # driver-like plain session: no engine configs, so any query
        # silently depending on session.py settings fails HERE first
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[8]")
            .appName("check-vanilla")
            .config("spark.ui.showConsoleProgress", "false")
            .getOrCreate()
        )
    else:
        from clickhub_spark.session import get_spark

        spark = get_spark("check")
    n_pass, n_rowsonly, n_fail = tally(gate(spark, sf_dir, only))
    print(f"\n{n_pass} pass, {n_rowsonly} rows-only, {n_fail} fail")
    return 1 if n_fail else 0


def gate(spark, sf_dir: str, only=()) -> dict[str, str]:
    """The oracle gate: run each registered query (all, or the names in
    ``only``) through the driver contract and compare it with its
    DuckDB oracle.  Returns {name: "pass" | "rows" | "fail"} — "rows"
    for a query without an oracle that built, collected and passed the
    driver canon probe."""
    import duckdb

    import __spark_entry__ as entrymod
    from clickhub_spark.catalog import TESTDATA_TABLES

    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    results: dict[str, str] = {}
    for name, builder in sorted(qs.items()):
        if only and name not in only:
            continue
        results[name] = "fail"
        t0 = time.time()
        try:
            sdf = builder(spark, sf_dir)
            cols = sorted(sdf.columns)
            srows = [tuple(r[c] for c in cols) for r in sdf.collect()]
        except Exception:
            print(f"FAIL {name}: spark error")
            traceback.print_exc(limit=3)
            continue
        try:
            # driver-parity: the driver canonicalizes EVERY result —
            # rows-only queries included — so probe before branching
            driver_canon_probe(cols, srows)
        except Exception as e:
            print(f"FAIL {name}: driver canon would crash: {e!r:.160}")
            continue
        if name not in oracles:
            print(f"rows {name}: {len(srows)} rows (rows-only) [{time.time()-t0:.1f}s]")
            results[name] = "rows"
            continue
        try:
            rel = con.sql(oracles[name])
            raw_cols = rel.columns
            raw_rows = rel.fetchall()
        except Exception:
            print(f"FAIL {name}: duckdb error")
            traceback.print_exc(limit=3)
            continue
        order = sorted(range(len(raw_cols)), key=lambda i: raw_cols[i])
        dcols = [raw_cols[i] for i in order]
        drows = [tuple(row[i] for i in order) for row in raw_rows]
        try:
            driver_canon_probe(dcols, drows)
        except Exception as e:
            print(f"FAIL {name}: driver canon would crash on oracle: {e!r:.160}")
            continue
        if [c.lower() for c in cols] != [c.lower() for c in dcols]:
            print(f"FAIL {name}: columns spark={cols} duck={dcols}")
        elif len(srows) != len(drows):
            print(f"FAIL {name}: rowcount spark={len(srows)} duck={len(drows)}")
        else:
            ns, nd = normalize(srows), normalize(drows)
            if ns != nd:
                diffs = [(a, b) for a, b in zip(ns, nd) if a != b][:3]
                print(f"FAIL {name}: values differ, e.g. {diffs}")
            else:
                print(f"PASS {name}: {len(srows)} rows [{time.time()-t0:.1f}s]")
                results[name] = "pass"
    return results


def tally(results: dict[str, str]) -> tuple[int, int, int]:
    """(pass, rows-only, fail) counts of a :func:`gate` result."""
    values = list(results.values())
    return values.count("pass"), values.count("rows"), values.count("fail")


if __name__ == "__main__":
    sys.exit(main())
