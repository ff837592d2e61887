"""Local mirror of the driver's correctness gate.

Runs every __spark_entry__.queries() entry on Spark AND its oracle_sql() on
DuckDB at a given sf dir, then compares row count, column names, and an
order-insensitive value hash (columns sorted by name, rows sorted).

Usage: python tools/check_oracle.py [sf_dir] [query_name | family_prefix* ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time
from fnmatch import fnmatchcase

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from diepy_spark.session import get_spark
from diepy_spark.sources.registry import TABLES


def _norm_cell(v) -> str:
    if v is None or v != v:  # None / NaN
        return ""
    if isinstance(v, float):
        # DRIVER-STRICT: never collapse integral floats to ints. The driver's
        # fingerprint distinguishes bigint 1000 from float64 1000.0 (this is
        # exactly how r41 passed locally but hash-failed at the driver in r2);
        # keeping the dtype visible means local green == driver green.
        return repr(round(v, 9))
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, bool):
        return "1" if v else "0"
    return str(v)


def frame_fingerprint(df: pd.DataFrame) -> tuple[int, list[str], str]:
    cols = sorted(df.columns)
    df = df[cols]
    rows = sorted(
        "\x1f".join(_norm_cell(v) for v in row) for row in df.itertuples(index=False, name=None)
    )
    h = hashlib.sha256("\n".join(rows).encode("utf-8")).hexdigest()[:16]
    return len(df), cols, h


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()

    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    spark = get_spark("oracle-check")

    ok = fail = 0
    for name, fn in queries.items():
        if only and not any(fnmatchcase(name, pat) for pat in only):
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            fail += 1
            continue
        if name not in oracles:
            print(f"  ok {name}: rows-only check, {len(sdf)} rows ({time.time()-t0:.1f}s)")
            ok += 1
            continue
        try:
            odf = con.execute(oracles[name]).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            fail += 1
            continue
        sn, sc, sh = frame_fingerprint(sdf)
        on_, oc, oh = frame_fingerprint(odf)
        if (sn, sc, sh) == (on_, oc, oh):
            print(f"  ok {name}: rows={sn} hash={sh} ({time.time()-t0:.1f}s)")
            ok += 1
        else:
            print(f"FAIL {name}: spark(rows={sn},cols={sc},hash={sh}) vs oracle(rows={on_},cols={oc},hash={oh})")
            if sn == on_ and sc == oc:
                merged = sdf[sorted(sdf.columns)].copy()
                print("  spark head:\n", merged.head(3).to_string())
                print("  oracle head:\n", odf[sorted(odf.columns)].head(3).to_string())
                print("  spark dtypes:", dict(sdf.dtypes.astype(str)))
                print("  oracle dtypes:", dict(odf.dtypes.astype(str)))
            fail += 1

    print(f"\n{ok} ok, {fail} fail")
    return 1 if fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
