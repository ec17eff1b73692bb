"""Local simulation of the driver's correctness gate: run every
__spark_entry__.queries() entry at sf0.01 and compare with oracle_sql()
via DuckDB (row count + column names + order-insensitive value hash)."""

import hashlib
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd

SF = os.environ.get("CHECK_SF_DIR", "/root/testdata/sf0.01")


def value_hash(df: pd.DataFrame) -> str:
    df = df[sorted(df.columns)]
    rows = sorted(df.astype(str).itertuples(index=False, name=None))
    return hashlib.md5(str(rows).encode()).hexdigest()


def main():
    import __spark_entry__ as E
    from lucene_7_x_9_x_spark.session import local_session

    spark = local_session(8)
    con = duckdb.connect()
    for t in ["documents", "embeddings", "region", "nation", "customer",
              "supplier", "part", "orders", "lineitem", "events"]:
        p = os.path.join(SF, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * "
                        f"FROM read_parquet('{p}')")

    print("== entry() smoke ==")
    r = E.entry(spark).toPandas()
    print(f"entry rows={len(r)}\n{r.head(3)}")

    qs, osql = E.queries(), E.oracle_sql()
    only = set(sys.argv[1:])
    if only:
        qs = {n: f for n, f in qs.items() if n in only}
    fails = []
    for name, fn in qs.items():
        t0 = time.time()
        try:
            got = fn(spark, SF).toPandas()
        except Exception as e:
            fails.append((name, f"ENGINE ERROR {e}"))
            print(f"{name:22s} ENGINE ERROR: {e}")
            continue
        if name not in osql:
            print(f"{name:22s} rows={len(got):6d}  (rows-only, no oracle) "
                  f"{time.time()-t0:5.1f}s")
            continue
        try:
            want = con.execute(osql[name]).df()
        except Exception as e:
            fails.append((name, f"ORACLE SQL ERROR {e}"))
            print(f"{name:22s} ORACLE SQL ERROR: {e}")
            continue
        ok_rows = len(got) == len(want)
        ok_cols = sorted(got.columns) == sorted(want.columns)
        ok_hash = ok_rows and ok_cols and value_hash(got) == value_hash(want)
        status = "OK" if (ok_rows and ok_cols and ok_hash) else "MISMATCH"
        if status != "OK":
            fails.append((name, f"rows {len(got)}/{len(want)} cols "
                          f"{list(got.columns)}/{list(want.columns)} "
                          f"hash={ok_hash}"))
        print(f"{name:22s} {status}  rows={len(got):6d}  "
              f"{time.time()-t0:5.1f}s")
    print(f"\n{len(qs) - len(fails)}/{len(qs)} ok; fails: {fails}")
    spark.stop()
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
