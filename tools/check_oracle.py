"""Local mimic of the driver's correctness gate: run each queries() entry on
Spark at sf0.01 and its oracle_sql() on DuckDB, compare row count, column
names, and an order-insensitive value hash.

Usage: python tools/check_oracle.py [names...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def canon(df: pd.DataFrame) -> tuple[int, list[str], str]:
    cols = sorted(df.columns)
    d = df[cols].copy()
    for c in cols:
        s = d[c]
        if pd.api.types.is_float_dtype(s):
            d[c] = s.round(6)
        elif pd.api.types.is_datetime64_any_dtype(s):
            d[c] = pd.to_datetime(s).dt.strftime("%Y-%m-%d %H:%M:%S")
        elif s.dtype == object:
            d[c] = s.map(lambda v: str(v) if v is not None else "")
    rows = sorted(d.astype(str).itertuples(index=False, name=None))
    h = hashlib.sha256(repr(rows).encode()).hexdigest()[:16]
    return len(df), cols, h


def main(sf_dir: str = "/root/testdata/sf0.01", names: list[str] | None = None) -> int:
    from copernicusdata_jl_spark.queries import REGISTRY
    from copernicusdata_jl_spark.session import get_spark

    spark = get_spark(app_name="oracle-check", master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    failures = 0
    todo = names or list(REGISTRY)
    for name in todo:
        q = REGISTRY[name]
        try:
            sdf = q.plan(spark, sf_dir).toPandas()
            odf = con.execute(q.oracle).fetchdf()
            sn, sc, sh = canon(sdf)
            on, oc, oh = canon(odf)
            ok = (sn, sc, sh) == (on, oc, oh)
            status = "OK " if ok else "FAIL"
            print(f"{name:24s} {status} rows {sn}/{on}  hash {sh}/{oh}  cols_match={sc == oc}")
            if not ok:
                failures += 1
                if sc != oc:
                    print(f"   spark cols: {sc}\n   oracle cols: {oc}")
                if sn == on and sc == oc:
                    # show first differing rows
                    a = sdf[sorted(sdf.columns)].astype(str).sort_values(sorted(sdf.columns)).reset_index(drop=True)
                    b = odf[sorted(odf.columns)].astype(str).sort_values(sorted(odf.columns)).reset_index(drop=True)
                    neq = (a != b).any(axis=1)
                    if neq.any():
                        i = neq.idxmax()
                        print(f"   first diff row {i}:\n   spark:  {a.iloc[i].to_dict()}\n   oracle: {b.iloc[i].to_dict()}")
        except Exception:
            failures += 1
            print(f"{name:24s} ERROR")
            traceback.print_exc()
    spark.stop()
    print(f"\n{len(todo) - failures}/{len(todo)} queries match")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main(names=sys.argv[1:] or None))
