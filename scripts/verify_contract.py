#!/usr/bin/env python
"""Drive the driver contract locally (the /verify recipe): entry() smoke
check, then every queries() entry vs its oracle_sql() in DuckDB at sf0.01
(row count + sorted-column schema + exact values, float-exact like the
driver). A query that leaves a CacheManager entry behind counts as a
mismatch ("cache left behind"): operators release their own cached
stages. Exit 0 only if every oracle-backed query matches and no query
leaves a cache.

Usage: python scripts/verify_contract.py [sf_dir]
"""

from __future__ import annotations

import importlib.util
import sys
import time
from pathlib import Path

import numpy as np

REPO = Path(__file__).resolve().parent.parent
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def main() -> int:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", str(REPO / "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    n1, n2 = mod.entry(spark).count(), mod.entry(spark).count()
    print(f"entry counts: {n1} {n2}")
    assert n1 == n2 > 0, "entry() unstable or empty"

    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    qs, osql = mod.queries(), mod.oracle_sql()
    cache_mgr = spark._jsparkSession.sharedState().cacheManager()
    bad: list[tuple[str, str]] = []
    t0 = time.time()
    for name, fn in qs.items():
        spark.catalog.clearCache()
        try:
            sdf = fn(spark, sf).toPandas()
            if not cache_mgr.isEmpty():
                bad.append((name, "cache left behind"))
            if name not in osql:
                continue
            odf = con.execute(osql[name]).df()
            if len(sdf) != len(odf):
                bad.append((name, f"rows {len(sdf)} vs {len(odf)}"))
                continue
            s = sdf[sorted(sdf.columns)].copy()
            o = odf[sorted(odf.columns)].copy()
            if list(s.columns) != list(o.columns):
                bad.append((name, f"cols {list(s.columns)} vs {list(o.columns)}"))
                continue
            s = s.sort_values(list(s.columns), ignore_index=True)
            o = o.sort_values(list(o.columns), ignore_index=True)
            for c in s.columns:
                a, b = s[c], o[c]
                if a.dtype.kind == "f" or b.dtype.kind == "f":
                    if not np.allclose(
                        a.astype(float), b.astype(float), rtol=0, atol=0,
                        equal_nan=True,
                    ):
                        bad.append((name, f"values {c}"))
                        break
                elif not (
                    a.astype(str).to_numpy() == b.astype(str).to_numpy()
                ).all():
                    bad.append((name, f"values {c}"))
                    break
        except Exception as ex:  # report, keep checking the rest
            bad.append((name, f"ERR {type(ex).__name__}: {str(ex)[:150]}"))
    print(
        f"checked {len(qs)} queries ({len(osql)} oracle-backed) "
        f"in {time.time() - t0:.0f}s; mismatches: {len(bad)}"
    )
    for n, why in bad:
        print(f"  FAIL {n}: {why}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
