#!/usr/bin/env python
"""Capture `.explain("formatted")` for every bench headline query into
plans/<tag>/<query>_<suffix>.txt.

Usage: python scripts/capture_plans.py <tag> [suffix] [name,name,...]
e.g.   python scripts/capture_plans.py before-change before
       python scripts/capture_plans.py before-change after x99_corpus_prep

The tag is required: it names the output directory, so two captures
never overwrite each other by default. The suffix defaults to "before".

Runs at $SPARK_GRAFT_SF_DIR (default sf0.1) on local[$SPARK_GRAFT_CPUS]
with the same session the bench uses, so the captured plans are the
benched plans. Building a query's DataFrame may trigger its lazy per-
sf_dir artifact builds (IVF index, incremental state) — that is the
same warm-up the bench pays, and pre-building here makes later bench
runs' warm-ups cheap.
"""

from __future__ import annotations

import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))


def main() -> int:
    if len(sys.argv) < 2:
        print(__doc__, file=sys.stderr)
        return 2
    tag = sys.argv[1]
    suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
    only = set(sys.argv[3].split(",")) if len(sys.argv) > 3 else None
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    import bench
    from azure_serverless_etl_pipeline_spark.deploy import ship_package
    from azure_serverless_etl_pipeline_spark.plans import all_queries
    from azure_serverless_etl_pipeline_spark.session import get_spark

    spark = get_spark(app_name=f"capture_plans_{tag}_{suffix}")
    ship_package(spark)
    queries = all_queries()
    names = [n for n in bench.HEADLINE if only is None or n in only]

    out_dir = REPO / "plans" / tag
    out_dir.mkdir(parents=True, exist_ok=True)
    t0 = time.time()
    failed = []
    for name in names:
        try:
            spark.sparkContext.setJobDescription(f"plan:{name}")
            df = queries[name](spark, sf_dir)
            import contextlib
            import io

            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            (out_dir / f"{name}_{suffix}.txt").write_text(buf.getvalue())
        except Exception as ex:  # keep capturing the rest
            failed.append(name)
            print(f"FAIL {name}: {type(ex).__name__}: {str(ex)[:200]}")
        finally:
            spark.catalog.clearCache()
    print(
        f"captured {len(names) - len(failed)}/{len(names)} plans "
        f"-> {out_dir} in {time.time() - t0:.0f}s"
    )
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
