"""perfbench: end-to-end and per-layer benchmark of the engine.

Usage, from the repository root:

    python3 perfbench/run.py --workload api_dashboard --seed 1 --seconds 5 --trace 0

Runs one workload (see ``workloads.py``) in this process, checks its
outputs, prints a human-readable report on stderr and, as the last line
of stdout, one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``. ``--trace 0`` reports the end-to-end metrics; ``--trace 1``
times a reference operation untraced, then runs the workload under the
Spark event log and reports its per-layer metrics plus the tracing
overhead. The
metric names, units and directions are listed in ``BENCHMARK.json``; the
layer each per-layer metric belongs to, and the end-to-end metric it
should move, are in ``perfbench/README.md``.

The environment is pinned here, not inherited: ``SPARK_GRAFT_CPUS`` is the
number of usable cores, ``SPARK_DRIVER_MEMORY`` a quarter of physical
memory capped at 4 GiB, and every Spark, temporary and state directory
lives under ``.perfbench_work/`` in the repository root, removed at exit.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import subprocess
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PKG = "azure_serverless_etl_pipeline_spark"

E2E = {
    "setup_s": "s",
    "p50_ms": "ms",
    "throughput_per_s": "1/s",
}


def pin_environment(work: Path) -> dict[str, str]:
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        total_mb = int(fh.readline().split()[1]) // 1024
    pinned = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": f"{min(4096, total_mb // 4)}m",
        "SPARK_LOCAL_DIRS": str(work / "local"),
        "TMPDIR": str(work / "tmp"),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    }
    for key in ("SPARK_LOCAL_DIRS", "TMPDIR"):
        os.makedirs(pinned[key], exist_ok=True)
    os.environ.update(pinned)
    os.environ.pop("SPARK_MASTER", None)
    return pinned


def stop_jvm() -> None:
    """Stop the py4j gateway's JVM and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def report(workload: str, pinned: dict, e2e: dict, layer: dict, wl) -> None:
    err = sys.stderr
    print(f"perfbench {workload}: env " + " ".join(f"{k}={v}" for k, v in pinned.items()), file=err)
    print(f"  attempted={wl.attempted} failed={wl.failed}", file=err)
    for name, val in {**e2e, **layer}.items():
        print(f"  {name:32s} {val:14.4f}", file=err)
    for what in wl.failures[:20]:
        print(f"  FAILED: {what}", file=err)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="perfbench: one workload, one JSON line")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / PKG / "__init__.py").is_file():
        print(f"perfbench: package {PKG}/ not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; have {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    pinned = pin_environment(work)
    wl = WORKLOADS[args.workload](args.seed, args.seconds, str(work))
    t0 = time.perf_counter()
    try:
        e2e, layer = wl.run(trace=bool(args.trace))
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        try:
            wl.stop_session()
            stop_jvm()
        finally:
            shutil.rmtree(work, ignore_errors=True)
            with contextlib.suppress(OSError):
                work.parent.rmdir()  # only when no other run is using it
    layer["error_rate"] = wl.failed / max(wl.attempted, 1)
    report(args.workload, pinned, e2e, layer, wl)
    print(f"  run wall {time.perf_counter() - t0:.1f}s", file=sys.stderr)

    if args.trace:
        from harness import PER_LAYER

        metrics = {k: {"value": float(layer.get(k, 0.0)), "unit": u} for k, u, _b in PER_LAYER}
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in E2E.items()}
    print(json.dumps({
        "correct": wl.failed == 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
