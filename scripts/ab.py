#!/usr/bin/env python
"""A/B runner: a pinned base revision against this working tree, in pairs.

Usage (from anywhere; paths are resolved from this file):

    python scripts/ab.py --pairs 10 perfbench --workload corpus_index
    python scripts/ab.py --base HEAD~2 --pairs 5 bench \\
        --only x15_ann_lsh_topk,x75_ann_pq_topk

The base side is ``git archive <base>`` unpacked once into
``<work>/base-<sha>`` (pinned by commit; nothing is written into the
repository's .git). The change side is the working tree itself,
committed or not. Pair i runs seed ``first_seed + i`` on both sides;
even pairs run the base first, odd pairs the change first, so a drift
of the host over the session does not favour either side.

``perfbench`` runs ``perfbench/run.py --workload W --seed S --seconds T``
and reads its last stdout line; ``bench`` runs ``bench.py`` with
``SPARK_GRAFT_BENCH_ONLY``/``SPARK_GRAFT_BENCH_RUNS`` (and
``SPARK_GRAFT_SF_DIR`` when ``--sf`` is given) and reads the total and each query's
median seconds (bench.py takes no seed; its pairs are repetitions).

For every run it prints the wall and the host CPU steal over the run
(``/proc/stat``: steal ticks / all ticks, in percent). For every
metric it prints both medians, the base's inter-quartile range and the
number of pairs the change won. Directions come from BENCHMARK.json
(``better``); an unlisted metric, and every bench.py time, is
lower-is-better. ``--out FILE`` also writes every run as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import tarfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the host's aggregate cpu line."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal (guest is in user)
    return vals[7], sum(vals[:8])


def base_tree(rev: str, work: Path) -> Path:
    sha = subprocess.check_output(
        ["git", "-C", str(ROOT), "rev-parse", "--verify", f"{rev}^{{commit}}"],
        text=True,
    ).strip()
    out = work / f"base-{sha[:12]}"
    if not (out / ".complete").exists():
        out.mkdir(parents=True, exist_ok=True)
        arch = subprocess.Popen(
            ["git", "-C", str(ROOT), "archive", sha], stdout=subprocess.PIPE
        )
        with tarfile.open(fileobj=arch.stdout, mode="r|") as tar:
            tar.extractall(out, filter="data")
        if arch.wait():
            sys.exit(f"ab: git archive {sha} failed")
        (out / ".complete").write_text(sha + "\n")
    return out


def command(args, tree: Path, seed: int) -> tuple[list[str], dict[str, str]]:
    env = dict(os.environ)
    if args.kind == "perfbench":
        return [
            sys.executable, "perfbench/run.py", "--workload", args.workload,
            "--seed", str(seed), "--seconds", str(args.seconds),
        ], env
    env.update(SPARK_GRAFT_BENCH_ONLY=args.only, SPARK_GRAFT_BENCH_RUNS=str(args.runs))
    if args.sf:
        env["SPARK_GRAFT_SF_DIR"] = args.sf
    return [sys.executable, "bench.py"], env


def metrics_of(kind: str, line: str) -> dict[str, float]:
    doc = json.loads(line)
    if kind == "perfbench":
        if not doc.get("correct", False):
            raise RuntimeError(f"run not correct: {line[:300]}")
        return {k: v["value"] for k, v in doc["metrics"].items()}
    return {"total": doc["value"], **doc.get("queries", {})}


def run_one(args, side: str, tree: Path, seed: int) -> dict:
    cmd, env = command(args, tree, seed)
    steal0, total0 = cpu_ticks()
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=tree, env=env, capture_output=True, text=True)
    wall = time.perf_counter() - t0
    steal1, total1 = cpu_ticks()
    rec = {
        "side": side, "seed": seed, "wall_s": round(wall, 1),
        "steal_pct": round(100.0 * (steal1 - steal0) / max(total1 - total0, 1), 2),
    }
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    try:
        if proc.returncode or not lines:
            raise RuntimeError(f"exit {proc.returncode}: {proc.stderr[-600:]}")
        rec["metrics"] = metrics_of(args.kind, lines[-1])
    except (RuntimeError, ValueError, KeyError) as ex:
        rec["error"] = str(ex)
    print(
        f"  {side:6s} seed {seed:3d}  wall {rec['wall_s']:7.1f}s  "
        f"steal {rec['steal_pct']:5.2f}%" + (f"  ERROR {rec['error'][:200]}" if "error" in rec else ""),
        flush=True,
    )
    return rec


def directions() -> dict[str, str]:
    try:
        bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    except (OSError, ValueError):
        return {}
    return {m["name"]: m["better"] for m in bench.get("end_to_end", []) + bench.get("per_layer", [])}


def summarize(runs: list[dict], kind: str) -> None:
    better = directions() if kind == "perfbench" else {}
    pairs: dict[int, dict[str, dict]] = {}
    for r in runs:
        if "metrics" in r:
            pairs.setdefault(r["seed"], {})[r["side"]] = r["metrics"]
    done = [p for p in pairs.values() if len(p) == 2]
    names = sorted({k for p in done for k in p["base"]} & {k for p in done for k in p["change"]})
    print(f"\n{len(done)} complete pairs; medians base -> change, base IQR, change wins")
    print(f"  {'metric':34s} {'base':>12s} {'change':>12s} {'delta%':>8s} {'base IQR':>10s} {'wins':>6s}")
    for name in names:
        b = [p["base"][name] for p in done if name in p["base"] and name in p["change"]]
        c = [p["change"][name] for p in done if name in p["base"] and name in p["change"]]
        if not b:
            continue
        higher = better.get(name) == "higher"
        wins = sum((y > x) if higher else (y < x) for x, y in zip(b, c))
        mb, mc = statistics.median(b), statistics.median(c)
        q = statistics.quantiles(b, n=4) if len(b) > 1 else [b[0]] * 3
        delta = 100.0 * (mc - mb) / mb if mb else float("nan")
        print(f"  {name:34s} {mb:12.4f} {mc:12.4f} {delta:8.1f} {q[2] - q[0]:10.4f} {wins:3d}/{len(b)}")
    steal = [r["steal_pct"] for r in runs]
    print(f"  host steal per run: median {statistics.median(steal):.2f}%, max {max(steal):.2f}%")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--base", default="HEAD", help="base revision (default HEAD)")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--work", default=os.path.join(os.environ.get("TMPDIR", "/tmp"), "ab-runner"))
    ap.add_argument("--out", help="write every run as JSON here")
    sub = ap.add_subparsers(dest="kind", required=True)
    pb = sub.add_parser("perfbench")
    pb.add_argument("--workload", required=True)
    pb.add_argument("--seconds", type=int, default=5)
    bb = sub.add_parser("bench")
    bb.add_argument("--only", required=True, help="comma-separated query names")
    bb.add_argument("--sf", help="scale-factor directory (default: bench.py's)")
    bb.add_argument("--runs", type=int, default=3)
    args = ap.parse_args(argv)

    sides = {"base": base_tree(args.base, Path(args.work)), "change": ROOT}
    print(f"ab: base {sides['base']} vs change {ROOT}, {args.pairs} pairs, {args.kind}", flush=True)
    runs = []
    for i in range(args.pairs):
        seed = args.first_seed + i
        order = ("base", "change") if i % 2 == 0 else ("change", "base")
        for side in order:
            runs.append(run_one(args, side, sides[side], seed))
        if args.out:
            Path(args.out).write_text(json.dumps(runs, indent=1))
    summarize(runs, args.kind)
    return 0 if all("metrics" in r for r in runs) else 1


if __name__ == "__main__":
    sys.exit(main())
