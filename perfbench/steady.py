"""Run one workload on several seeds and report how steady each metric is.

    python3 perfbench/steady.py --workload ingest_write --runs 10
    python3 perfbench/steady.py --workload stream_mixed --runs 5 --with-trace

For every end-to-end metric it prints the median, the first and third
quartiles (``statistics.quantiles(values, n=4)``), the spread (quartile
distance over the median) and the metric's bound from ``BENCHMARK.json``.
A spread under a third of the bound is marked ``steady``.  With
``--with-trace`` every seed also runs traced, and the tracing overhead is
the traced runs' median ``op_p50_s`` over the untraced runs', minus one.
Raw results go to ``perfbench/out/steady-<workload>[-<tag>].json``.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def run_once(workload: str, seed: int, seconds: float, trace: int) -> dict:
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        raise RuntimeError(f"{' '.join(cmd)} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    env = next(json.loads(x.split(" ", 1)[1]) for x in lines if x.startswith("environment "))
    result["canary_vs_idle"] = env["canary_vs_idle"]
    result["printed"] = {name: float(value.split()[0]) for name, value in
                         (x.split(" = ", 1) for x in lines if " = " in x)}
    result["wall_s"] = time.perf_counter() - t
    return result


def spread(values: list[float]) -> tuple[float, float, float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def main(argv=None) -> int:
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=bench["run_seconds"])
    ap.add_argument("--with-trace", action="store_true")
    ap.add_argument("--tag", default="", help="suffix of the raw results file")
    args = ap.parse_args(argv)

    runs, traced = [], []
    for seed in range(args.first_seed, args.first_seed + args.runs):
        runs.append(run_once(args.workload, seed, args.seconds, 0))
        line = {k: round(v["value"], 4) for k, v in runs[-1]["metrics"].items()}
        print(f"seed {seed}: correct={runs[-1]['correct']} wall={runs[-1]['wall_s']:.1f}s "
              f"canary={runs[-1]['canary_vs_idle']} {line}", flush=True)
        if args.with_trace:
            traced.append(run_once(args.workload, seed, args.seconds, 1))

    print(f"\n{args.workload}: {args.runs} runs of {args.seconds:g} s")
    print(f"{'metric':<14}{'median':>12}{'q1':>12}{'q3':>12}{'spread':>9}{'bound':>7}")
    for m in bench["end_to_end"]:
        values = [r["metrics"][m["name"]]["value"] for r in runs]
        med, q1, q3, s = spread(values)
        verdict = "steady" if s < m["bound"] / 3 else "within" if s <= m["bound"] else "WIDE"
        print(f"{m['name']:<14}{med:>12.4f}{q1:>12.4f}{q3:>12.4f}{s:>9.3f}{m['bound']:>7}"
              f"  {verdict}")
    print(f"all correct: {all(r['correct'] for r in runs + traced)}; "
          f"median run wall time {statistics.median(r['wall_s'] for r in runs):.1f} s")
    if traced:
        plain = statistics.median(r["metrics"]["op_p50_s"]["value"] for r in runs)
        with_spans = statistics.median(r["metrics"]["traced_op_p50_s"]["value"] for r in traced)
        print(f"tracing overhead on op_p50_s: {with_spans / plain - 1:+.1%}")
    out = HERE / "out" / f"steady-{args.workload}{'-' + args.tag if args.tag else ''}.json"
    out.parent.mkdir(exist_ok=True)
    out.write_text(json.dumps({"runs": runs, "traced": traced}, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
