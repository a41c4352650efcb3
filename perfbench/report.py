"""Run the benchmark over workloads and seeds and print every end-to-end
metric by name with its unit, per workload: the median over seeds, the
quartile spread as a share of that median, the samples behind each run's
value, and failed/attempted operations.

    python3 perfbench/report.py                        # gated workloads, seeds 1-3
    python3 perfbench/report.py --workloads dense_dupes --seeds 1 2 3 4 5
    python3 perfbench/report.py --scaling              # report-only, see README

Each run is a separate ``run.py`` process, as the gated runs are.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, seed: int, seconds: float, trace: int = 0, extra: tuple = ()) -> tuple[dict, dict]:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace), *extra,
    ]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=1800)
    if proc.returncode != 0:
        raise RuntimeError(f"{' '.join(cmd)} failed:\n{proc.stderr[-3000:]}")
    info, result = (json.loads(line) for line in proc.stdout.strip().splitlines()[-2:])
    return info, result


def spread(values: list[float]) -> float:
    """Interquartile distance as a share of the median."""
    if len(values) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    from run import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workloads", nargs="+", choices=sorted(WORKLOADS),
                   default=[w["name"] for w in bench["workloads"]])
    p.add_argument("--seeds", nargs="+", type=int, default=[1, 2, 3])
    p.add_argument("--seconds", type=float, default=bench["run_seconds"])
    p.add_argument("--scaling", action="store_true",
                   help="crawl_batch docs/s at local[1] and local[N], and the efficiency")
    args = p.parse_args()

    if args.scaling:
        n = len(os.sched_getaffinity(0))
        dps = {}
        for cores in (1, n):
            _, r = run("crawl_batch", args.seeds[0], args.seconds, extra=("--cores", str(cores)))
            dps[cores] = r["metrics"]["docs_per_s"]["value"]
            print(f"crawl_batch local[{cores}]: {dps[cores]:.1f} docs/s")
        print(f"scaling efficiency local[1]->local[{n}]: {dps[n] / dps[1] / n:.3f}")
        return 0

    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for w in args.workloads:
        values: dict[str, list[float]] = {}
        units, samples = {}, {}
        attempted = failed = 0
        for seed in args.seeds:
            info, r = run(w, seed, args.seconds)
            attempted += r["attempted"]
            failed += r["failed"]
            for k, v in r["metrics"].items():
                values.setdefault(k, []).append(v["value"])
                units[k] = v["unit"]
                samples.setdefault(k, []).append(info["samples"][k])
            print(f"  {w} seed {seed}: correct={r['correct']} "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()),
                  flush=True)
        print(f"{w}: {len(args.seeds)} runs, failed/attempted {failed}/{attempted}")
        for k, vs in values.items():
            print(f"  {k:<12} {statistics.median(vs):>12.4f} {units[k]:<7} "
                  f"spread {spread(vs):6.2%} (bound {bounds[k]:.0%})  "
                  f"samples/run {min(samples[k])}-{max(samples[k])}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
