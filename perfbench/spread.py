"""Run the benchmark over several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload serve_warm --seeds 1-10 [--out FILE]

For every end-to-end metric: the median of its values and the distance
between their first and third quartiles (statistics.quantiles, n=4) as a
share of the median, next to the metric's bound from BENCHMARK.json.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        conf = json.load(fh)
    runs = []
    for s in seeds(a.seeds):
        t0 = time.perf_counter()
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
             "--seed", str(s), "--seconds", str(conf["run_seconds"]), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True, timeout=600)
        wall = time.perf_counter() - t0
        if p.returncode != 0:
            print(f"seed {s}: exit {p.returncode}\n{p.stderr[-2000:]}", file=sys.stderr)
            return 1
        res = json.loads(p.stdout.strip().splitlines()[-1])
        runs.append({"seed": s, "wall_s": wall, **res})
        print(f"seed {s}: {wall:.0f} s correct={res['correct']} "
              f"failed={res['failed']}/{res['attempted']}", flush=True)
    if a.out:
        with open(a.out, "w") as fh:
            json.dump(runs, fh)
    ok = all(r["correct"] for r in runs)
    for m in conf["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in runs]
        med = statistics.median(vals)
        q = statistics.quantiles(vals, n=4)
        spread = (q[2] - q[0]) / med
        flag = "" if spread <= m["bound"] / 3 else (" WIDE" if spread > m["bound"] else " >1/3")
        print(f"{m['name']:20s} median {med:12.4f} spread {spread:6.3f} "
              f"bound {m['bound']}{flag}")
    print(f"mean wall {statistics.fmean(r['wall_s'] for r in runs):.1f} s")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
