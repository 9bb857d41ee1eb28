#!/usr/bin/env python3
"""Run one workload under several seeds and report, per metric, the median
and the quartile spread as a share of the median (the stability test the
benchmark's bounds are checked against).

    python3 perfbench/spread.py --workload cube_build --seeds 1-10 --seconds 25 --out runs.jsonl

Each run's last two stdout lines (report + result) are appended to ``--out``
as one JSON object; ``--summarize FILE`` re-reads such a file without running.
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


def spread(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return {"median": med, "q1": q1, "q3": q3, "iqr_share": (q3 - q1) / med if med else None,
            "n": len(values)}


def summarize(rows: list[dict]) -> dict:
    out: dict[str, dict] = {}
    for wl in sorted({r["report"]["workload"] for r in rows}):
        mine = [r for r in rows if r["report"]["workload"] == wl]
        names = sorted({k for r in mine for k in r["result"]["metrics"]})
        out[wl] = {
            "runs": len(mine),
            "failed": sum(r["result"]["failed"] for r in mine),
            "wall_s": spread([r["wall_s"] for r in mine]),
            "metrics": {n: spread([r["result"]["metrics"][n]["value"] for r in mine
                                   if n in r["result"]["metrics"]]) for n in names},
        }
    return out


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload")
    p.add_argument("--seeds", default="1-10", help="first-last")
    p.add_argument("--seconds", type=int, default=25)
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--out", help="JSON-lines file the runs are appended to")
    p.add_argument("--summarize", help="only summarize this JSON-lines file")
    a = p.parse_args()
    if a.summarize:
        with open(a.summarize) as f:
            print(json.dumps(summarize([json.loads(x) for x in f]), indent=1))
        return 0
    lo, hi = map(int, a.seeds.split("-"))
    rows = []
    for seed in range(lo, hi + 1):
        t0 = time.perf_counter()
        r = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
             "--seed", str(seed), "--seconds", str(a.seconds), "--trace", str(a.trace)],
            capture_output=True, text=True, timeout=900,
        )
        wall = time.perf_counter() - t0
        lines = r.stdout.strip().splitlines()
        if r.returncode != 0 or len(lines) < 2:
            print(f"seed {seed}: exit {r.returncode}\n{r.stderr[-3000:]}", file=sys.stderr)
            return 1
        row = {"report": json.loads(lines[-2]), "result": json.loads(lines[-1]), "wall_s": wall}
        rows.append(row)
        if a.out:
            with open(a.out, "a") as f:
                f.write(json.dumps(row) + "\n")
        m = {k: round(v["value"], 3) for k, v in row["result"]["metrics"].items()}
        print(f"seed {seed} wall {wall:.1f}s failed {row['result']['failed']} {m}", flush=True)
    print(json.dumps(summarize(rows), indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
