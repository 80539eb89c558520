"""Steadiness check: run sets of seeded benchmark runs of the same code and
report, per end-to-end metric, the median, quartiles, the quartile spread
as a share of the median, and whether it stays within the metric's bound.
With two or more sets it also reports whether each set's median is within
the bound of the first set's median in the metric's worse direction.

    python3 perfbench/steady.py --workload interactive_mixed --seeds 10 --sets 2

Run from the repository root. Each run is a separate process, exactly as
``BENCHMARK.json``'s command; results are appended as JSON lines to
``--out`` (default ``.benchwork/steady.jsonl``) so a long check can be
inspected while it runs.
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


def spread(values: list[float]) -> tuple[float, float, float, float]:
    """(median, q1, q3, (q3 - q1) / median) from ``statistics.quantiles``."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def worse_by(first: float, second: float, better: str) -> float:
    """How much worse ``second`` is than ``first``, as a share of ``first``."""
    if not first:
        return 0.0
    change = (second - first) / first
    return change if better == "lower" else -change


def summarize(sets: list[list[dict]], spec: list[dict]) -> list[dict]:
    rows = []
    for m in spec:
        name, bound = m["name"], m["bound"]
        per_set = [[r["metrics"][name]["value"] for r in runs] for runs in sets]
        stats = [spread(v) for v in per_set if len(v) >= 2]
        row = {"metric": name, "bound": bound,
               "sets": [{"median": s[0], "q1": s[1], "q3": s[2], "spread": s[3]}
                        for s in stats]}
        row["spread_ok"] = all(s[3] <= bound for s in stats)
        row["agree_ok"] = all(worse_by(stats[0][0], s[0], m["better"]) <= bound
                              for s in stats[1:])
        rows.append(row)
    return rows


def run_once(workload: str, seed: int, seconds: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    if out.returncode != 0:
        raise RuntimeError(f"{cmd} exited {out.returncode}: {out.stderr[-2000:]}")
    res = json.loads(out.stdout.strip().splitlines()[-1])
    for line in out.stderr.splitlines():
        if line.startswith('{"perfbench_env"'):
            res.update(json.loads(line))
    return res


def main(argv: list[str] | None = None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", action="append",
                    help="repeatable; default: every workload in BENCHMARK.json")
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--out", default=os.path.join(ROOT, ".benchwork", "steady.jsonl"))
    args = ap.parse_args(argv)
    workloads = args.workload or [w["name"] for w in bench["workloads"]]
    os.makedirs(os.path.dirname(args.out), exist_ok=True)

    ok = True
    for wl in workloads:
        sets: list[list[dict]] = []
        for s in range(args.sets):
            runs = []
            for i in range(args.seeds):
                seed = args.first_seed + s * args.seeds + i
                res = run_once(wl, seed, args.seconds)
                with open(args.out, "a") as fh:
                    fh.write(json.dumps({"workload": wl, "set": s, "seed": seed,
                                         **res}) + "\n")
                if not res["correct"]:
                    print(f"{wl} seed {seed}: {res['failed']} of "
                          f"{res['attempted']} operations failed", file=sys.stderr)
                    ok = False
                runs.append(res)
            sets.append(runs)
        for row in summarize(sets, bench["end_to_end"]):
            ok &= row["spread_ok"] and row["agree_ok"]
            meds = " ".join(f"{s['median']:.4g}[{s['spread']:.1%}]" for s in row["sets"])
            print(f"{wl:20s} {row['metric']:18s} bound {row['bound']:.0%}  "
                  f"median[spread] {meds}  spread_ok={row['spread_ok']} "
                  f"agree_ok={row['agree_ok']}")
            with open(args.out, "a") as fh:
                fh.write(json.dumps({"workload": wl, "summary": row}) + "\n")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
