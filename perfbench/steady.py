"""Steadiness check: run each workload on several seeds and print, for each
end-to-end metric, the spread of its values against its bound.

    python3 perfbench/steady.py                          # 10 seeds, every workload
    python3 perfbench/steady.py --runs 5 --workloads dashboard_serve
    python3 perfbench/steady.py --against .perfbench_work/steady-A.json

Run it from the root of the repository. The spread is the distance between
the first and third quartile (``statistics.quantiles(values, n=4)``) as a
share of the median. A metric is steady when its spread is at most a third
of its bound. ``setup_s`` is exempt from the spread test, as in the
acceptance rule: it is one cold set-up per run; only its median is
compared. ``--against``
compares this set's medians with an earlier set's: each may be worse by at
most its bound. ``--trace`` adds one traced run per workload and reports
the tracing overhead on the op latency. Results are saved as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_once(bench: dict, workload: str, seed: int, trace: int) -> tuple[dict, float]:
    cmd = [sys.executable if bench["command"][0] == "python3" else bench["command"][0],
           *bench["command"][1:], "--workload", workload, "--seed", str(seed),
           "--seconds", str(bench["run_seconds"]), "--trace", str(trace)]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=180)
    wall = time.perf_counter() - t0
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed}: exit {proc.returncode}")
    return json.loads(proc.stdout.strip().splitlines()[-1]), wall


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def worse_by(new: float, old: float, better: str) -> float:
    """How much worse ``new`` is than ``old``, as a share of ``old``."""
    return (new - old) / old if better == "lower" else (old - new) / old


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--workloads", help="comma-separated; default: all in BENCHMARK.json")
    ap.add_argument("--trace", action="store_true")
    ap.add_argument("--against", help="an earlier saved set to compare medians with")
    ap.add_argument("--out", help="where to save this set (default under .perfbench_work)")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = args.workloads.split(",") if args.workloads else [w["name"] for w in bench["workloads"]]
    saved = {}
    for w in names:
        values: dict[str, list[float]] = {}
        walls, bad = [], 0
        for i in range(args.runs):
            res, wall = run_once(bench, w, args.seed0 + i, 0)
            walls.append(wall)
            bad += 0 if res["correct"] else 1
            for k, m in res["metrics"].items():
                values.setdefault(k, []).append(m["value"])
            print(f"  seed {args.seed0 + i}: wall {wall:.1f} s, correct {res['correct']}, "
                  + ", ".join(f"{k} {m['value']:.4g}" for k, m in res["metrics"].items()),
                  flush=True)
        saved[w] = {"values": values, "walls": walls, "incorrect": bad}
        print(f"== {w}: {args.runs} runs, wall median {statistics.median(walls):.1f} s "
              f"max {max(walls):.1f} s, incorrect runs {bad}")
        for m in bench["end_to_end"]:
            v = values[m["name"]]
            s = spread(v)
            verdict = ("exempt" if m["name"] == "setup_s"
                       else "steady" if s <= m["bound"] / 3 else "within bound" if s <= m["bound"]
                       else "TOO NOISY")
            print(f"  {m['name']:<16} median {statistics.median(v):12.4f} {m['unit']:<6} "
                  f"spread {s:7.2%}  bound {m['bound']:.0%}  {verdict}")
        if args.trace:
            res, wall = run_once(bench, w, args.seed0, 1)
            traced = res["metrics"]["trace.op_ms_p50"]["value"]
            untraced = statistics.median(values["op_ms_p50"])
            saved[w]["trace"] = res["metrics"]
            print(f"  tracing overhead on op_ms_p50: {traced - untraced:+.1f} ms "
                  f"({(traced - untraced) / untraced:+.1%}); traced run wall {wall:.1f} s")

    if args.against:
        with open(args.against) as f:
            old = json.load(f)
        print("== medians against", args.against)
        for w in names:
            for m in bench["end_to_end"]:
                a = statistics.median(old[w]["values"][m["name"]])
                b = statistics.median(saved[w]["values"][m["name"]])
                d = worse_by(b, a, m["better"])
                print(f"  {w:<16} {m['name']:<16} {a:12.4f} -> {b:12.4f}  worse by {d:+7.2%}  "
                      f"{'ok' if d <= m['bound'] else 'OUT OF BOUND'}")

    out = args.out or os.path.join(ROOT, ".perfbench_work", f"steady-{int(time.time())}.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as f:
        json.dump(saved, f)
    print("saved", out)


if __name__ == "__main__":
    main()
