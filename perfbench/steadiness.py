#!/usr/bin/env python3
"""Steadiness report: run the benchmark repeatedly and compare each
metric's spread with its bound from ``BENCHMARK.json``.

    python3 perfbench/steadiness.py --seeds 1-10 [--workloads a,b]
        [--trace 0] [--out runs.json] [--against earlier.json]

Run from the root of a checkout. Each (workload, seed) pair is one run of
the benchmark command, one after another. For every end-to-end metric it
prints the median, the first and third quartiles
(``statistics.quantiles(values, n=4)``), the spread ``(q3 - q1) / median``
and the metric's bound; a spread above the bound fails, one above a third
of it is flagged. The spread of ``setup_s`` is printed but, as in the
regression check this report mirrors, not gated; its drift is. With
``--against`` it also checks that no median is worse than the earlier
file's by more than the bound. Exits 1 if any check fails.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time


def seeds(spec: str) -> list[int]:
    out: list[int] = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def run_once(bench: dict, workload: str, seed: int, trace: int) -> dict:
    cmd = bench["command"] + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(bench["run_seconds"]), "--trace", str(trace),
    ]
    t0 = time.monotonic()
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
    wall = time.monotonic() - t0
    if proc.returncode != 0 or not proc.stdout.strip():
        sys.stderr.write(proc.stderr[-2000:])
        raise SystemExit(f"{workload} seed {seed}: exit {proc.returncode}")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    result["wall_s"] = wall
    for line in proc.stderr.splitlines():
        if line.startswith("perfbench report: "):
            result["report"] = json.loads(line.split(": ", 1)[1])
    return result


def summarize(values: list[float]) -> tuple[float, float, float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def worse(new: float, old: float, better: str) -> float:
    """How much worse ``new`` is than ``old``, as a share of ``old``."""
    return (new - old) / old if better == "lower" else (old - new) / old


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--workloads", default="")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--out", default="")
    p.add_argument("--against", default="")
    args = p.parse_args(argv)

    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    names = args.workloads.split(",") if args.workloads else [w["name"] for w in bench["workloads"]]
    spec = {m["name"]: m for m in bench["per_layer" if args.trace else "end_to_end"]}

    runs: dict[str, list[dict]] = {}
    for w in names:
        for s in seeds(args.seeds):
            r = run_once(bench, w, s, args.trace)
            runs.setdefault(w, []).append(r)
            print(f"{w} seed {s}: correct={r['correct']} failed={r['failed']}/"
                  f"{r['attempted']} wall={r['wall_s']:.1f}s", file=sys.stderr)
            if args.out:  # after every run, so a long sweep can be inspected
                with open(args.out, "w") as f:
                    json.dump(runs, f)
    earlier = {}
    if args.against:
        with open(args.against) as f:
            earlier = json.load(f)

    ok = True
    print(f"{'workload':<18}{'metric':<30}{'median':>12}{'q1':>12}{'q3':>12}"
          f"{'spread':>9}{'bound':>7}  verdict")
    for w, rs in runs.items():
        ok &= all(r["correct"] for r in rs)
        for name, m in spec.items():
            vals = [r["metrics"][name]["value"] for r in rs]
            if len(vals) < 2:
                continue
            med, q1, q3, spread = summarize(vals)
            bound = m.get("bound")
            verdict = ""
            if bound is not None:
                if name == "setup_s":
                    verdict = "spread not gated"
                elif spread > bound:
                    verdict, ok = "FAIL spread", False
                elif spread > bound / 3:
                    verdict = "over a third of bound"
                else:
                    verdict = "ok"
                if w in earlier:
                    old = statistics.median(r["metrics"][name]["value"] for r in earlier[w])
                    d = worse(med, old, m["better"])
                    verdict += f"; vs earlier {d:+.3f}"
                    if d > bound:
                        verdict, ok = verdict + " FAIL drift", False
            print(f"{w:<18}{name:<30}{med:>12.5g}{q1:>12.5g}{q3:>12.5g}"
                  f"{spread:>9.3f}{bound if bound is not None else '':>7}  {verdict}")
        walls = [r["wall_s"] for r in rs]
        print(f"{w:<18}{'(run wall s)':<30}{statistics.median(walls):>12.4g}"
              f"{min(walls):>12.4g}{max(walls):>12.4g}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
