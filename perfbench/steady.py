"""Steadiness check: do two sets of runs of the same code agree?

    python3 perfbench/steady.py [--workloads a,b]

Runs ``run.py`` ``RUNS`` times per workload and set, each run with its
own seed (set A uses seeds 1-10, set B seeds 11-20), and prints, per
set, each end-to-end metric's median, quartiles and spread (quartile
distance over median). It flags:

- a spread above the metric's bound (``setup_s`` exempt);
- a second-set median worse than the first by more than the bound;
- a share of failed operations that differs between sets;
- any run that is not correct or does not exit cleanly.

Then it repeats the comparison on the held-out seed ``HELD_OUT_SEED``,
which no other run uses: two sets of ``HELD_OUT_RUNS`` runs, every run
on that seed. Exits 1 when anything is flagged. Run it from the
repository root; two workloads take about an hour on a 4-core box.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from fractions import Fraction
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
RUNS = 10
FIRST_SEED = 1
HELD_OUT_SEED = 9001
HELD_OUT_RUNS = 5


def _cpu_ticks() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def one_run(workload: str, seed: int, seconds: int, trace: int = 0) -> dict:
    """One benchmark run, with its wall time and the share of the
    machine's CPU time stolen by the hypervisor while it ran (the
    weather that moves wall-clock figures between runs)."""
    ticks0 = _cpu_ticks()
    t0 = time.monotonic()
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    wall = time.monotonic() - t0
    delta = [b - a for a, b in zip(ticks0, _cpu_ticks())]
    steal = delta[7] / max(1, sum(delta)) if len(delta) > 7 else 0.0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        return {"error": f"exit {proc.returncode}: {proc.stderr.strip().splitlines()[-1:]}",
                "wall": wall, "steal": steal}
    out = json.loads(lines[-1])
    out["wall"], out["steal"] = wall, steal
    return out


def summary(values: list[float]) -> tuple[float, float, float, float]:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def run_set(workload: str, seeds: list[int], seconds: int, label: str) -> list[dict]:
    runs = []
    for s in seeds:
        r = one_run(workload, s, seconds)
        runs.append(r)
        state = r.get("error") or f"correct={r['correct']} failed={r['failed']}/{r['attempted']}"
        print(f"  {label} {workload} seed={s} {r['wall']:.0f}s steal={r['steal']:.0%} {state}", flush=True)
    return runs


def compare(workload: str, sets: list[list[dict]], bench: dict) -> list[str]:
    flags = []
    for label, runs in zip("AB", sets):
        for r in runs:
            if "error" in r or not r["correct"]:
                flags.append(f"{workload} set {label}: run {r.get('error') or 'not correct'}")
    good = [[r for r in runs if "error" not in r] for runs in sets]
    if not all(good):
        return flags
    shares = {str(Fraction(r["failed"], r["attempted"])) for runs in good for r in runs}
    if len(shares) > 1:
        flags.append(f"{workload}: failed share differs between runs: {sorted(shares)}")
    for m in bench["end_to_end"]:
        name, bound, lower = m["name"], m["bound"], m["better"] == "lower"
        meds = []
        for label, runs in zip("AB", good):
            med, q1, q3, spread = summary([r["metrics"][name]["value"] for r in runs])
            meds.append(med)
            mark = ""
            if name != "setup_s" and spread > bound:
                mark = "  <-- spread above bound"
                flags.append(f"{workload} {name} set {label}: spread {spread:.3f} > {bound}")
            print(f"  {workload:22s} {name:14s} set {label}: median {med:.4g} "
                  f"q1 {q1:.4g} q3 {q3:.4g} spread {spread:.3f} (bound {bound}){mark}")
        if len(meds) == 2:
            worse = (meds[1] - meds[0]) / meds[0] if lower else (meds[0] - meds[1]) / meds[0]
            if worse > bound:
                flags.append(f"{workload} {name}: set B median worse by {worse:.3f} > {bound}")
    return flags


def main(argv: list[str] | None = None) -> int:
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description="Two sets of benchmark runs; flag disagreement.")
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    args = ap.parse_args(argv)
    seconds = bench["run_seconds"]
    flags = []
    plans = [
        ("seeds", lambda k: list(range(FIRST_SEED + k * RUNS, FIRST_SEED + (k + 1) * RUNS))),
        (f"held-out seed {HELD_OUT_SEED}", lambda k: [HELD_OUT_SEED] * HELD_OUT_RUNS),
    ]
    for title, seeds_of in plans:
        print(f"== {title}", flush=True)
        for w in args.workloads.split(","):
            sets = [run_set(w, seeds_of(k), seconds, "AB"[k]) for k in range(2)]
            flags += compare(w, sets, bench)
    for f in flags:
        print("FLAG", f)
    print("steady" if not flags else f"{len(flags)} flag(s)")
    return 1 if flags else 0


if __name__ == "__main__":
    sys.exit(main())
