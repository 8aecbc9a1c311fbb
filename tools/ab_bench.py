"""Interleaved A/B bench probe — the falsifiable-measurement harness
the r10 verdict asked to promote out of ad-hoc use (item 6).

The shared VM's run-to-run weather is ±50% on identical code, so a
single before/after bench delta proves nothing for sub-second queries.
This tool alternates the SAME subset bench between the committed HEAD
state (A, via ``git stash``) and the working tree (B, your candidate
change), A B A B ..., n pairs, in fresh subprocesses (cold JVMs, the
driver's own regime), and reports per-query medians. Alternation
cancels slow machine drift; medians resist single-run spikes.

Usage:
    python tools/ab_bench.py name1,name2 [-n 3] [--sf /root/testdata/sf0.1]

Requires uncommitted changes (otherwise there is nothing to A/B).
Restores the working tree (stash pop) even on error/interrupt; if the
pop itself fails, prints the stash ref and exits before any B run.
Fails at the first run whose results miss a requested name.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _git(*args: str) -> str:
    return subprocess.run(
        ["git", "-C", REPO, *args],
        check=True,
        capture_output=True,
        text=True,
    ).stdout.strip()


def _run_bench(names: str, sf_dir: str) -> dict[str, float]:
    env = dict(
        os.environ,
        SPARK_GRAFT_BENCH_NAMES=names,
        SPARK_GRAFT_SF_DIR=sf_dir,
        SPARK_GRAFT_ALLOW_DIRTY="1",
    )
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")],
        env=env,
        capture_output=True,
        text=True,
        check=False,
    )
    line = next(
        (
            ln
            for ln in reversed(out.stdout.splitlines())
            if ln.startswith("{")
        ),
        None,
    )
    if out.returncode != 0 or line is None:
        raise RuntimeError(
            f"bench failed rc={out.returncode}:\n{out.stdout[-2000:]}"
            f"\n{out.stderr[-2000:]}"
        )
    return json.loads(line)["queries"]


def _pop_stash() -> None:
    """Restore the working tree; on failure, say where the changes are
    and stop, so no B run measures the bare HEAD."""
    pop = subprocess.run(
        ["git", "-C", REPO, "stash", "pop", "-q"],
        capture_output=True,
        text=True,
        check=False,
    )
    if pop.returncode != 0:
        ref = _git("rev-parse", "stash@{0}")
        sys.exit(
            f"git stash pop failed:\n{pop.stderr.strip()}\n"
            f"your changes are still stashed as stash@{{0}} ({ref}); "
            "clear the conflict and run `git stash pop`"
        )


def _check_names(names: list[str], run: dict[str, float]) -> None:
    missing = [n for n in names if n not in run]
    if missing:
        sys.exit(f"bench ran none of: {', '.join(missing)}")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", help="comma-separated query names")
    ap.add_argument("-n", type=int, default=3, help="A/B pairs")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    args = ap.parse_args()

    if not _git("status", "--porcelain"):
        print("working tree is clean — nothing to A/B", file=sys.stderr)
        return 2

    names = [n.strip() for n in args.names.split(",") if n.strip()]
    a_runs: list[dict[str, float]] = []
    b_runs: list[dict[str, float]] = []
    for i in range(args.n):
        _git("stash", "push", "-u", "-q", "-m", "ab_bench probe")
        try:
            print(f"[{i + 1}/{args.n}] A (HEAD) ...", file=sys.stderr)
            a_runs.append(_run_bench(args.names, args.sf))
        finally:
            _pop_stash()
        _check_names(names, a_runs[-1])
        print(f"[{i + 1}/{args.n}] B (working tree) ...", file=sys.stderr)
        b_runs.append(_run_bench(args.names, args.sf))
        _check_names(names, b_runs[-1])

    rows = []
    for name in names:
        a = statistics.median(r[name] for r in a_runs if name in r)
        b = statistics.median(r[name] for r in b_runs if name in r)
        rows.append(
            {
                "query": name,
                "a_median_s": round(a, 3),
                "b_median_s": round(b, 3),
                "speedup": round(a / b, 3) if b else None,
                "a_runs": [round(r.get(name, float("nan")), 3) for r in a_runs],
                "b_runs": [round(r.get(name, float("nan")), 3) for r in b_runs],
            }
        )
    print(json.dumps({"pairs": args.n, "sf_dir": args.sf, "rows": rows}, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
