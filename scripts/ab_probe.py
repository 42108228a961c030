"""Interleaved fresh-JVM A/B wall-clock probe between two repo checkouts.

Every run is ``<root>/bench.py --fresh-one <query>`` in a new process —
the child bench.py's ``fresh_headline`` basket uses: JIT warm-up at
sf0.001, then two walls at the bench SF through the noop sink, printed
as ``RESULT {"walls": [...]}``. Sides alternate and the order flips each
rep (A, B, then B, A, ...), so box noise and drift hit both sides
equally. A run scores its min-of-2 wall; the summary gives each side's
median and quartiles over the reps.

Usage:
    python scripts/ab_probe.py --a <checkout> --b <checkout> \
        [--reps 5] [--sf <sf dir>] query [query ...]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys


def run_one(root: str, name: str, env: dict) -> list[float] | None:
    out = subprocess.run(
        [sys.executable, os.path.join(root, "bench.py"), "--fresh-one", name],
        capture_output=True,
        text=True,
        timeout=1200,
        cwd=root,
        env=env,
    )
    lines = [l for l in out.stdout.splitlines() if l.startswith("RESULT ")]
    if not lines:
        sys.stderr.write(out.stdout[-800:] + "\n" + out.stderr[-800:] + "\n")
        return None
    return json.loads(lines[-1][len("RESULT "):])["walls"]


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--a", required=True, help="checkout A (e.g. the parent)")
    p.add_argument("--b", required=True, help="checkout B (e.g. the change)")
    p.add_argument("--reps", type=int, default=5)
    p.add_argument("--sf", help="bench SF dir (default: bench.py's SPARK_GRAFT_SF_DIR)")
    p.add_argument("ops", nargs="+")
    args = p.parse_args()
    env = dict(os.environ)
    if args.sf:
        env["SPARK_GRAFT_SF_DIR"] = args.sf
    roots = {"A": args.a, "B": args.b}
    summary: dict[str, dict] = {}
    for name in args.ops:
        runs: dict[str, list[float]] = {"A": [], "B": []}
        for rep in range(args.reps):
            for side in ("AB" if rep % 2 == 0 else "BA"):
                walls = run_one(roots[side], name, env)
                if walls is None:
                    print(f"{name} {side} rep{rep}: FAILED", flush=True)
                    continue
                runs[side].append(min(walls))
                print(f"{name:26s} {side} rep{rep} walls={walls}", flush=True)
        summary[name] = {"runs": runs}
        if runs["A"] and runs["B"]:
            qa, qb = quartiles(runs["A"]), quartiles(runs["B"])
            summary[name].update(A=qa, B=qb)
            print(
                f">>> {name:24s} A median {qa[1]:.2f}s [{qa[0]:.2f}, {qa[2]:.2f}]  "
                f"B median {qb[1]:.2f}s [{qb[0]:.2f}, {qb[2]:.2f}]  "
                f"A/B={qa[1] / qb[1]:.2f}",
                flush=True,
            )
    print("SUMMARY " + json.dumps(summary))


if __name__ == "__main__":
    main()
