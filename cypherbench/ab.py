"""A/B steadiness check: two sets of runs of the same code, interleaved.

    python3 cypherbench/ab.py --runs 10 > cypherbench/AB_RESULTS.txt

For every workload in BENCHMARK.json it runs ``run.py`` 2 x ``--runs``
times, alternating set A and set B (A B, then B A, ...), each run with its
own seed. For each end-to-end metric it prints each set's median and
quartiles, the ratio of the medians (B / A), and the spread (inter-quartile
distance over the median) of each set and of all runs together. Both sets
run the same
code, so every difference is noise. The set-up components
``session.start_s`` and ``sources.load_s`` (from each run's stderr detail
line) are printed the same way, so ``setup_s`` drift can be split between
them. Two verdicts follow:

- gate: each set's spread within its metric's bound, except
  ``setup_s``'s, which the benchmark contract exempts, and every B / A
  within the bound; with ``--runs 10`` this is the contract's check of two
  ten-run sets;
- target: every spread, ``setup_s``'s included, below a third of its bound.

It exits with 0 only when both hold.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import core  # noqa: E402


SETUP_PARTS = ("session.start_s", "sources.load_s")


def run_once(workload: str, seed: int, seconds: int) -> dict:
    """One run's result line, plus the set-up components and the host
    steal share from its detail line."""
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True,
    )
    if out.returncode != 0:
        raise SystemExit(f"run failed: {workload} seed {seed} exit {out.returncode}")
    line = json.loads(out.stdout.strip().splitlines()[-1])
    detail = [json.loads(ln) for ln in out.stderr.splitlines() if ln.startswith('{"workload"')]
    for k in ("host_steal_pct", *SETUP_PARTS):
        line[k] = detail[-1][k]
    return line


def row(name: str, va: list, vb: list) -> tuple:
    """(text of one table row, B / A, spreads of A, of B and of all runs)."""
    qa, qb = core.quartiles(va), core.quartiles(vb)
    ratio = qb[1] / qa[1]
    spreads = (core.spread(va), core.spread(vb), core.spread(va + vb))
    text = (f"  {name:<16}"
            + f"{qa[1]:>9.4g} [{qa[0]:.4g}, {qa[2]:.4g}]".ljust(28)
            + f"{qb[1]:>9.4g} [{qb[0]:.4g}, {qb[2]:.4g}]".ljust(28)
            + f" {ratio:>6.3f}" + "".join(f" {sp:>6.3f}" for sp in spreads))
    return text, ratio, spreads


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--runs", type=int, default=5, help="runs per set and workload")
    p.add_argument("--seed0", type=int, default=1000)
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bm = json.load(f)
    workloads = [w["name"] for w in bm["workloads"]]
    metrics = bm["end_to_end"]
    results = {(w, s): [] for w in workloads for s in "AB"}
    seed = args.seed0
    t0 = time.time()
    for i in range(args.runs):
        for w in workloads:
            for side in ("AB" if i % 2 == 0 else "BA"):
                line = run_once(w, seed, bm["run_seconds"])
                results[(w, side)].append((seed, line))
                print(f"# {w} {side} seed {seed}: correct={line['correct']} "
                      f"failed={line['failed']}/{line['attempted']}",
                      file=sys.stderr, flush=True)
                seed += 1

    head = subprocess.run(["git", "rev-parse", "--short", "HEAD"], cwd=ROOT,
                          capture_output=True, text=True).stdout.strip() or "unknown"
    print(f"A/B steadiness, {args.runs} runs per set, sets interleaved, "
          f"run_seconds={bm['run_seconds']}, HEAD {head}, "
          f"{(time.time() - t0) / 60:.0f} min")
    gate = target = True
    for w in workloads:
        a, b = results[(w, "A")], results[(w, "B")]
        bad = sum(not r["correct"] or r["failed"] for _s, r in a + b)
        print(f"\n{w}: {len(a) + len(b)} runs, {bad} incorrect or failing")
        print(f"  {'metric':<16}{'A median [q1, q3]':<28}{'B median [q1, q3]':<28}"
              f" {'B/A':>6} {'sprA':>6} {'sprB':>6} {'sprAB':>6} {'bound':>6} {'bound/3':>8}")
        gate &= bad == 0
        for m in metrics:
            text, ratio, sps = row(m["name"], [r["metrics"][m["name"]]["value"] for _s, r in a],
                                   [r["metrics"][m["name"]]["value"] for _s, r in b])
            set_sp = max(sps[:2])
            notes = []
            if abs(ratio - 1) > m["bound"]:
                notes.append("B/A outside bound")
            if set_sp > m["bound"]:
                notes.append("a set's spread outside bound" + (" (exempt)" if m["name"] == "setup_s" else ""))
            if max(sps) >= m["bound"] / 3:
                notes.append("a spread not below bound/3")
            gate &= abs(ratio - 1) <= m["bound"] and (m["name"] == "setup_s" or set_sp <= m["bound"])
            target &= max(sps) < m["bound"] / 3
            print(f"{text} {m['bound']:>6.3f} {m['bound'] / 3:>8.3f}  {'; '.join(notes)}")
        for k in SETUP_PARTS:
            print(row(k, [r[k] for _s, r in a], [r[k] for _s, r in b])[0]
                  + "  set-up component, not declared")
    print(f"\ngate (each set's spreads within bound, setup_s's exempt; B/A within bound): "
          f"{'met' if gate else 'NOT met'}")
    print(f"target (every spread below bound/3, setup_s's included): "
          f"{'met' if target else 'NOT met'}")
    names = [m["name"] for m in metrics] + list(SETUP_PARTS) + ["host_steal_pct"]
    print("\nruns (workload set seed: " + ", ".join(names) + ")")
    for (w, side), runs in results.items():
        for s, r in runs:
            vals = [r["metrics"][m["name"]]["value"] for m in metrics]
            vals += [r[k] for k in SETUP_PARTS]
            print(f"  {w} {side} {s}: " + " ".join(f"{v:.4f}" for v in vals)
                  + f" {r['host_steal_pct']}")
    ok = gate and target
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
