#!/usr/bin/env python3
"""Alternating parent/change benchmark pairs with the gain rule applied.

    dev/ab_pairs.py --parent DIR --change DIR --workload W --pairs N --seed0 S

DIR is the root of a graft checkout (the parent can come from
`git worktree add`). Pair i runs `perfbench/run.py --trace 0` with seed
S + i in both checkouts; even pairs run the parent first, odd pairs the
change. The run length and each metric's direction come from the change
checkout's BENCHMARK.json. Exits non-zero at once if a run does not
complete, and after the summary if any run failed ops (`correct: false`).

Per pair it prints each side's failed/attempted ops and marks a pair
whose two sides attempted different op counts (a run that fits one more
request cycle reads lower latencies for that reason alone). It also
marks each run the harness flagged `disturbed` on its `run:` line (a
cpu or mem sentinel moved more than 5x across the run) with that run's
measured op count and `setup_s` reps: a disturbed run can widen the quartile
spread the gain rule tests against. Disturbed runs are reported, never
dropped. Per side it prints the failed/attempted totals and the
disturbed runs. Per end-to-end metric it prints each
side's median with quartiles, the change's wins (ties count for neither
side), whether a gain claim holds (the change wins at least nine tenths
of the pairs and the medians differ by more than the parent's quartile
spread) and whether the change's median is worse than the parent's by
more than the metric's `bound`, a fraction of the parent's median.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def run(root, workload, seed, seconds):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=root, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"ab_pairs: run failed in {root} (seed {seed}, exit {p.returncode})")
    out = json.loads(lines[-1])
    info = next(json.loads(l[len("run: "):]) for l in lines if l.startswith("run: "))
    return ({k: v["value"] for k, v in out["metrics"].items()}, out["attempted"],
            out["failed"], info)


def disturbance(info):
    """The `disturbed` mark of one run, or '' for an undisturbed run."""
    if not info["disturbed"]:
        return ""
    reps = ", ".join(f"{x:.2f}" for x in info["setup_s_reps"])
    return f"disturbed ({sum(info['executed'].values())} measured ops, setup_s reps [{reps}])"


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seed0", type=int, required=True)
    a = ap.parse_args()
    with open(os.path.join(a.change, "BENCHMARK.json")) as f:
        bench = json.load(f)
    better = {m["name"]: m["better"] for m in bench["end_to_end"]}
    bound = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    sides = {"parent": a.parent, "change": a.change}
    got = {"parent": [], "change": []}
    ops = {"parent": [], "change": []}
    marks = {"parent": [], "change": []}
    for i in range(a.pairs):
        seed = a.seed0 + i
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            metrics, attempted, failed, info = run(sides[side], a.workload, seed,
                                                   bench["run_seconds"])
            got[side].append(metrics)
            ops[side].append((attempted, failed))
            marks[side].append(disturbance(info))
        (pa, pf), (ca, cf) = ops["parent"][-1], ops["change"][-1]
        print(f"pair {i} seed {seed}: failed/attempted {pf}/{pa} vs {cf}/{ca}"
              + (" [op counts differ]" if pa != ca else "")
              + "".join(f" [{side} {marks[side][-1]}]" for side in sides if marks[side][-1])
              + "; " + " ".join(
            f"{k} {got['parent'][-1][k]:.4g}/{got['change'][-1][k]:.4g}" for k in better),
            flush=True)
    print(f"\n{a.workload}, {a.pairs} pairs, seeds {a.seed0}..{a.seed0 + a.pairs - 1}; "
          "median [q1, q3], parent -> change")
    for side in ("parent", "change"):
        print(f"{side}: {sum(f for _, f in ops[side])}/{sum(n for n, _ in ops[side])} "
              "ops failed")
        bad_runs = [f"pair {i} {m}" for i, m in enumerate(marks[side]) if m]
        print(f"{side}: {len(bad_runs)}/{a.pairs} runs disturbed"
              + "".join(f"\n  {r}" for r in bad_runs))
    differ = sum(p[0] != c[0] for p, c in zip(ops["parent"], ops["change"]))
    print(f"pairs with different op counts: {differ}/{a.pairs}")
    for k, direction in better.items():
        p = [r[k] for r in got["parent"]]
        c = [r[k] for r in got["change"]]
        sign = 1 if direction == "lower" else -1
        wins = sum(sign * (x - y) > 0 for x, y in zip(p, c))
        pm, cm = statistics.median(p), statistics.median(c)
        pq1, pq3 = quartiles(p)
        cq1, cq3 = quartiles(c)
        gain = wins >= 0.9 * a.pairs and sign * (pm - cm) > pq3 - pq1
        worse = sign * (cm - pm) > bound[k] * abs(pm)
        print(f"{k}: {pm:.4g} [{pq1:.4g}, {pq3:.4g}] -> {cm:.4g} [{cq1:.4g}, {cq3:.4g}]  "
              f"wins {wins}/{a.pairs}  gap {pm - cm:+.4g} vs parent IQR {pq3 - pq1:.4g}  "
              f"gain rule {'holds' if gain else 'does not hold'}  "
              f"{'WORSE than' if worse else 'within'} bound {bound[k]:g}")
    bad = sum(f > 0 for side in ops.values() for _, f in side)
    if bad:
        raise SystemExit(f"ab_pairs: {bad} runs failed ops (correct: false)")


if __name__ == "__main__":
    main()
