#!/usr/bin/env python3
"""Interleaved A/B of two graft checkouts on perfbench workloads.

    python3 tools/ab.py --parent <dir> --change <dir> --workload <name> [<name> ...] \\
        --seeds 7101-7110 [--seconds 10] [--aa <second parent dir>]

Each seed is one pair: perfbench/run.py runs once in each checkout
(untraced), and the order alternates per pair, so neither side always
runs first on a warmer or colder box. Each checkout builds into its own
.bench_build, so alternating runs never rebuild. Several workloads run
one after another, each over every seed. Per workload it prints a
per-pair table and, per end-to-end metric of the parent's
BENCHMARK.json, both medians, their ratio, the parent's interquartile
range (IQR), how many pairs the change won, whether the gain rule holds
(at least 10 pairs, the change lower in at least nine tenths of them,
and the median gain larger than the parent's IQR) and the no-regression
verdict against that metric's bound (see `regression_verdict`).

--aa runs the same pairs first with the parent against a second copy of
the parent (e.g. extracted with `git archive` into a fresh directory).
The code is the same on both sides, so any lean that A/A shows comes from
the directories or the box and sizes what an A/B can resolve.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def end_to_end(parent):
    """(name, bound) of every end-to-end metric the parent's
    BENCHMARK.json declares; all must be lower-is-better."""
    with open(os.path.join(parent, "BENCHMARK.json")) as fh:
        metrics = json.load(fh)["end_to_end"]
    higher = [m["name"] for m in metrics if m["better"] != "lower"]
    if higher:
        raise SystemExit(f"higher-is-better end-to-end metrics are not supported: {higher}")
    return [(m["name"], m["bound"]) for m in metrics]


def seeds_arg(text):
    """'7101-7110' or '7101,7105,7109' (or a mix) -> list of ints."""
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi) + 1)) if hi else [int(lo)]
    return out


def run_once(checkout, workload, seed, seconds):
    """One untraced perfbench process in `checkout`; its JSON result."""
    env = dict(os.environ, CARGO_TARGET_DIR=os.path.join(checkout, ".bench_build"))
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=checkout, env=env, stdout=subprocess.PIPE,
                          stderr=subprocess.PIPE, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"run failed in {checkout} (seed {seed}, exit {proc.returncode})")
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    return {"failed": res["failed"],
            **{k: v["value"] for k, v in res["metrics"].items()}}


def quartiles(xs):
    q = statistics.quantiles(xs, n=4, method="inclusive") if len(xs) > 1 else xs * 3
    return q[0], q[2]


def gain_rule(pairs, wins, gap, iqr):
    """The gain rule of the choosing-metrics guide, section 8, for a
    lower-is-better metric: at least 10 pairs, the change lower in at
    least nine tenths of them (ties count for neither), and the medians
    apart by more than the parent's IQR in the change's favour."""
    why = []
    if pairs < 10:
        why.append(f"only {pairs} pairs, 10 needed")
    if wins * 10 < 9 * pairs:
        why.append(f"won {wins}/{pairs}, under 9/10")
    if gap <= iqr:
        why.append(f"median gain {gap:.3f} not above the IQR {iqr:.3f}")
    return "gain rule met" if not why else "gain rule not met: " + ", ".join(why)


def regression_verdict(xs, ys, bound):
    """The no-regression rule of the simplicity-review guide for a
    lower-is-better metric, parent runs `xs`, change runs `ys`, with the
    benchmark's relative `bound`: unresolved when the parent's IQR over
    its median is wider than the bound, unless every change run is
    lower than every parent run; else within bound when the change's
    median exceeds the parent's by at most the bound."""
    ma, mb = statistics.median(xs), statistics.median(ys)
    q1, q3 = quartiles(xs)
    if max(ys) < min(xs):
        return "within bound: every change run beats every parent run"
    if q3 - q1 > bound * ma:
        return f"unresolved: the parent's relative IQR {(q3 - q1) / ma:.3f} exceeds the bound {bound:g}"
    if mb <= ma * (1 + bound):
        return f"within bound {bound:g}"
    return f"WORSE than the bound {bound:g}: median ratio {mb / ma:.3f}"


def compare(a_dir, b_dir, names, workload, seeds, seconds, metrics):
    """Interleaved pairs of a_dir (named names[0]) and b_dir (names[1])."""
    rows = []
    for i, seed in enumerate(seeds):
        order = [(0, a_dir), (1, b_dir)] if i % 2 == 0 else [(1, b_dir), (0, a_dir)]
        res = [None, None]
        for side, d in order:
            res[side] = run_once(d, workload, seed, seconds)
            print(f"[ab] {workload} seed {seed} {names[side]}: " +
                  " ".join(f"{m}={res[side][m]:.3f}" for m in metrics),
                  file=sys.stderr, flush=True)
        rows.append({"seed": seed, "first": names[order[0][0]], "a": res[0], "b": res[1]})
    return rows


def report(rows, names, workload, seconds, bounds):
    a, b = names
    metrics = [m for m, _ in bounds]
    lo, hi = rows[0]["seed"], rows[-1]["seed"]
    print(f"`{workload}`, {a} and {b} interleaved, seeds {lo}–{hi}, "
          f"`--seconds {seconds:g} --trace 0`:\n")
    head = ["seed", "first"] + [f"{m} {s}" for m in metrics for s in (a, b)] + [f"failed {a}/{b}"]
    print("| " + " | ".join(head) + " |")
    print("|" + "---|" * len(head))
    for r in rows:
        cells = [str(r["seed"]), r["first"]]
        cells += [f"{r[s][m]:.3f}" for m in metrics for s in ("a", "b")]
        cells.append(f"{r['a']['failed']}/{r['b']['failed']}")
        print("| " + " | ".join(cells) + " |")
    for m, bound in bounds:
        xs = [r["a"][m] for r in rows]
        ys = [r["b"][m] for r in rows]
        q1, q3 = quartiles(xs)
        ma, mb = statistics.median(xs), statistics.median(ys)
        wins = sum(y < x for x, y in zip(xs, ys))
        print(f"  - {m}: median {a} {ma:.3f} {b} {mb:.3f} ratio {mb / ma:.3f}  "
              f"{a} IQR {q3 - q1:.3f}  |gap| {abs(mb - ma):.3f}  "
              f"{b} lower in {wins}/{len(rows)} pairs; "
              f"{gain_rule(len(rows), wins, ma - mb, q3 - q1)}; "
              f"{regression_verdict(xs, ys, bound)}")
    failed = sum(r[s]["failed"] for r in rows for s in ("a", "b"))
    print(f"  - failed operations, both sides: {failed}\n")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--workload", required=True, nargs="+", action="extend")
    ap.add_argument("--seeds", required=True, type=seeds_arg)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--aa", help="a second checkout of the parent: run A/A first")
    args = ap.parse_args()
    dirs = [os.path.abspath(d) for d in (args.parent, args.change, args.aa) if d]
    missing = [d for d in dirs if not os.path.isfile(os.path.join(d, "perfbench", "run.py"))]
    if missing:
        raise SystemExit(f"no perfbench/run.py in {', '.join(missing)}")

    bounds = end_to_end(dirs[0])
    metrics = [m for m, _ in bounds]
    sides = [(("P", "P2"), dirs[2])] if args.aa else []
    for workload in args.workload:
        for names, other in sides + [(("P", "C"), dirs[1])]:
            rows = compare(dirs[0], other, names, workload, args.seeds, args.seconds, metrics)
            report(rows, names, workload, args.seconds, bounds)


if __name__ == "__main__":
    main()
