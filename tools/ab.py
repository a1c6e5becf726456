#!/usr/bin/env python3
"""Interleaved A/B of two graft checkouts on one perfbench workload.

    python3 tools/ab.py --parent <dir> --change <dir> --workload <name> \\
        --seeds 7101-7110 [--seconds 10] [--aa <second parent dir>]

Each seed is one pair: perfbench/run.py runs once in each checkout
(untraced), and the order alternates per pair, so neither side always
runs first on a warmer or colder box. Each checkout builds into its own
.bench_build, so alternating runs never rebuild. Prints a per-pair table
and, per end-to-end metric, both medians, their ratio, the parent's
interquartile range (IQR), how many pairs the change won, and whether
the gain rule holds: at least 10 pairs, the change lower in at least
nine tenths of them, and the median gain larger than the parent's IQR.

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

METRICS = ("run_s", "op_p50_s", "setup_s")


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


def compare(a_dir, b_dir, names, workload, seeds, seconds):
    """Interleaved pairs of a_dir (named names[0]) and b_dir (names[1])."""
    rows = []
    for i, seed in enumerate(seeds):
        order = [(0, a_dir), (1, b_dir)] if i % 2 == 0 else [(1, b_dir), (0, a_dir)]
        res = [None, None]
        for side, d in order:
            res[side] = run_once(d, workload, seed, seconds)
            print(f"[ab] {workload} seed {seed} {names[side]}: " +
                  " ".join(f"{m}={res[side][m]:.3f}" for m in METRICS),
                  file=sys.stderr, flush=True)
        rows.append({"seed": seed, "first": names[order[0][0]], "a": res[0], "b": res[1]})
    return rows


def report(rows, names, workload, seconds):
    a, b = names
    lo, hi = rows[0]["seed"], rows[-1]["seed"]
    print(f"`{workload}`, {a} and {b} interleaved, seeds {lo}–{hi}, "
          f"`--seconds {seconds:g} --trace 0`:\n")
    head = ["seed", "first"] + [f"{m} {s}" for m in METRICS for s in (a, b)] + [f"failed {a}/{b}"]
    print("| " + " | ".join(head) + " |")
    print("|" + "---|" * len(head))
    for r in rows:
        cells = [str(r["seed"]), r["first"]]
        cells += [f"{r[s][m]:.3f}" for m in METRICS for s in ("a", "b")]
        cells.append(f"{r['a']['failed']}/{r['b']['failed']}")
        print("| " + " | ".join(cells) + " |")
    for m in METRICS:
        xs = [r["a"][m] for r in rows]
        ys = [r["b"][m] for r in rows]
        q1, q3 = quartiles(xs)
        ma, mb = statistics.median(xs), statistics.median(ys)
        wins = sum(y < x for x, y in zip(xs, ys))
        print(f"  - {m}: median {a} {ma:.3f} {b} {mb:.3f} ratio {mb / ma:.3f}  "
              f"{a} IQR {q3 - q1:.3f}  |gap| {abs(mb - ma):.3f}  "
              f"{b} lower in {wins}/{len(rows)} pairs; "
              f"{gain_rule(len(rows), wins, ma - mb, q3 - q1)}")
    failed = sum(r[s]["failed"] for r in rows for s in ("a", "b"))
    print(f"  - failed operations, both sides: {failed}\n")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, type=seeds_arg)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--aa", help="a second checkout of the parent: run A/A first")
    args = ap.parse_args()
    dirs = [os.path.abspath(d) for d in (args.parent, args.change, args.aa) if d]
    missing = [d for d in dirs if not os.path.isfile(os.path.join(d, "perfbench", "run.py"))]
    if missing:
        raise SystemExit(f"no perfbench/run.py in {', '.join(missing)}")

    if args.aa:
        names = ("P", "P2")
        rows = compare(dirs[0], dirs[2], names, args.workload, args.seeds, args.seconds)
        report(rows, names, args.workload, args.seconds)
    names = ("P", "C")
    rows = compare(dirs[0], dirs[1], names, args.workload, args.seeds, args.seconds)
    report(rows, names, args.workload, args.seconds)


if __name__ == "__main__":
    main()
