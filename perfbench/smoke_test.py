#!/usr/bin/env python3
"""Smoke test of the benchmark: every workload at a tiny input size.

    python3 perfbench/smoke_test.py

Runs each workload once untraced and once traced through run.py at
--scale 0.15 (lineitem 6,000 rows, the size of the sf0.001 test data) and
checks that every run answers correctly and reports exactly the metrics
BENCHMARK.json names, each with its unit. Exits nonzero on the first
failure.
"""
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    want = {"0": {m["name"]: m["unit"] for m in spec["end_to_end"]},
            "1": {m["name"]: m["unit"] for m in spec["per_layer"]}}
    for w in spec["workloads"]:
        for trace in ("0", "1"):
            cmd = spec["command"] + ["--workload", w["name"], "--seed", "7",
                                     "--seconds", "1", "--trace", trace, "--scale", "0.15"]
            out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                                 check=True).stdout
            res = json.loads(out.strip().splitlines()[-1])
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            problems = []
            if not res["correct"] or res["failed"] != 0 or res["attempted"] < 1:
                problems.append(f"answers: correct={res['correct']} failed={res['failed']} "
                                f"attempted={res['attempted']}")
            if got != want[trace]:
                problems.append(f"metrics differ: missing {sorted(set(want[trace]) - set(got))}, "
                                f"extra {sorted(set(got) - set(want[trace]))}, units "
                                f"{sorted(k for k in got if want[trace].get(k, got[k]) != got[k])}")
            status = "ok" if not problems else "FAIL " + "; ".join(problems)
            print(f"{w['name']} trace={trace}: {status}", flush=True)
            if problems:
                sys.exit(1)


if __name__ == "__main__":
    main()
