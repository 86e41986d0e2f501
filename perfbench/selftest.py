#!/usr/bin/env python3
"""Benchmark self-test: a smoke-sized run of every workload, untraced and
traced, must pass its output checks and print exactly the metric names
and units that BENCHMARK.json declares.

    python3 perfbench/selftest.py
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    want = {
        "0": {m["name"]: m["unit"] for m in bench["end_to_end"]},
        "1": {m["name"]: m["unit"] for m in bench["per_layer"]},
    }
    bad = []
    for w in (x["name"] for x in bench["workloads"]):
        for trace in ("0", "1"):
            cmd = bench["command"] + ["--workload", w, "--seed", "1", "--seconds", "2",
                                      "--trace", trace, "--smoke"]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            if p.returncode != 0:
                bad.append(f"{w} trace {trace}: exit {p.returncode}: {p.stderr[-800:]}")
                continue
            r = json.loads(p.stdout.strip().splitlines()[-1])
            got = {k: v["unit"] for k, v in r["metrics"].items()}
            ok = r["correct"] and r["failed"] == 0 and r["attempted"] > 0 and got == want[trace]
            print(f"{w} trace {trace}: {'ok' if ok else 'FAIL'} "
                  f"(attempted {r['attempted']}, failed {r['failed']}, {len(got)} metrics)")
            if not ok:
                missing = sorted(set(want[trace]) - set(got))
                extra = sorted(set(got) - set(want[trace]))
                bad.append(f"{w} trace {trace}: correct={r['correct']} missing={missing} "
                           f"extra={extra}")
    for b in bad:
        print("FAIL:", b, file=sys.stderr)
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
