#!/usr/bin/env python3
"""Self-test of the benchmark.

Runs every workload on tiny inputs, untraced and traced, with --selftest:
each run must complete with correct=true, and each of its output checks
must fail when handed a deliberately wrong expectation.

Usage: python3 perfbench/selftest.py [--seed N] [--seconds S] [WORKLOAD ...]
"""
import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import run  # noqa: E402


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--seconds", type=int, default=2)
    ap.add_argument("workloads", nargs="*", default=run.WORKLOADS)
    a = ap.parse_args()
    classes = build.build(run.OUT)
    failures = []
    for w in a.workloads:
        for trace in (0, 1):
            code, lines = run.run_one(classes, w, a.seed, a.seconds, trace, ["--tiny", "--selftest"])
            res = run.result_of(lines)
            verdict = [l for l in lines if l.startswith("selftest ")]
            ok = code == 0 and res is not None and res["correct"] and res["metrics"]
            print(f"{w} trace={trace}: exit {code}, correct={res and res['correct']}; "
                  + "; ".join(verdict))
            if not ok:
                failures.append(f"{w} trace={trace}")
                print("\n".join(l for l in lines if l.startswith(("check", "error", "selftest"))))
    print("selftest " + ("passed" if not failures else "FAILED: " + ", ".join(failures)))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
