#!/usr/bin/env python
"""Bench regression guard: run bench.py best-of-N and compare per-query
against a reference BENCH JSON (default BENCH_local4.json, a same-host
mark: ``SPARK_GRAFT_CPUS=4 python bench.py`` at sf0.1 on a 4-CPU host; run
the guard with the same ``SPARK_GRAFT_CPUS``).

Host timing noise on this machine is ±30% run-to-run, so the guard takes
the per-query MINIMUM across N runs before applying the 1.2x tolerance;
known, documented semantic slowdowns can be waived via WAIVERS.

Usage: SPARK_GRAFT_CPUS=4 python tools/bench_guard.py [--runs 3]
           [--ref BENCH_local4.json]
Exit nonzero if any unwaived query exceeds tolerance.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

TOLERANCE = 1.2
#: documented semantic changes (query -> reason), exempt from the gate.
WAIVERS: dict[str, str] = {}


def run_bench() -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")],
        capture_output=True, text=True, check=True,
    ).stdout.strip().splitlines()[-1]
    return json.loads(out)


def main() -> None:
    ap = argparse.ArgumentParser()
    # bench.py takes best-of-3 internally since r17 (round-robin passes
    # + loadavg in the artifact), so one guard run already carries the
    # noise robustness the old min-of-3 wrapper provided
    ap.add_argument("--runs", type=int, default=1)
    ap.add_argument("--ref", default=os.path.join(REPO, "BENCH_local4.json"))
    args = ap.parse_args()

    with open(args.ref) as f:
        ref_doc = json.load(f)
    parsed = ref_doc.get("parsed") or ref_doc
    ref = parsed.get("queries")
    if not ref:
        print(f"reference {args.ref} has no queries map", file=sys.stderr)
        sys.exit(2)

    best: dict[str, float] = {}
    for i in range(args.runs):
        got = run_bench()["queries"]
        for q, t in got.items():
            best[q] = min(best.get(q, float("inf")), t)
        print(f"run {i + 1}/{args.runs}: total {sum(got.values()):.2f}s", flush=True)

    failed = []
    for q, t in sorted(best.items()):
        if q not in ref:
            print(f"  {q}: {t:.3f}s (new — no reference)")
            continue
        ratio = t / ref[q] if ref[q] else float("inf")
        mark = ""
        if ratio > TOLERANCE:
            if q in WAIVERS:
                mark = f"  WAIVED: {WAIVERS[q]}"
            else:
                mark = "  REGRESSION"
                failed.append(q)
        print(f"  {q}: {t:.3f}s vs {ref[q]:.3f}s ({ratio:.2f}x){mark}")

    print(f"\n{'FAIL' if failed else 'OK'}: {failed or 'no unwaived regressions'}")
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
