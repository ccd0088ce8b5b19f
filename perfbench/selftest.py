#!/usr/bin/env python3
"""Smoke-scale self-test of the benchmark: a 2k-entity dump and the
sf0.001 tables.

    python3 perfbench/selftest.py

For each workload it makes one clean untraced run and one traced run
against a deliberately corrupted expected value, and checks that:

- the untraced run emits every end-to-end metric of BENCHMARK.json, and
  the traced run every per-layer metric, each with its unit;
- the clean run counts no failed op;
- the corrupted expectation shows up as a failed op in ``error_rate``.

The runs share this process, so only the first run's ``setup_s`` is a
real set-up time. Exits 1 on any problem. Takes about four minutes.
"""

from __future__ import annotations

import copy
import json
import os
import sys

import run
import workloads as wl


def main() -> int:
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    expected = wl.load_expected()
    corrupt = copy.deepcopy(expected)
    corrupt["geo_build"]["smoke/seed1"] = "0" * 16
    n, chk = corrupt["queries"]["sf0.001"][wl.OPERATOR_MIX[0]]
    corrupt["queries"]["sf0.001"][wl.OPERATOR_MIX[0]] = [n, chk + 1]

    problems = []
    for workload in run.WORKLOADS:
        for trace, exp in ((False, expected), (True, corrupt)):
            res = run.run(workload, seed=1, seconds=1, trace=trace, scale="smoke", expected=exp)
            rep, ctx = res["report"], res["context"]
            tag = f"{workload} trace={int(trace)}"
            want = {m["name"]: m["unit"] for m in bench["per_layer" if trace else "end_to_end"]}
            got = {k: v["unit"] for k, v in rep["metrics"].items()}
            if got != want:
                missing = sorted(set(want.items()) - set(got.items()))
                extra = sorted(set(got.items()) - set(want.items()))
                problems.append(f"{tag}: metrics differ: missing {missing}, unexpected {extra}")
            if exp is expected and (rep["failed"] or not rep["correct"]):
                problems.append(f"{tag}: clean run failed: {ctx['errors']}")
            if exp is corrupt and not (rep["failed"] and ctx["error_rate"] > 0 and not rep["correct"]):
                problems.append(f"{tag}: corrupted expectation not counted as a failed op")
            print(f"{tag}: attempted={rep['attempted']} failed={rep['failed']} "
                  f"error_rate={ctx['error_rate']:.3f} metrics={len(got)}", flush=True)
    for p in problems:
        print("FAIL", p, file=sys.stderr)
    print("selftest", "FAILED" if problems else "ok")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
