#!/usr/bin/env python3
"""Self-check of the benchmark at tiny size.

    python3 perfbench/selfcheck.py

Checks the pure-Python oracle and the span arithmetic against hand
results, then runs every workload of BENCHMARK.json with a few
documents, traced and untraced, and checks the result line: correct,
nothing failed, exactly the metrics BENCHMARK.json names, with their
units.  Exits 0 when everything holds.
"""

from __future__ import annotations

import itertools
import json
import os
import random
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TINY_DOCS = 20


def check_oracle() -> None:
    from perfbench import oracle

    gold = [("d", 0, 1, "E1", "PER"), ("d", 2, 3, "E1", "PER"),
            ("d", 4, 5, "NIL1", "ORG"), ("d", 6, 7, "E2", "LOC")]
    sys_ = [("d", 0, 1, "E1", "PER"), ("d", 2, 3, "E2", "PER"),
            ("d", 4, 5, "NIL1", "GPE"), ("d", 8, 9, "E2", "LOC")]
    got = oracle.tac14(sys_, gold)
    # spans: 3 of 4 shared; (span, kbid): d0 and d4 shared
    assert got["strong_mention_match"]["ptp"] == 3
    assert got["strong_all_match"]["ptp"] == 2
    assert got["strong_link_match"]["ptp"] == 1      # NIL1 filtered out
    assert got["strong_nil_match"]["ptp"] == 1
    assert got["strong_typed_mention_match"]["ptp"] == 2
    # B-cubed precision by hand: sys clusters E1={0}, E2={2,8},
    # NIL1={4}; per sys mention |R∩K|/|R|: 1, 1/2, 0, 1 -> 2.5 / 4
    assert abs(got["b_cubed"]["precision"] - 2.5 / 4) < 1e-12
    # CEAF: E1-E1 (1), E1-E2 (1), NIL1-NIL1 (1): best alignment 2
    assert got["mention_ceaf"]["ptp"] == 2
    rng = random.Random(0)
    for _ in range(200):
        n, m = rng.randint(1, 5), rng.randint(1, 5)
        w = [[rng.randint(0, 9) for _ in range(m)] for _ in range(n)]
        brute = max(sum(w[i][j] for i, j in zip(rows, cols))
                    for rows in itertools.permutations(range(n), min(n, m))
                    for cols in itertools.permutations(range(m), min(n, m)))
        assert oracle.max_weight_assignment(w) == brute, w


def check_trace_arithmetic() -> None:
    from perfbench.trace import _covered

    assert _covered([(0, 2), (1, 3), (5, 6)]) == 4
    assert _covered([(0, 1), (1, 2)]) == 2
    assert _covered([]) == 0


def check_runs() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    want = {0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
            1: {m["name"]: m["unit"] for m in bench["per_layer"]}}
    for wl in bench["workloads"]:
        for trace in (0, 1):
            cmd = bench["command"] + [
                "--workload", wl["name"], "--seed", "1", "--seconds", "1",
                "--trace", str(trace), "--docs", str(TINY_DOCS)]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True,
                                  text=True, timeout=900)
            assert proc.returncode == 0, proc.stderr[-3000:]
            res = json.loads(proc.stdout.strip().splitlines()[-1])
            assert res["correct"] and res["failed"] == 0, res
            assert res["attempted"] >= 1, res
            units = {k: v["unit"] for k, v in res["metrics"].items()}
            assert units == want[trace], (wl["name"], trace)
            if trace == 0:
                assert all(v["value"] > 0 for v in res["metrics"].values())
            print(f"{wl['name']} trace={trace}: ok", flush=True)


def main() -> int:
    sys.path.insert(0, ROOT)
    check_oracle()
    check_trace_arithmetic()
    print("oracle and span arithmetic: ok", flush=True)
    check_runs()
    return 0


if __name__ == "__main__":
    sys.exit(main())
