"""Benchmark self-test: a tiny-input run of every workload, checking that

- every end-to-end metric (``--trace 0``) and every per-layer metric
  (``--trace 1``) prints with its unit;
- the untampered runs count no failed op;
- a deliberately wrong expected checksum (``--corrupt-expected``) is
  counted as failed ops, so the error rate is above 0.

    python3 perfbench/run.py --self-test
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import harness


def _run(root: str, workload: str, *extra: str) -> dict:
    cmd = [sys.executable, os.path.join(root, "perfbench", "run.py"),
           "--workload", workload, "--seed", "1", "--seconds", "1",
           "--scale", "tiny", *extra]
    p = subprocess.run(cmd, cwd=root, capture_output=True, text=True,
                       timeout=600)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise RuntimeError(f"{' '.join(cmd)} exited {p.returncode}:\n"
                           f"{p.stderr[-2000:]}")
    return json.loads(lines[-1])


def _problems(res: dict, names: dict, want_failed: bool) -> list:
    out = []
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        out.append(f"result keys {sorted(res)}")
    for name, unit in names.items():
        m = res["metrics"].get(name)
        if m is None or m.get("unit") != unit or not isinstance(
                m.get("value"), (int, float)):
            out.append(f"metric {name} missing or without unit {unit}")
    extra = set(res["metrics"]) - set(names)
    if extra:
        out.append(f"unexpected metrics {sorted(extra)}")
    if res["attempted"] < 1:
        out.append("no op attempted")
    if want_failed and not (res["failed"] > 0 and res["correct"] is False):
        out.append(f"wrong checksum not counted: failed={res['failed']}")
    if not want_failed and (res["failed"] or not res["correct"]):
        out.append(f"clean run failed {res['failed']} ops")
    return out


def main(root: str) -> int:
    bad = 0
    for w in harness.WORKLOADS:
        for extra, names, corrupt in (
                (("--trace", "0", "--corrupt-expected"), harness.END_TO_END,
                 True),
                (("--trace", "1"), harness.PER_LAYER, False)):
            label = f"{w} {' '.join(extra)}"
            try:
                res = _run(root, w, *extra)
                probs = _problems(res, names, corrupt)
            except (RuntimeError, subprocess.TimeoutExpired,
                    json.JSONDecodeError) as e:
                probs = [str(e)]
            bad += bool(probs)
            print(f"{'FAIL' if probs else 'ok  '} {label}"
                  + "".join(f"\n     {p}" for p in probs))
    print("self-test", "FAILED" if bad else "passed")
    return 1 if bad else 0
