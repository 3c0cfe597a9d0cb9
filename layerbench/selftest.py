#!/usr/bin/env python3
"""Self-test of the benchmark at tiny input sizes.

    python3 layerbench/selftest.py [workload ...]

For every workload: one untraced and one traced run through the command
line, asserting that the result line is valid and names every metric with
its unit; then one run whose program output is altered before the check,
asserting that the check fails it. Also checks that BENCHMARK.json agrees
with ``metrics.py``. Takes several minutes (a JVM start per run).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from layerbench import metrics  # noqa: E402
from layerbench.workloads import WORKLOADS  # noqa: E402

TINY = {"text_corpus": 64, "spans_corpus": 32, "job_resume": 48, "dedup_campaign": 40}
#: workloads whose check fails on the current program, with the defect
KNOWN_FAILING = {
    "job_resume": "process_pages over an existing lineage table writes empty renderer "
                  "output (the lineage append re-caches the persisted docs)",
}


def check_benchmark_json() -> list[str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    want = metrics.benchmark_json()
    errs = []
    for key in ("end_to_end", "per_layer"):
        if bench[key] != want[key]:
            errs.append(f"BENCHMARK.json {key} differs from layerbench/metrics.py")
    for w in bench["workloads"]:
        if w["name"] not in WORKLOADS or w["name"] in KNOWN_FAILING:
            errs.append(f"BENCHMARK.json lists workload {w['name']!r} that cannot pass")
    return errs


def cli_run(workload: str, trace: int) -> tuple[int, dict | None, str]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace),
           "--size", str(TINY[workload])]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
    try:
        return p.returncode, json.loads(last), p.stderr
    except json.JSONDecodeError:
        return p.returncode, None, p.stderr


def check_line(workload: str, trace: int) -> list[str]:
    code, line, err = cli_run(workload, trace)
    tag = f"{workload} --trace {trace}"
    if line is None:
        return [f"{tag}: no result line (exit {code})\n{err[-2000:]}"]
    errs = []
    if set(line) != {"correct", "attempted", "failed", "metrics"}:
        errs.append(f"{tag}: result keys {sorted(line)}")
    want = metrics.PER_LAYER if trace else metrics.END_TO_END
    for name, spec in want.items():
        got = line["metrics"].get(name)
        if got is None or got.get("unit") != spec["unit"] or \
                not isinstance(got.get("value"), (int, float)):
            errs.append(f"{tag}: metric {name} missing or without unit {spec['unit']!r}")
    extra = set(line["metrics"]) - set(want)
    if extra:
        errs.append(f"{tag}: unexpected metrics {sorted(extra)}")
    if line["attempted"] < 1:
        errs.append(f"{tag}: attempted < 1")
    expect_ok = workload not in KNOWN_FAILING
    if line["correct"] != expect_ok or (code == 0) != expect_ok:
        errs.append(f"{tag}: correct={line['correct']} exit={code}, expected "
                    f"{'a pass' if expect_ok else 'the known failure'}")
    return errs


def check_corrupted(workload: str) -> list[str]:
    """In-process run with the output altered before the check."""
    from layerbench import run as bench_run

    bench_run.session.prepare_env(bench_run.WORK, ROOT)
    r = bench_run.Run(workload, 7, 1, False, TINY[workload])
    r.wl.corrupt = True
    try:
        res = r.execute()
    finally:
        r.close()
    if not res["bad"]:
        return [f"{workload}: a corrupted output passed the check"]
    return []


def main(argv: list[str]) -> int:
    names = argv or list(WORKLOADS)
    errs = check_benchmark_json()
    for w in names:
        for trace in (0, 1):
            errs += check_line(w, trace)
        errs += check_corrupted(w)
        print(f"selftest {w}: {'ok' if not errs else 'FAILED'}"
              + (f" (known failing: {KNOWN_FAILING[w]})" if w in KNOWN_FAILING else ""),
              flush=True)
    for e in errs:
        print("selftest error:", e)
    print("selftest:", "PASS" if not errs else f"FAIL ({len(errs)} errors)")
    return 0 if not errs else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
