#!/usr/bin/env python3
"""layerbench — end-to-end and per-layer benchmark of the extraction engine.

Run from the repository root:

    python3 layerbench/run.py --workload text_corpus --seed 1 --seconds 10 --trace 0

One run: start a ``local[k]`` session (``k`` = usable cores less one) and set up
three times (session start, input materialisation, warm-up action;
``setup_s`` is the median), run the workload once untimed at full size and
check its outputs against a reference that does not go through Spark, run
its action once more untimed, then back to back for ``--seconds``
(workloads that can check every action do), stop every process it
started (and every orphan of theirs), and print one JSON line:

    {"correct": true, "attempted": N, "failed": N, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` alternates
untraced and traced actions, probes the extraction core in this process,
reports the per-layer metrics, and writes the spans and the per-action
layer table (with its residue row) to ``.layerbench/traces/``.
Metric definitions, units and the layer/workload each one should move are
in ``layerbench/metrics.py``; the workloads in ``layerbench/workloads.py``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from layerbench import layers, metrics, session  # noqa: E402
from layerbench.trace import Tracer  # noqa: E402
from layerbench.workloads import SIZES, WARM_SIZES, WORKLOADS  # noqa: E402

SETUP_REPS = 3
#: fewest timed actions per run, and per half of a traced run
MIN_ACTIONS = 3
MIN_ACTIONS_TRACED = 2
#: a run stops early after this many failed actions
MAX_FAILED_ACTIONS = 3
WORK = os.path.join(ROOT, ".layerbench")


def _say(tag: str, payload) -> None:
    print(f"layerbench {tag}: {json.dumps(payload, default=str)}", flush=True)


def tail(walls: list[float]) -> tuple[float, float, int]:
    """(value, percentile, samples): the highest percentile of ``walls``
    with at least ten samples beyond it, but never below the median — with
    fewer than twenty samples no percentile above the median has ten
    beyond it, and the value is the (lower) median."""
    s = sorted(walls)
    rank = max(len(s) - 10, (len(s) + 1) // 2)
    return s[rank - 1], 100.0 * rank / len(s), len(s)


class Run:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 size: int | None = None) -> None:
        self.k = session.host_cores()
        self.seconds = seconds
        self.tracer = Tracer(trace)
        size = size or SIZES[workload]
        self.wl = WORKLOADS[workload](WORK, self.k, seed, size, min(size, WARM_SIZES[workload]))
        self.spark = None

    # -- phases --------------------------------------------------------------
    def setup(self) -> list[float]:
        from layerbench.sparkstats import SparkStats

        times = []
        for rep in range(SETUP_REPS):
            if self.spark is not None:
                self.spark.stop()
            with self.tracer.span("setup", rep=rep):
                t0 = time.perf_counter()
                self.spark = session.build_session(self.k, WORK)
                self.wl.materialise()
                self.wl.prepare(self.spark)
                stats = SparkStats(self.spark)
                mark = stats.mark()
                self.wl.warm()
                times.append(time.perf_counter() - t0)
        # Python worker boot happens once per session: in its warm-up action
        self.warm_executions = stats.executions_since(mark)
        return times

    def timed(self) -> dict:
        from layerbench.sparkstats import SparkStats

        stats = SparkStats(self.spark)
        rss = session.RssPeak()
        tracing = self.tracer.enabled
        out = {"untraced": [], "traced": [], "docs": [], "nulls": 0, "failed_actions": 0,
               "stats": []}
        mark0 = stats.mark()
        deadline = time.perf_counter() + self.seconds
        i = 0
        while True:
            traced = tracing and i % 2 == 1
            i += 1
            self.wl.before_action()
            mark = stats.mark() if traced else None
            span = self.tracer.span("action", i=i) if traced else nullcontext()
            try:
                with span as rec:
                    start_ms = time.time() * 1e3
                    t0 = time.perf_counter()
                    handle = self.wl.action()
                    wall = time.perf_counter() - t0
                    end_ms = time.time() * 1e3
                res = self.wl.finish_action(handle)
            except Exception:  # noqa: BLE001 — a failed action is counted
                out["failed_actions"] += 1
                traceback.print_exc(file=sys.stderr)
                if out["failed_actions"] >= MAX_FAILED_ACTIONS:
                    break
                continue
            rss.poll()
            out["docs"].append(res["docs"])
            out["nulls"] += res["nulls"]
            (out["traced"] if traced else out["untraced"]).append(wall)
            if traced:
                jobs = stats.jobs_since(mark)
                st = layers.action_stats(wall * 1e3, start_ms, end_ms, jobs,
                                         stats.executions_since(mark))
                st["docs"] = res["docs"]
                out["stats"].append(st)
                for j in jobs:
                    if j["start_ms"] is not None and j["end_ms"] is not None:
                        self.tracer.add("spark.job", j["start_ms"], j["end_ms"], rec["id"],
                                        job=j["id"], call_site=j["call_site"], tasks=j["tasks"])
            enough = (len(out["untraced"]) >= MIN_ACTIONS if not tracing else
                      min(len(out["untraced"]), len(out["traced"])) >= MIN_ACTIONS_TRACED)
            if time.perf_counter() >= deadline and enough:
                break
        jobs = stats.jobs_since(mark0)
        out["tasks"] = sum(j["tasks"] for j in jobs)
        out["failed_tasks"] = sum(j["failed_tasks"] for j in jobs)
        out["rss_mb"] = rss.mb()
        return out

    def execute(self) -> dict:
        phases = {}
        clock = time.perf_counter
        t0 = clock()
        setups = self.setup()
        phases["setup"] = clock() - t0
        phases["setup_reps"] = setups
        t0 = clock()
        self.wl.before_check()
        phases["oracle"] = clock() - t0
        core = {}
        if self.tracer.enabled:
            t0 = clock()
            htmls = self.wl.sample(layers.SAMPLE)
            with self.tracer.span("core_probes", docs=len(htmls)):
                core = layers.core_probes(htmls, self.wl.path, self.tracer)
            phases["core_probes"] = clock() - t0
        t0 = clock()
        with self.tracer.span("check"):
            n_checked, bad = self.wl.check()
        phases["check"] = clock() - t0
        t0 = clock()
        for _ in range(self.wl.settle_actions):
            self.wl.before_action()
            self.wl.finish_action(self.wl.action())
        phases["settle"] = clock() - t0
        t0 = clock()
        t = self.timed()
        phases["timed"] = clock() - t0
        n_more, bad_more = self.wl.action_checks()
        n_checked, bad = n_checked + n_more, bad + bad_more
        for b in bad[:20]:
            print(f"layerbench mismatch: {b}", file=sys.stderr)
        return {"setups": setups, "core": core, "timed": t, "checked": n_checked, "bad": bad,
                "phases": phases}

    def close(self) -> int:
        reaped = session.shutdown(self.spark)
        self.spark = None
        return reaped


def result_line(run: Run, r: dict) -> dict:
    t = r["timed"]
    walls = t["untraced"]
    n_actions = len(walls) + len(t["traced"])
    attempted = sum(t["docs"]) + n_actions + t["failed_actions"] + t["tasks"] + r["checked"]
    failed = t["nulls"] + t["failed_actions"] + t["failed_tasks"] + len(r["bad"])
    correct = not r["bad"] and t["failed_actions"] == 0 and bool(walls)
    host = {"k": run.k, "driver_memory_mb": session.driver_memory_mb(),
            "workload": run.wl.name, "size": run.wl.size, "seed": run.wl.seed}
    _say("host", host)
    _say("phases_s", r["phases"])
    values = {"setup_s": statistics.median(r["setups"])}
    if walls:
        p50 = statistics.median(walls)
        tail_v, tail_p, tail_n = tail(walls)
        _say("wall_s_tail", {"value": tail_v, "percentile": tail_p, "samples": tail_n})
        _say("walls_s", walls)
        values.update({
            "docs_per_s": statistics.median(t["docs"]) / p50,
            "wall_s_p50": p50,
            "wall_s_tail": tail_v,
            "worker_peak_rss_mb": t["rss_mb"],
            "ok_ratio": 1.0 - failed / max(1, attempted),
        })
    if run.tracer.enabled:
        layer_values, table = metrics.per_layer(run, r)
        _say("layers", table)
        path = os.path.join(WORK, "traces", f"{run.wl.name}-s{run.wl.seed}-{run.tracer.run_id}.json")
        run.tracer.write(path, host=host, layer_table=table, per_layer=layer_values,
                         untraced_walls=walls, traced_walls=t["traced"],
                         action_stats=t["stats"], setup_s=r["setups"])
        _say("trace_file", os.path.relpath(path, ROOT))
        chosen = metrics.PER_LAYER
        values.update(layer_values)
    else:
        chosen = metrics.END_TO_END
    out = {k: {"value": values[k], "unit": chosen[k]["unit"]} for k in chosen if k in values}
    return {"correct": bool(correct and len(out) == len(chosen)), "attempted": int(attempted),
            "failed": int(failed), "metrics": out}


def program_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, "tesserocr_spark", "__init__.py"))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", type=int, default=None,
                    help="input size other than the stated one (the self-test runs tiny sizes)")
    args = ap.parse_args(argv)
    if not program_present():
        print("layerbench: tesserocr_spark not found next to layerbench/; "
              "run from a full checkout", file=sys.stderr)
        return 2
    session.become_subreaper()
    session.prepare_env(WORK, ROOT)
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), args.size)
    try:
        r = run.execute()
    finally:
        t0 = time.perf_counter()
        reaped = run.close()
    r["phases"]["close"] = time.perf_counter() - t0
    _say("reaped_processes", reaped)
    line = result_line(run, r)
    print(json.dumps(line), flush=True)
    return 0 if line["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
