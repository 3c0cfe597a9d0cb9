"""Every metric the benchmark reports: unit, direction, and — before any
change is measured — the layer it belongs to and the workloads whose
end-to-end numbers it is expected to move. ``BENCHMARK.json`` lists the
same names and units (``selftest.py`` checks that the two agree).

Every traced run prints every per-layer metric; those of a layer a workload
does not run (the extraction core and the UDF on ``dedup_campaign``, the
sinks and the job layer on all but ``job_resume``) read 0.
"""

from __future__ import annotations

import statistics

from . import layers

W_TEXT, W_SPANS, W_RESUME, W_DEDUP = "text_corpus", "spans_corpus", "job_resume", "dedup_campaign"
ALL = (W_TEXT, W_SPANS, W_RESUME, W_DEDUP)

END_TO_END = {
    "setup_s": {"unit": "s", "better": "lower", "bound": 0.25,
                "what": "median of three set-ups: session start, inputs, warm-up action "
                        "(the first also launches the JVM, so the median is a set-up on "
                        "a running JVM)"},
    "docs_per_s": {"unit": "docs/s", "better": "higher", "bound": 0.25,
                   "what": "documents per action / median action wall time"},
    "wall_s_p50": {"unit": "s", "better": "lower", "bound": 0.25,
                   "what": "median wall time of one timed action"},
    "wall_s_tail": {"unit": "s", "better": "lower", "bound": 0.25,
                    "what": "highest percentile with >=10 actions beyond it, never below "
                            "the median (percentile and sample count printed on the "
                            "'wall_s_tail' line); a run of fewer than 20 actions has no "
                            "such percentile and reports the median"},
    "worker_peak_rss_mb": {"unit": "MB", "better": "lower", "bound": 0.25,
                           "what": "sum of VmHWM of the driver JVM and its Python workers"},
    "ok_ratio": {"unit": "ratio", "better": "higher", "bound": 0.01,
                 "what": "1 - (NULL docs + failed actions + failed tasks + output "
                         "mismatches) / attempted"},
}

#: name -> unit, layer, and the end-to-end metric/workloads it should move
PER_LAYER = {
    "tokenizer.us_per_doc": {"unit": "us", "moves": ("docs_per_s", ALL[:3])},
    "tokenizer.fallback_ratio": {"unit": "ratio", "moves": ("docs_per_s", ALL[:3])},
    "segment.parse_us_per_doc": {"unit": "us", "moves": ("docs_per_s", (W_TEXT, W_SPANS))},
    "segment.split_lines_us_per_doc": {"unit": "us", "moves": ("docs_per_s", (W_TEXT, W_SPANS))},
    "segment.group_blocks_us_per_doc": {"unit": "us", "moves": ("docs_per_s", (W_TEXT, W_SPANS))},
    "extractor.extract_text_us_per_doc": {"unit": "us", "moves": ("docs_per_s", (W_TEXT,))},
    "extractor.extract_us_per_doc": {"unit": "us", "moves": ("docs_per_s", (W_SPANS, W_RESUME))},
    "extractor.emit_us_per_doc": {"unit": "us", "moves": ("docs_per_s", (W_SPANS, W_RESUME))},
    "extractor.spans_per_doc": {"unit": "count", "moves": ("docs_per_s", (W_SPANS, W_RESUME))},
    "osd.detect_us_per_doc": {"unit": "us", "moves": ("docs_per_s", (W_SPANS, W_RESUME))},
    "udf.batch_us_per_doc": {"unit": "us", "moves": ("docs_per_s", (W_SPANS, W_RESUME))},
    "udf.transpose_us_per_doc": {"unit": "us", "moves": ("docs_per_s", (W_SPANS, W_RESUME))},
    "udf.to_arrow_us_per_doc": {"unit": "us", "moves": ("docs_per_s", (W_SPANS, W_RESUME))},
    "udf.return_bytes_per_doc": {"unit": "B", "moves": ("worker_peak_rss_mb", (W_SPANS, W_RESUME))},
    "api.plan_build_ms": {"unit": "ms", "moves": ("wall_s_p50", ALL)},
    # boot: summed over the tasks of the last set-up's warm-up action
    "api.python_boot_ms": {"unit": "ms", "moves": ("setup_s", ALL[:3])},
    "api.python_init_ms": {"unit": "ms", "moves": ("setup_s", ALL[:3])},
    "api.python_total_ms": {"unit": "ms", "moves": ("docs_per_s", ALL[:3])},
    "api.arrow_sent_bytes_per_doc": {"unit": "B", "moves": ("docs_per_s", (W_TEXT,))},
    "api.arrow_received_bytes_per_doc": {"unit": "B", "moves": ("docs_per_s", (W_SPANS, W_RESUME))},
    "api.jvm_pipeline_ms": {"unit": "ms", "moves": ("docs_per_s", (W_SPANS,))},
    "spark.jobs_per_action": {"unit": "count", "moves": ("wall_s_p50", (W_DEDUP, W_RESUME))},
    "spark.tasks_per_action": {"unit": "count", "moves": ("wall_s_p50", ALL)},
    "spark.failed_tasks": {"unit": "count", "moves": ("ok_ratio", ALL)},
    "spark.driver_gap_ms": {"unit": "ms", "moves": ("wall_s_p50", ALL)},
    "trace.overhead_ms": {"unit": "ms", "moves": ("wall_s_p50", ())},
    "trace.residue_ms": {"unit": "ms", "moves": ("wall_s_p50", ())},
    # the layers below only dedup_campaign and job_resume run; they read 0
    # on the other workloads (see the workloads module for why neither is
    # listed in BENCHMARK.json yet)
    "dedup.jobs_per_rep": {"unit": "count", "moves": ("wall_s_p50", (W_DEDUP,))},
    "dedup.driver_gap_ms": {"unit": "ms", "moves": ("wall_s_p50", (W_DEDUP,))},
    "sinks.txt_write_s": {"unit": "s", "moves": ("docs_per_s", (W_RESUME,))},
    "sinks.tsv_write_s": {"unit": "s", "moves": ("docs_per_s", (W_RESUME,))},
    "sinks.hocr_write_s": {"unit": "s", "moves": ("docs_per_s", (W_RESUME,))},
    "sinks.bytes_written_per_doc": {"unit": "B", "moves": ("docs_per_s", (W_RESUME,))},
    "jobs.resume_s": {"unit": "s", "moves": ("docs_per_s", (W_RESUME,))},
    "jobs.docs_write_s": {"unit": "s", "moves": ("docs_per_s", (W_RESUME,))},
    "jobs.lineage_write_s": {"unit": "s", "moves": ("docs_per_s", (W_RESUME,))},
    "jobs.skipped_bucket_ratio": {"unit": "ratio", "better": "higher",
                                  "moves": ("docs_per_s", (W_RESUME,))},
}
for _name, _spec in PER_LAYER.items():
    _spec["layer"] = _name.split(".", 1)[0]
    _spec.setdefault("better", "lower")


def _med(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def per_layer(run, r: dict) -> tuple[dict[str, float], list[dict]]:
    """The per-layer metric values of one traced run, and the layer table
    of its median traced action (rows in ms that add up to its wall time,
    residue last)."""
    t, core, k = r["timed"], r["core"], run.k
    sts = t["stats"]
    out = dict.fromkeys(PER_LAYER, 0.0)
    out.update(core)
    docs = _med([s["docs"] for s in sts]) or 1.0

    def med(key):
        return _med([s[key] for s in sts])

    def cls(name, key="exec_ms"):
        return _med([s["classes"].get(name, {}).get(key, 0.0) for s in sts])

    out.update({
        "api.plan_build_ms": med("plan_build_ms"),
        "api.python_boot_ms": layers.ss.sum_metric(run.warm_executions, "ArrowEvalPython",
                                                   layers.ss.PY_BOOT),
        "api.python_init_ms": med("python_init_ms"),
        "api.python_total_ms": med("python_total_ms"),
        "api.arrow_sent_bytes_per_doc": med("arrow_sent_bytes") / docs,
        "api.arrow_received_bytes_per_doc": med("arrow_received_bytes") / docs,
        "api.jvm_pipeline_ms": _med([max(0.0, s["wscg_ms"] - s["python_total_ms"]) for s in sts]),
        "spark.jobs_per_action": med("jobs"),
        "spark.tasks_per_action": med("tasks"),
        "spark.failed_tasks": float(t["failed_tasks"]),
        "spark.driver_gap_ms": med("driver_gap_ms"),
        "sinks.txt_write_s": cls("sinks.txt_write") / 1e3,
        "sinks.tsv_write_s": cls("sinks.tsv_write") / 1e3,
        "sinks.hocr_write_s": cls("sinks.hocr_write") / 1e3,
        "jobs.resume_s": cls("jobs.resume") / 1e3,
        "jobs.docs_write_s": cls("jobs.docs_write") / 1e3,
        "jobs.lineage_write_s": cls("jobs.lineage_write") / 1e3,
    })
    out.update(run.wl.layer_extras())
    if run.wl.name == W_DEDUP:
        out["dedup.jobs_per_rep"] = out["spark.jobs_per_action"]
        out["dedup.driver_gap_ms"] = out["spark.driver_gap_ms"]
    table = []
    if sts:
        st = sorted(sts, key=lambda s: s["wall_ms"])[(len(sts) - 1) // 2]
        table = layers.layer_table(st, core, st["docs"], k, run.wl.path)
        table.append({"layer": "wall", "ms": st["wall_ms"]})
        table.append({"counts": {"docs": st["docs"], "jobs": st["jobs"], "tasks": st["tasks"],
                                 "k": k}})
    out["trace.residue_ms"] = next((r["ms"] for r in table if r.get("layer") == "residue"), 0.0)
    untraced, traced = t["untraced"], t["traced"]
    if untraced and traced:
        out["trace.overhead_ms"] = (_med(traced) - _med(untraced)) * 1e3
    return out, table


def benchmark_json() -> dict:
    """The BENCHMARK.json this module implies (``selftest.py`` compares)."""
    return {
        "end_to_end": [{"name": n, "unit": s["unit"], "better": s["better"], "bound": s["bound"]}
                       for n, s in END_TO_END.items()],
        "per_layer": [{"name": n, "unit": s["unit"], "better": s["better"]}
                      for n, s in PER_LAYER.items()],
    }
