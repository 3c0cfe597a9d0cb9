"""Per-layer measurements, taken from outside the program.

Two kinds:

* **core probes** call the extraction core's public functions in this
  process on a sample of a workload's pages (tokenizer, segmenter,
  extractor, OSD) and the extraction UDF's pandas function on one Arrow
  batch of them, converting its output the way the Python worker does;
* **action stats** read Spark's job intervals and plan metrics for one
  traced action (see ``sparkstats``).

``layer_table`` joins both into wall-clock milliseconds per action, one row
per layer plus a residue row, so the rows add up to the action's wall time.
"""

from __future__ import annotations

import os
import re
import time
from html.parser import HTMLParser

from . import sparkstats as ss

#: pages per core probe (one Arrow batch at the engine's maxRecordsPerBatch)
SAMPLE = 2048

CORE_METRICS = (
    "tokenizer.us_per_doc", "tokenizer.fallback_ratio",
    "segment.parse_us_per_doc", "segment.split_lines_us_per_doc",
    "segment.group_blocks_us_per_doc",
    "extractor.extract_text_us_per_doc", "extractor.extract_us_per_doc",
    "extractor.emit_us_per_doc", "extractor.spans_per_doc",
    "osd.detect_us_per_doc",
    "udf.batch_us_per_doc", "udf.transpose_us_per_doc", "udf.to_arrow_us_per_doc",
    "udf.return_bytes_per_doc",
)


def _decode(html) -> str:
    return "" if html is None else bytes(html).decode("utf-8", "replace")


def core_probes(htmls: list, path: str | None, tracer) -> dict[str, float]:
    """µs per document of each core layer over ``htmls`` (see module doc).

    ``segment.parse_us_per_doc`` includes tokenizing; ``group_blocks``
    excludes the ``split_lines`` calls it makes; ``extractor.emit`` is the
    workload's extraction call minus parse, group and (spans path) OSD."""
    out = dict.fromkeys(CORE_METRICS, 0.0)
    if path is None or not htmls:
        return out
    import pandas as pd

    from tesserocr_spark.core.extractor import Extractor
    from tesserocr_spark.core.osd import detect_os
    from tesserocr_spark.core.segment import group_blocks, parse_paragraphs, split_lines
    from tesserocr_spark.core.tokenizer import fast_feed

    n = len(htmls)
    us = 1e6 / n
    ex = Extractor()
    mld = ex.config.get_double_variable("max_link_density")
    texts = [_decode(h) for h in htmls]
    clock = time.perf_counter

    # HTMLParser's own handle_* methods do nothing: it is the null handler
    # for fast_feed and, fed directly, the stdlib fallback tokenizer alone
    with tracer.span("tokenizer.fast_feed", docs=n):
        t0, fallbacks, null = clock(), 0, HTMLParser()
        for t in texts:
            if t and not fast_feed(t, null):
                fallbacks += 1
                p = HTMLParser()
                p.feed(t)
                p.close()
        out["tokenizer.us_per_doc"] = (clock() - t0) * us
    out["tokenizer.fallback_ratio"] = fallbacks / max(1, sum(1 for t in texts if t))

    with tracer.span("segment.parse_paragraphs", docs=n):
        t0 = clock()
        paras = [parse_paragraphs(t) if t else [] for t in texts]
        parse = (clock() - t0) * us
    with tracer.span("segment.split_lines", docs=n):
        t0 = clock()
        for ps in paras:
            for p in ps:
                if not p.is_image:
                    split_lines(p)
        split = (clock() - t0) * us
    with tracer.span("segment.group_blocks", docs=n):
        t0 = clock()
        for ps in paras:
            group_blocks(ps, mld)
        group = (clock() - t0) * us
    out["segment.parse_us_per_doc"] = parse
    out["segment.split_lines_us_per_doc"] = split
    out["segment.group_blocks_us_per_doc"] = group - split

    with tracer.span("extractor.extract_text", docs=n):
        t0 = clock()
        for h in htmls:
            ex.extract_text(h)
        out["extractor.extract_text_us_per_doc"] = (clock() - t0) * us
    with tracer.span("extractor.extract", docs=n):
        t0 = clock()
        docs = [ex.extract(h) for h in htmls]
        out["extractor.extract_us_per_doc"] = (clock() - t0) * us
    out["extractor.spans_per_doc"] = sum(len(d.raw_spans) for d in docs) / n
    with tracer.span("osd.detect_os", docs=n):
        t0 = clock()
        for d in docs:
            detect_os(d.text, ex.config.lang)
        osd = (clock() - t0) * us
    del docs

    out["osd.detect_us_per_doc"] = osd
    if path == "text":  # extract_text never calls detect_os
        extract = out["extractor.extract_text_us_per_doc"]
        out["extractor.emit_us_per_doc"] = extract - parse - group
    else:
        extract = out["extractor.extract_us_per_doc"]
        out["extractor.emit_us_per_doc"] = extract - parse - group - osd

    fn, arrow_in = _udf_function(path)
    series = pd.Series(htmls, dtype=object)
    with tracer.span("udf.batch", docs=n):
        t0 = clock()
        result = fn(series)
        out["udf.batch_us_per_doc"] = (clock() - t0) * us
    out["udf.transpose_us_per_doc"] = out["udf.batch_us_per_doc"] - extract
    with tracer.span("udf.to_arrow", docs=n):
        t0 = clock()
        batch = arrow_in(result)
        out["udf.to_arrow_us_per_doc"] = (clock() - t0) * us
    out["udf.return_bytes_per_doc"] = batch.nbytes / n
    return out


def _udf_function(path: str):
    """(the extraction UDF's pandas function, the worker's pandas→Arrow
    conversion of its result)."""
    from pyspark.sql.pandas.serializers import ArrowStreamPandasUDFSerializer
    from pyspark.sql.pandas.types import to_arrow_type
    from pyspark.sql.types import StringType

    from tesserocr_spark.schemas import EXTRACT_COLUMNS_SCHEMA
    from tesserocr_spark.udf import make_extract_columns_udf, make_extract_text_udf

    if path == "text":
        udf, spark_type = make_extract_text_udf(), StringType()
    else:
        udf, spark_type = make_extract_columns_udf(), EXTRACT_COLUMNS_SCHEMA
    ser = ArrowStreamPandasUDFSerializer(
        "UTC", False, True, df_for_struct=True, struct_in_pandas="dict",
        ndarray_as_list=False, arrow_cast=True)
    arrow_type = to_arrow_type(spark_type)
    return udf.func, lambda r: ser._create_batch([(r, arrow_type, spark_type)])


# -- Spark side ---------------------------------------------------------------

#: the write command's details in Spark's formatted plan: "Arguments: <path>, ..."
_WRITE_RE = re.compile(r"InsertIntoHadoopFsRelationCommand\n(?:.*\n)*?Arguments: ([^,\s]+)")
_WRITE_LAYERS = {".docs": "jobs.docs_write", ".lineage": "jobs.lineage_write",
                 ".txt": "sinks.txt_write", ".tsv": "sinks.tsv_write",
                 ".hocr": "sinks.hocr_write"}


def _job_class(e: dict) -> str:
    """Layer of one SQL execution inside ``process_pages``: by the path it
    writes, else by what its physical plan runs or reads."""
    plan = e["plan"] or ""
    m = _WRITE_RE.search(plan)
    if m is not None:
        return _WRITE_LAYERS.get(os.path.splitext(m.group(1))[1], "jobs.other_write")
    if "ArrowEvalPython" in plan:
        return "extract"
    if ".lineage" in plan:
        return "jobs.resume"
    return "spark.jobs"


def action_stats(wall_ms: float, start_ms: float, end_ms: float,
                 jobs: list[dict], executions: list[dict]) -> dict:
    """Job and plan figures of one action that ran in [start_ms, end_ms]."""
    ivals = [(max(j["start_ms"], start_ms), min(j["end_ms"] or end_ms, end_ms))
             for j in jobs if j["start_ms"] is not None]
    ivals = [(a, b) for a, b in ivals if b > a]
    union = ss.union_ms(ivals)
    first = min((a for a, _ in ivals), default=end_ms)
    by_class: dict[str, dict] = {}
    job_by_id = {j["id"]: j for j in jobs}
    for e in executions:
        cls = _job_class(e)
        c = by_class.setdefault(cls, {"exec_ms": 0.0, "job_ms": 0.0, "n": 0})
        c["n"] += 1
        if e["end_ms"] is not None:
            c["exec_ms"] += e["end_ms"] - e["start_ms"]
        c["job_ms"] += ss.union_ms([
            (job_by_id[j]["start_ms"], job_by_id[j]["end_ms"])
            for j in e["jobs"] if j in job_by_id and job_by_id[j]["end_ms"] is not None])
    return {
        "wall_ms": wall_ms,
        "jobs": len(jobs),
        "tasks": sum(j["tasks"] for j in jobs),
        "failed_tasks": sum(j["failed_tasks"] for j in jobs),
        "job_union_ms": union,
        "driver_gap_ms": max(0.0, wall_ms - union),
        "plan_build_ms": max(0.0, min(wall_ms, first - start_ms)),
        "python_init_ms": ss.sum_metric(executions, "ArrowEvalPython", ss.PY_INIT),
        "python_total_ms": ss.sum_metric(executions, "ArrowEvalPython", ss.PY_RUN),
        "arrow_sent_bytes": ss.sum_metric(executions, "ArrowEvalPython", ss.PY_SENT),
        "arrow_received_bytes": ss.sum_metric(executions, "ArrowEvalPython", ss.PY_RECV),
        "wscg_ms": ss.sum_metric(executions, "WholeStageCodegen", ss.WSCG_DURATION,
                                 skip_scans=True),
        "classes": by_class,
        "call_sites": sorted({j["call_site"] for j in jobs}),
    }


#: core layers in a Python task, with the probe metric that sizes them
_CORE_ROWS = (
    ("tokenizer", "tokenizer.us_per_doc"),
    ("segment.parse", None),  # parse minus tokenizing
    ("segment.split_lines", "segment.split_lines_us_per_doc"),
    ("segment.group_blocks", "segment.group_blocks_us_per_doc"),
    ("extractor.emit", "extractor.emit_us_per_doc"),
    ("osd.detect", "osd.detect_us_per_doc"),
    ("udf.transpose", "udf.transpose_us_per_doc"),
    ("udf.to_arrow", "udf.to_arrow_us_per_doc"),
)


def layer_table(st: dict, core: dict, docs: int, k: int, path: str | None) -> list[dict]:
    """Rows {layer, ms} of one action's wall time: driver time outside jobs,
    then job time split into layers (task-summed times and per-doc core
    costs divided by the ``k`` task slots), and the residue that makes the
    rows add up to ``wall_ms``."""
    rows = [("api.plan_build", st["plan_build_ms"]),
            ("spark.driver_gap", st["driver_gap_ms"] - st["plan_build_ms"])]
    for cls, c in sorted(st["classes"].items()):
        if cls != "extract" and c["job_ms"] > 0:
            rows.append((cls, c["job_ms"]))
    if st["python_total_ms"] > 0:
        # no api.python_init row: Spark's init time of a worker spans its
        # first Arrow batch, so it overlaps the core rows (and worker boot is
        # a set-up cost, api.python_boot_ms); what the core rows leave of a
        # task's Python time is in the residue
        for name, key in _CORE_ROWS:
            if name == "osd.detect" and path != "spans":
                continue
            per_doc = (core["segment.parse_us_per_doc"] - core["tokenizer.us_per_doc"]
                       if key is None else core[key])
            rows.append((name, per_doc * docs / 1e3 / k))
        rows.append(("api.jvm_pipeline",
                     max(0.0, st["wscg_ms"] - st["python_total_ms"]) / k))
    rows.append(("residue", st["wall_ms"] - sum(ms for _, ms in rows)))
    return [{"layer": name, "ms": ms} for name, ms in rows]
