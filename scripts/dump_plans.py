"""Dump .explain('formatted') physical plans, in one of two forms.

    python scripts/dump_plans.py
        headline operators -> BENCH/PLANS.md (human-readable evidence:
        pushdown, pruning, broadcast, single Python stage)
    python scripts/dump_plans.py TAG [--dir DIR] [NAME ...]
        bench-timed queries plus the extract_* paths, one file each ->
        DIR/<NAME>_<TAG>.txt (DIR defaults to plans/); with NAME args, only
        those. Dump with TAG=before and TAG=after around a change and diff.

The plan-shape assertions live in tests/test_plans.py.
"""

from __future__ import annotations

import argparse
import io
import os
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

#: QUERIES entries timed by bench.py, dumped in TAG mode
BENCH_QUERIES = (
    "dedup_minhash_lsh",
    "dedup_simhash64",
    "dedup_campaign_keep_lsh",
    "multimodal_decode",
    "multimodal_pixels",
    "multimodal_gif",
    "multimodal_jpeg",
    "multimodal_tiff",
    "dedup_substrings",
    "ann_bruteforce_topk",
    "q1_flagship_agg",
    "revenue_by_nation",
)


def _explain(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue().rstrip()


def headline_targets(spark, sf):
    from tesserocr_spark.api import extract_pages, extract_spans_long, extract_text_only
    from tesserocr_spark.pages import pages_from_documents
    from tesserocr_spark.queries import QUERIES
    from tesserocr_spark.sinks import hocr_sink

    pages = pages_from_documents(spark, sf)
    return [
        ("extract_text_only (flagship: scan -> ArrowEvalPython -> project)",
         extract_text_only(pages)),
        ("extract_pages (columnar transport + arrays_zip rebuild)",
         extract_pages(pages)),
        ("extract_spans_long (flat arrays_zip -> posexplode, no nested rebuild)",
         extract_spans_long(pages)),
        ("hocr_sink (pure Catalyst expression, zero Python past extraction)",
         hocr_sink(extract_pages(pages))),
        ("dedup_minhash_lsh (persisted mh-array -> banded b=4 x r=2 bucket equi-join -> verify)",
         QUERIES["dedup_minhash_lsh"](spark, sf)),
        ("multimodal_decode (pruned scan -> two chained MapInPandas, zero Exchange)",
         QUERIES["multimodal_decode"](spark, sf)),
        ("region_filter (SetRectangle -> PushedFilters)",
         QUERIES["region_filter"](spark, sf)),
        ("q1_flagship_agg (partial agg + AQE-coalesced shuffle)",
         QUERIES["q1_flagship_agg"](spark, sf)),
        ("revenue_by_nation (broadcast dim joins)",
         QUERIES["revenue_by_nation"](spark, sf)),
        ("ann_bruteforce_topk (broadcast queries + WindowGroupLimit)",
         QUERIES["ann_bruteforce_topk"](spark, sf)),
        ("dedup_exact (single hash-agg shuffle)",
         QUERIES["dedup_exact"](spark, sf)),
        ("events_asof_view (as-of join = one window pass, zero Join operators)",
         QUERIES["events_asof_view"](spark, sf)),
        ("events_range_join (band bucketing -> equi hash join, no BNLJ)",
         QUERIES["events_range_join"](spark, sf)),
    ]


def bench_targets(spark, sf):
    """name -> thunk building the DataFrame of each bench leaf."""
    from tesserocr_spark.api import extract_pages, extract_spans_long, extract_text_only
    from tesserocr_spark.config import ExtractorConfig
    from tesserocr_spark.pages import pages_from_documents
    from tesserocr_spark.queries import QUERIES

    pages = pages_from_documents(spark, sf)
    nosym = ExtractorConfig(variables={"emit_symbols": "0"})
    targets = {
        "extract_text": lambda: extract_text_only(pages),
        "extract_full": lambda: extract_pages(pages, nosym),
        "extract_flat": lambda: extract_spans_long(pages, nosym)
        .groupBy("level")
        .count(),
        "spans_agg": lambda: extract_spans_long(pages_from_documents(spark, sf))
        .groupBy("url", "level")
        .count(),
    }
    for q in BENCH_QUERIES:
        targets[q] = lambda q=q: QUERIES[q](spark, sf)
    return targets


def write_plans_md(spark, sf) -> None:
    out = ["# BENCH/PLANS — physical plans of the headline operators",
           "",
           "Generated by `scripts/dump_plans.py` (`.explain('formatted')`).",
           "Shape guards asserted in tests/test_plans.py.", ""]
    for title, df in headline_targets(spark, sf):
        out += [f"## {title}", "", "```", _explain(df), "```", ""]
    path = os.path.join(REPO, "BENCH", "PLANS.md")
    # preserve the hand-written measured-results appendix across regeneration
    appendix = ""
    marker = "## Measured negative results"
    if os.path.exists(path):
        prior = open(path).read()
        if marker in prior:
            appendix = prior[prior.index(marker) :]
    with open(path, "w") as fh:
        fh.write("\n".join(out))
        if appendix:
            fh.write("\n" + appendix)
    print(f"wrote {path}")


def write_tagged(spark, sf, tag: str, outdir: str, only: list[str]) -> None:
    targets = bench_targets(spark, sf)
    unknown = sorted(set(only) - set(targets))
    if unknown:
        raise SystemExit(f"unknown plan names {unknown}; known: {sorted(targets)}")
    os.makedirs(outdir, exist_ok=True)
    for name, thunk in targets.items():
        if only and name not in only:
            continue
        path = os.path.join(outdir, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(_explain(thunk()) + "\n")
        print(f"wrote {path}")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("tag", nargs="?", help="file suffix; omit to write BENCH/PLANS.md")
    ap.add_argument("names", nargs="*", help="plans to dump in TAG mode (default: all)")
    ap.add_argument("--dir", default=os.path.join(REPO, "plans"),
                    help="output directory in TAG mode (default: plans/)")
    args = ap.parse_intermixed_args()

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    sf = "/root/testdata/sf0.001"
    if args.tag is None:
        write_plans_md(spark, sf)
    else:
        write_tagged(spark, sf, args.tag, args.dir, args.names)
    spark.stop()


if __name__ == "__main__":
    main()
