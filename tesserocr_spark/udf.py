"""Vectorized Arrow UDFs — the only Python in the hot path.

Design (SURVEY.md §4): the reference amortizes model load by reusing one
engine instance across documents (README.rst:137-152); here an ``Extractor``
is a per-Python-worker lazy singleton keyed by config, reused across Arrow
batches. Everything else (projections, aggregations, joins, windows) stays
JVM-side.

Every extraction UDF in the package comes from one of two factories, both
taking an optional SetRectangle ``region``:

* ``make_extract_columns_udf`` — the Recognize analogue
  (tesserocr/tesserocr.pyx:2136-2163): spans travel as parallel primitive
  arrays and ``api.extract_pages`` re-zips them JVM-side (measured ~1.6×
  faster end-to-end than array<struct> through Arrow, and 1.7× faster than
  shipping exploded per-span rows from a mapInPandas kernel).
* ``make_extract_text_udf`` — text-only fast path (image_to_text,
  tesserocr/tesserocr.pyx:2683-2732); skips span materialization entirely —
  use it when the query only needs ``extracted_text`` (the layout-only/
  column-pruning tactic the optimizer cannot see across the Python
  boundary).

A per-batch wall-clock budget mirrors Recognize's ETEXT_DESC deadline
(tesserocr/tesserocr.pyx:2150-2161): documents starting after the budget is
exhausted are skipped instead of stalling a corpus-scale job — a skipped
document has NULL text, osd and metrics and empty span arrays.

Each batch runs with CPython's cyclic garbage collector paused
(``_gc_paused``). The reference builds its PAGE_RES span tree in C++, where
no collector walks it; here a spans batch keeps GC-tracked span tuples alive
until pandas→Arrow, and with the collector on CPython re-walked that growing
heap again and again — including full (gen-2) collections — for about half
the time of a 517-document spans batch. Pausing is safe because extraction
allocates no reference cycles: refcounting frees all of it, so a paused
batch leaks nothing. The law is locked by
``tests/test_udf.py::test_extraction_makes_no_reference_cycles``.
"""

from __future__ import annotations

import gc
import time
from contextlib import contextmanager

import pandas as pd
from pyspark.sql import functions as F

from .config import DEFAULT_CONFIG, ExtractorConfig
from .core.extractor import Extractor
from .schemas import EXTRACT_COLUMNS_SCHEMA, SPAN_COLUMNS


def _as_variables_key(config: ExtractorConfig) -> tuple:
    # dataclass with a dict field is unhashable; normalize to a hashable twin
    return (config.lang, config.psm, config.oem, tuple(sorted(config.variables.items())))


#: per-worker singleton cache: config key -> Extractor (instance-reuse tactic).
_EXTRACTORS_BY_KEY: dict[tuple, Extractor] = {}


def _extractor_for(config: ExtractorConfig) -> Extractor:
    key = _as_variables_key(config)
    ex = _EXTRACTORS_BY_KEY.get(key)
    if ex is None:
        ex = Extractor(config)
        _EXTRACTORS_BY_KEY[key] = ex
    return ex


@contextmanager
def _gc_paused():
    """Pause the cyclic collector for one UDF batch. Restores the state found
    on entry, so nesting is safe and a caller that turned GC off keeps it off."""
    was_enabled = gc.isenabled()
    gc.disable()
    try:
        yield
    finally:
        if was_enabled:
            gc.enable()


def _per_doc_with_deadline(html: pd.Series, timeout_ms_per_doc: int, one, skipped) -> list:
    """``[one(raw) for raw in html]`` under the per-batch budget of
    ``timeout_ms_per_doc`` × batch size: a document starting after the
    budget is spent yields ``skipped`` instead (Recognize's ETEXT_DESC
    deadline, tesserocr/tesserocr.pyx:2150-2161). 0 means no budget."""
    if timeout_ms_per_doc <= 0:
        return [one(raw) for raw in html]
    deadline = time.monotonic() + (timeout_ms_per_doc / 1000.0) * len(html)
    return [skipped if time.monotonic() > deadline else one(raw) for raw in html]


_COL_NAMES = EXTRACT_COLUMNS_SCHEMA.fieldNames()

_EMPTY_COLS = ((),) * len(SPAN_COLUMNS)  # span arrays of a span-less document

#: a deadline-skipped document: NULL text/osd/metrics, empty span arrays
_SKIPPED_ROW = (None, *_EMPTY_COLS, None, None)


def make_extract_columns_udf(
    config: ExtractorConfig | None = None,
    timeout_ms_per_doc: int = 0,
    region: tuple[int, int, int, int] | None = None,
):
    """Scalar Arrow pandas_udf: html -> EXTRACT_COLUMNS_SCHEMA (columnar
    span transport — see schemas.EXTRACT_COLUMNS_SCHEMA). Used by
    ``api.extract_pages``, which re-zips the arrays into the public nested
    ``spans`` column JVM-side. ``region`` is SetRectangle's crop."""
    cfg = config or DEFAULT_CONFIG

    @F.pandas_udf(EXTRACT_COLUMNS_SCHEMA)
    def extract_cols(html: pd.Series) -> pd.DataFrame:
        ex = _extractor_for(cfg)

        def one(raw) -> tuple:
            d = ex.extract(raw, region=region)
            if d.raw_spans:
                (level, bid, pid, lid, wid, sid, bt, text, conf, blanks,
                 bbox, flags) = zip(*d.raw_spans)
                x0, y0, x1, y1 = zip(*bbox)
                cols = (level, bid, pid, lid, wid, sid, bt, blanks,
                        x0, y0, x1, y1, flags, text, conf)
            else:
                cols = _EMPTY_COLS
            return (d.text, *cols, d.osd, d.metrics)

        with _gc_paused():
            rows = _per_doc_with_deadline(html, timeout_ms_per_doc, one, _SKIPPED_ROW)
            return pd.DataFrame(rows, columns=_COL_NAMES)

    return extract_cols


def make_extract_text_udf(
    config: ExtractorConfig | None = None,
    timeout_ms_per_doc: int = 0,
    region: tuple[int, int, int, int] | None = None,
):
    """Scalar Arrow pandas_udf: html:binary -> extracted_text:string.
    ``region`` is SetRectangle's crop."""
    cfg = config or DEFAULT_CONFIG

    @F.pandas_udf("string")
    def extract_text(html: pd.Series) -> pd.Series:
        ex = _extractor_for(cfg)
        if region is None:
            one = ex.extract_text
        else:
            def one(raw) -> str:
                return ex.extract(raw, region=region).text
        with _gc_paused():
            out = _per_doc_with_deadline(html, timeout_ms_per_doc, one, None)
            return pd.Series(out, dtype="object")

    return extract_text
