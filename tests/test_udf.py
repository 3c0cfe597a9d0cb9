"""The two extraction UDF factories, called in-process through ``.func``:
their per-batch deadline contract, equality with the core, and the paused
cyclic collector each batch runs under (with the acyclicity law that makes
the pause safe)."""

from __future__ import annotations

import gc
import itertools
import threading
import time

import pandas as pd
import pytest

from tesserocr_spark import udf
from tesserocr_spark.config import ExtractorConfig
from tesserocr_spark.constants import PSM
from tesserocr_spark.core import Extractor
from tesserocr_spark.core.segment import _Segmenter
from tesserocr_spark.core.tokenizer import fast_feed
from tesserocr_spark.pages import make_page
from tesserocr_spark.schemas import EXTRACT_COLUMNS_SCHEMA, SPAN_COLUMNS, span_transport_name
from tests.test_core import CANONICAL_HTML

N_DOCS = 6
N_RUN = 2  # documents that start before the fake clock jumps


@pytest.fixture
def htmls(spark) -> pd.Series:  # spark: the text UDF's "string" type parses via a session
    return pd.Series([make_page(i)[2] for i in range(N_DOCS)])


@pytest.fixture
def clock_jumps(monkeypatch):
    """udf.time.monotonic reads 0 for the deadline and the first N_RUN
    per-document checks, then jumps far past any budget. Only this thread
    sees the fake clock: the patch is process-wide and Spark's client
    threads must not consume its ticks."""
    ticks = iter([0.0] * (1 + N_RUN))
    real, me = time.monotonic, threading.get_ident()
    monkeypatch.setattr(
        udf.time, "monotonic",
        lambda: next(ticks, 1e9) if threading.get_ident() == me else real(),
    )


def _span_columns(raw_spans: list[tuple]) -> dict[str, list]:
    """Transport arrays of one document, keyed by transport column: the
    12-tuples flattened (bbox at index 10) are in SPAN_COLUMNS order."""
    flat = [s[:10] + tuple(s[10]) + s[11:] for s in raw_spans]
    return {
        span_transport_name(leaf): [row[j] for row in flat]
        for j, leaf in enumerate(SPAN_COLUMNS)
    }


@pytest.mark.parametrize("region", [None, (0, 0, 40, 3)])
def test_columns_udf_deadline(htmls, clock_jumps, region):
    out = udf.make_extract_columns_udf(timeout_ms_per_doc=5, region=region).func(htmls)
    assert list(out.columns) == EXTRACT_COLUMNS_SCHEMA.fieldNames()
    ex = Extractor()
    for i, row in out.iterrows():
        if i < N_RUN:
            d = ex.extract(htmls[i], region=region)
            assert row["extracted_text"] == d.text
            assert row["osd"] == d.osd and row["metrics"] == d.metrics
            for name, values in _span_columns(d.raw_spans).items():
                assert list(row[name]) == values, name
        else:
            assert row["extracted_text"] is None
            assert row["osd"] is None and row["metrics"] is None
            for leaf in SPAN_COLUMNS:
                assert len(row[span_transport_name(leaf)]) == 0, leaf.name


@pytest.mark.parametrize("region", [None, (0, 0, 40, 3)])
def test_text_udf_deadline(htmls, clock_jumps, region):
    out = udf.make_extract_text_udf(timeout_ms_per_doc=5, region=region).func(htmls)
    ex = Extractor()
    expected = [ex.extract(h, region=region).text for h in htmls[:N_RUN]]
    assert list(out) == expected + [None] * (N_DOCS - N_RUN)


#: each factory with the Extractor method its batch calls per document
FACTORIES = {
    "columns": (udf.make_extract_columns_udf, "extract"),
    "text": (udf.make_extract_text_udf, "extract_text"),
}


@pytest.fixture(params=sorted(FACTORIES))
def factory(request):
    return FACTORIES[request.param]


def _patch_per_doc(monkeypatch, method: str, before) -> None:
    """Run ``before(i)`` ahead of the i-th (0-based) per-document call."""
    real = getattr(Extractor, method)
    calls = itertools.count()

    def wrapped(self, *args, **kwargs):
        before(next(calls))
        return real(self, *args, **kwargs)

    monkeypatch.setattr(Extractor, method, wrapped)


@pytest.mark.parametrize("deadline", [False, True])
def test_batch_pauses_and_restores_gc(htmls, factory, monkeypatch, request, deadline):
    make, method = factory
    seen = []
    _patch_per_doc(monkeypatch, method, lambda i: seen.append(gc.isenabled()))
    if deadline:
        request.getfixturevalue("clock_jumps")
    fn = make(timeout_ms_per_doc=5 if deadline else 0).func
    assert gc.isenabled()
    fn(htmls)
    assert gc.isenabled()
    assert seen == [False] * (N_RUN if deadline else N_DOCS)


def test_batch_error_propagates_and_restores_gc(htmls, factory, monkeypatch):
    make, method = factory

    def second_raises(i):
        if i == 1:
            raise RuntimeError("boom on the 2nd document")

    _patch_per_doc(monkeypatch, method, second_raises)
    with pytest.raises(RuntimeError, match="2nd document"):
        make().func(htmls)
    assert gc.isenabled()


def test_batch_keeps_gc_off_for_a_caller_that_disabled_it(htmls, factory):
    make, _ = factory
    gc.disable()
    try:
        make().func(htmls)
        assert not gc.isenabled()
    finally:
        gc.enable()


#: falls off the fast tokenizer (``<![`` section) onto the stdlib parser
FALLBACK_HTML = b"<p>before the section</p><![CDATA[a>b]]><p>after it</p>"


def test_extraction_makes_no_reference_cycles(spark):  # spark: the text UDF's type
    """The law that makes the paused collector safe: everything extraction
    allocates is freed by refcounting, so with GC off nothing is left for a
    collection to find."""
    assert not fast_feed(FALLBACK_HTML.decode(), _Segmenter())
    specials = [CANONICAL_HTML, FALLBACK_HTML, None, b""]
    pages = [make_page(i)[2] for i in range(200)] + specials
    # every PSM, an oversized page (max_html_bytes 64) and char filters,
    # each over the special pages and a slice of the corpus
    configs = [ExtractorConfig(psm=p) for p in range(PSM.COUNT)] + [
        ExtractorConfig(variables={"max_html_bytes": "64"}),
        ExtractorConfig(variables={"tessedit_char_blacklist": "()e", "min_text_chars": "3"}),
    ]
    runs = [(Extractor(), pages)] + [(Extractor(c), pages[:20] + specials) for c in configs]
    batch = pd.Series(pages[:16] + specials)
    columns_fn = udf.make_extract_columns_udf().func
    text_fn = udf.make_extract_text_udf(region=(0, 0, 40, 3)).func
    gc.collect()
    gc.disable()
    try:
        for ex, docs in runs:
            for html in docs:
                ex.extract(html)
                ex.extract(html, region=(0, 0, 40, 3))
                ex.extract_text(html)
        columns_fn(batch)
        text_fn(batch)
        assert gc.collect() == 0
    finally:
        gc.enable()
