"""The two extraction UDF factories, called in-process through ``.func``:
their per-batch deadline contract and equality with the core."""

from __future__ import annotations

import threading
import time

import pandas as pd
import pytest

from tesserocr_spark import udf
from tesserocr_spark.core import Extractor
from tesserocr_spark.pages import make_page
from tesserocr_spark.schemas import EXTRACT_COLUMNS_SCHEMA, SPAN_COLUMNS, span_transport_name

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

