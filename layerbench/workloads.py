"""The workloads: inputs, the timed action, and the output check.

Every workload calls only the program's public functions (``api``,
``jobs``, ``queries``) on files the benchmark generated. ``action`` is the
timed region; ``before_action``, ``finish_action`` and ``check`` are not.

BENCHMARK.json lists ``text_corpus`` and ``spans_corpus``; the other two
run from the command line. ``job_resume`` fails its check on the current
program (see its docstring), and a listed workload must pass.
``dedup_campaign`` costs some 45 s a run at any input size (JVM start, a
first campaign that compiles its stages, then 3-5 s campaigns bound by
their ~44 jobs, not by the documents), and a full benchmark round of three
workloads does not fit its time budget with more than ~8 s of measuring
per run.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import shutil
from array import array

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from . import gen

#: stated input size per workload (pages, or documents for dedup_campaign)
#: (large enough that the fixed cost of an action through a Python UDF,
#: ~0.7 s here with a trivial UDF, is less than half of an action)
SIZES = {"text_corpus": 16000, "spans_corpus": 1552, "job_resume": 400, "dedup_campaign": 120}
#: pages of the warm-up action in every set-up (at most the input size;
#: dedup_campaign warms by scanning its input)
WARM_SIZES = {"text_corpus": 256, "spans_corpus": 128, "job_resume": 128, "dedup_campaign": 0}
#: the job_resume bucket count, and the buckets whose lineage set-up seeds
N_BUCKETS = 64
SEEDED_BUCKETS = tuple(range(0, N_BUCKETS, 2))


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _md5(s: str | None) -> str:
    return hashlib.md5(("\x00" if s is None else s).encode("utf-8", "surrogatepass")).hexdigest()


def _text_digests(htmls: list) -> list[str]:
    from tesserocr_spark.core.extractor import Extractor

    ex = Extractor()
    return [_md5(ex.extract_text(h)) for h in htmls]


def _doc_digests(htmls: list) -> list[tuple[str, str]]:
    """(extracted_text digest, spans digest) of each page."""
    from tesserocr_spark.core.extractor import Extractor

    ex = Extractor()
    out = []
    for h in htmls:
        d = ex.extract(h)
        out.append((_md5(d.text), reference_digest(d.raw_spans)))
    return out


class Workload:
    name = ""
    #: which extraction function the UDF runs ("text", "spans"), or None
    path: str | None = None
    #: self-test switch: alter the program's output before it is checked
    corrupt = False
    #: untimed runs of the timed action after ``check``: its first run
    #: pays for compiling its own plan
    settle_actions = 1

    def __init__(self, work: str, k: int, seed: int, size: int, warm_size: int) -> None:
        self.work, self.k, self.seed = work, k, seed
        self.size, self.warm_size = size, warm_size
        self.cache = os.path.join(work, "cache")
        self.spark = None

    # -- set-up ------------------------------------------------------------
    def materialise(self) -> None:
        """Generate (or find cached) input files."""

    def prepare(self, spark) -> None:
        self.spark = spark

    def warm(self) -> None:
        """One action on the small warm-up input: boots the Python workers."""

    # -- timed -------------------------------------------------------------
    def before_action(self) -> None:
        pass

    def action(self) -> dict:
        """Run once; returns counters that need no extra Spark job."""
        raise NotImplementedError

    def finish_action(self, handle) -> dict:
        """Turn ``action``'s handle into {"docs": n, "nulls": n} (untimed)."""
        return handle

    # -- checks ------------------------------------------------------------
    def before_check(self) -> None:
        """Untimed work the check needs before the timed loop (oracles)."""

    def check(self) -> tuple[int, list[str]]:
        """(outputs checked, mismatch descriptions) of one untimed full-size
        run before the timed ones; the first full-size run is measurably
        slower while per-worker caches fill and the JIT compiles, and this
        one pays for that."""
        raise NotImplementedError

    def action_checks(self) -> tuple[int, list[str]]:
        """(outputs checked, mismatches) of the runs checked in
        ``finish_action``, for a workload that checks every action."""
        return 0, []

    def sample(self, n: int) -> list:
        """The html of up to ``n`` input pages, for the in-process probes."""
        return []

    def _tamper(self, got):
        """One wrong value in the program output (used when ``corrupt``)."""
        raise NotImplementedError

    def _seen(self, got):
        return self._tamper(got) if self.corrupt else got

    def layer_extras(self) -> dict[str, float]:
        """Per-layer values only this workload can measure."""
        return {}


class _PagesWorkload(Workload):
    def materialise(self) -> None:
        self.pages_dir = gen.materialise(
            self.cache, gen.cache_name("pages", self.seed, self.size, self.k),
            lambda: gen.make_pages(self.seed, self.size, self.k), self.k)
        self.warm_dir = gen.materialise(
            self.cache, gen.cache_name("pages", self.seed + 1_000_003, self.warm_size, self.k),
            lambda: gen.make_pages(self.seed + 1_000_003, self.warm_size, self.k), self.k)

    def prepare(self, spark) -> None:
        self.spark = spark
        self.pages = spark.read.parquet(self.pages_dir)
        self.warm_pages = spark.read.parquet(self.warm_dir)

    def _table(self) -> pa.Table:
        return pq.read_table(self.pages_dir, columns=["url", "html"])

    def sample(self, n: int) -> list:
        return self._table().column("html").slice(0, n).to_pylist()


class _ObservedExtraction(_PagesWorkload):
    """extract → noop sink; the action observes row and NULL-text counts."""

    def _frame(self, pages):
        raise NotImplementedError

    def _observed(self, pages):
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        obs = Observation()
        df = self._frame(pages).observe(
            obs, F.count(F.lit(1)).alias("docs"),
            F.sum(F.col("extracted_text").isNull().cast("int")).alias("nulls"))
        return df, obs

    def warm(self) -> None:
        _noop(self._frame(self.warm_pages))

    def action(self):
        df, obs = self._observed(self.pages)
        _noop(df)
        return obs

    def finish_action(self, obs) -> dict:
        got = obs.get
        return {"docs": int(got["docs"]), "nulls": int(got["nulls"] or 0)}


class TextCorpus(_ObservedExtraction):
    name = "text_corpus"
    path = "text"

    def _frame(self, pages):
        from tesserocr_spark.api import extract_text_only

        return extract_text_only(pages)

    def check(self) -> tuple[int, list[str]]:
        got = self._seen(self._frame(self.pages).select("url", "extracted_text").toArrow())
        got_by_url = dict(zip(got.column("url").to_pylist(),
                              map(_md5, got.column("extracted_text").to_pylist())))
        t = self._table()
        want = _text_digests(t.column("html").to_pylist())
        bad = []
        for url, w in zip(t.column("url").to_pylist(), want):
            if got_by_url.pop(url, None) != w:
                bad.append(f"{url}: extracted_text digest differs")
        bad.extend(f"{u}: unexpected url" for u in got_by_url)
        return t.num_rows, bad

    def _tamper(self, got: pa.Table) -> pa.Table:
        texts = got.column("extracted_text").to_pylist()
        texts[0] = (texts[0] or "") + "x"
        return got.set_column(1, "extracted_text", pa.array(texts, pa.string()))


#: span struct fields as the public schema orders them
_SPAN_FIELDS = ("level", "block_id", "para_id", "line_id", "word_id", "symbol_id",
                "block_type", "text", "conf", "blanks", "bbox", "flags")
_BBOX_FIELDS = ("x0", "y0", "x1", "y1")


def span_digests(spans) -> list[str]:
    """Per-document digest of a ``spans`` list<struct> column: one md5 over
    each document's slice of every leaf column."""
    if isinstance(spans, pa.ChunkedArray):
        spans = spans.combine_chunks()
    offsets = spans.offsets.to_numpy()
    offsets = offsets - offsets[0]
    nulls = spans.is_null().to_numpy(zero_copy_only=False)
    flat = spans.flatten()
    leaves = []
    for f in _SPAN_FIELDS:
        col = flat.field(f)
        if f == "bbox":
            leaves.extend(col.field(b).to_numpy(zero_copy_only=False) for b in _BBOX_FIELDS)
        elif f == "text":
            leaves.append(["\x00" if t is None else t for t in col.to_pylist()])
        else:
            leaves.append(col.to_numpy(zero_copy_only=False))
    out = []
    for i in range(len(spans)):
        if nulls[i]:
            out.append("null")
            continue
        a, b = int(offsets[i]), int(offsets[i + 1])
        h = hashlib.md5()
        for leaf in leaves:
            if isinstance(leaf, list):
                h.update("\x1f".join(leaf[a:b]).encode("utf-8", "surrogatepass"))
            else:
                h.update(leaf[a:b].tobytes())
        out.append(h.hexdigest())
    return out


def reference_digest(raw_spans: list[tuple]) -> str:
    """``span_digests`` of one document, computed from
    ``ExtractedDoc.raw_spans`` (same leaf order and byte layout)."""
    h = hashlib.md5()
    if not raw_spans:
        for _ in range(15):
            h.update(b"")
        return h.hexdigest()
    cols = list(zip(*raw_spans))
    bbox = list(zip(*cols[10]))
    for c in cols[:7]:
        h.update(array("i", c).tobytes())
    h.update("\x1f".join("\x00" if t is None else t for t in cols[7]).encode("utf-8", "surrogatepass"))
    h.update(array("d", cols[8]).tobytes())
    h.update(array("i", cols[9]).tobytes())
    for c in bbox:
        h.update(array("i", c).tobytes())
    h.update(array("i", cols[11]).tobytes())
    return h.hexdigest()


class SpansCorpus(_ObservedExtraction):
    name = "spans_corpus"
    path = "spans"

    def _frame(self, pages):
        from tesserocr_spark.api import extract_pages

        return extract_pages(pages)

    def check(self) -> tuple[int, list[str]]:
        got = self._frame(self.pages).select("url", "extracted_text", "spans").toArrow()
        got = self._seen(got.take(pc.sort_indices(got, [("url", "ascending")])))
        t = self._table()
        t = t.take(pc.sort_indices(t, [("url", "ascending")]))
        if got.column("url").to_pylist() != t.column("url").to_pylist():
            return t.num_rows, ["url set differs from the input"]
        want = _doc_digests(t.column("html").to_pylist())
        bad = []
        got_s = span_digests(got.column("spans"))
        got_t = got.column("extracted_text").to_pylist()
        for j, (url, (want_t, want_s)) in enumerate(zip(t.column("url").to_pylist(), want)):
            if want_t != _md5(got_t[j]):
                bad.append(f"{url}: extracted_text digest differs")
            if want_s != got_s[j]:
                bad.append(f"{url}: spans digest differs")
        return t.num_rows, bad

    def _tamper(self, got: pa.Table) -> pa.Table:
        # the spans of the two documents with the most spans trade places
        lens = pc.list_value_length(got.column("spans")).to_numpy(zero_copy_only=False)
        a, b = (int(i) for i in lens.argsort()[-2:])
        order = list(range(got.num_rows))
        order[a], order[b] = b, a
        return got.set_column(2, "spans", got.column("spans").take(order))


class JobResume(_PagesWorkload):
    """``process_pages`` with txt, tsv and hocr sinks, resuming over a
    lineage table that set-up seeds for every even bucket.

    Its check fails on the current program: ``process_pages`` persists the
    docs frame, whose plan reads the lineage table, then appends to that
    table; the append re-caches the frame against the new lineage, so every
    renderer written after it sees no remaining docs and the txt sink is
    empty. Two ``process_pages`` calls over one output base reproduce it."""

    name = "job_resume"
    path = "spans"

    def _config(self):
        from tesserocr_spark.config import ExtractorConfig

        return ExtractorConfig(variables={"tessedit_create_tsv": "1", "tessedit_create_hocr": "1"})

    def prepare(self, spark) -> None:
        super().prepare(spark)
        self.base = os.path.join(self.work, "job_resume")
        shutil.rmtree(self.base, ignore_errors=True)
        self.template = os.path.join(self.base, "template.lineage")
        os.makedirs(self.template)
        n = len(SEEDED_BUCKETS)
        pq.write_table(pa.table({
            "bucket": pa.array(SEEDED_BUCKETS, pa.int32()),
            "n_docs": pa.array([0] * n, pa.int64()),
            "n_words": pa.array([0] * n, pa.int64()),
            "n_errors": pa.array([0] * n, pa.int64()),
            "completed_at": pa.array([0] * n, pa.timestamp("us", tz="UTC")),
        }), os.path.join(self.template, "part-00000.parquet"))
        self.runs = 0
        self.results: list[dict] = []

    def _fresh_output(self) -> str:
        if self.runs:
            for p in glob.glob(os.path.join(self.base, f"run{self.runs - 1}.*")):
                shutil.rmtree(p, ignore_errors=True)
        out = os.path.join(self.base, f"run{self.runs}")
        shutil.copytree(self.template, out + ".lineage")
        self.runs += 1
        return out

    def warm(self) -> None:
        from tesserocr_spark.jobs import process_pages

        out = self._fresh_output()
        process_pages(self.warm_pages, out, self._config(), n_buckets=N_BUCKETS)

    def before_action(self) -> None:
        self.out = self._fresh_output()

    def action(self) -> dict:
        from tesserocr_spark.jobs import process_pages

        return process_pages(self.pages, self.out, self._config(), n_buckets=N_BUCKETS)

    def finish_action(self, r: dict) -> dict:
        sink_bytes = sum(
            os.path.getsize(os.path.join(d, f))
            for fmt in r["renderers"].values() for d, _, fs in os.walk(fmt) for f in fs
            if not f.startswith((".", "_")))
        self.results.append({"out": self.out, "n_docs": r["n_docs"],
                             "skipped_buckets": r["skipped_buckets"], "sink_bytes": sink_bytes})
        return {"docs": int(r["n_docs"]), "nulls": 0}

    def layer_extras(self) -> dict[str, float]:
        import statistics

        return {
            "sinks.bytes_written_per_doc": statistics.median(
                r["sink_bytes"] / max(1, r["n_docs"]) for r in self.results),
            "jobs.skipped_bucket_ratio": statistics.median(
                r["skipped_buckets"] / N_BUCKETS for r in self.results),
        }

    def _remaining(self) -> tuple[dict, set]:
        """(url -> bucket, urls of the buckets set-up did not seed)."""
        from pyspark.sql import functions as F

        bucket = F.pmod(F.xxhash64("url"), F.lit(N_BUCKETS)).cast("int")
        rows = self.pages.select("url", bucket.alias("b")).toArrow()
        buckets = dict(zip(rows.column("url").to_pylist(), rows.column("b").to_pylist()))
        return buckets, {u for u, b in buckets.items() if b not in set(SEEDED_BUCKETS)}

    def _count_checks(self, results: list[dict]) -> list[str]:
        bad = []
        for r in results:
            if r["n_docs"] != len(self.remaining):
                bad.append(f"{r['out']}: n_docs {r['n_docs']} != {len(self.remaining)} remaining")
            if r["skipped_buckets"] != len(SEEDED_BUCKETS):
                bad.append(f"{r['out']}: skipped {r['skipped_buckets']} "
                           f"!= {len(SEEDED_BUCKETS)}")
        return bad

    def action_checks(self) -> tuple[int, list[str]]:
        timed = self.results[1:]
        return len(timed), self._count_checks(timed)

    def check(self) -> tuple[int, list[str]]:
        """Counts, lineage and txt-sink content of one full run."""
        from tesserocr_spark.core.extractor import Extractor

        buckets, remaining = self._remaining()
        self.remaining = remaining
        seeded = set(SEEDED_BUCKETS)
        self.before_action()
        self.finish_action(self.action())
        bad = self._count_checks(self.results)
        last = self.results[-1]["out"]
        lineage = pq.read_table(last + ".lineage")
        want_buckets = seeded | {buckets[u] for u in remaining}
        got_buckets = set(lineage.column("bucket").to_pylist())
        if got_buckets != want_buckets:
            bad.append(f"lineage holds {len(got_buckets)} buckets, want {len(want_buckets)}")
        nulls = sum(lineage.column("n_errors").to_pylist())
        if nulls:
            bad.append(f"lineage reports {nulls} NULL-result docs")
        got = {}
        for path in sorted(glob.glob(os.path.join(last + ".txt", "part-*"))):
            with open(path, encoding="utf-8") as fh:
                for line in fh:
                    url, payload = line.rstrip("\n").split("\t", 1)
                    got[url] = json.loads(payload).get("extracted_text")
        got = self._seen(got)
        t = self._table()
        ex = Extractor()
        want = {u: ex.extract(h).text for u, h in
                zip(t.column("url").to_pylist(), t.column("html").to_pylist()) if u in remaining}
        digest = lambda d: hashlib.md5(  # noqa: E731
            "\x1e".join(f"{u}\x1f{d[u]}" for u in sorted(d)).encode()).hexdigest()
        if digest(got) != digest(want):
            diff = sum(1 for u in want if got.get(u) != want[u]) + len(set(got) - set(want))
            bad.append(f"txt sink digest differs ({diff} docs)")
        return len(want) + 1, bad

    def _tamper(self, got: dict) -> dict:
        url = min(got) if got else "none"
        return {**got, url: (got.get(url) or "") + "x"}


class DedupCampaign(Workload):
    """``QUERIES["dedup_campaign_keep_lsh"]`` over generated documents. Each
    action collects the keep list, and every one is checked against the
    query's DuckDB oracle. Set-up scans the documents; the first campaign
    in a JVM spends some ten seconds compiling its stages, and the checked
    run before the timed ones absorbs that."""

    name = "dedup_campaign"
    QUERY = "dedup_campaign_keep_lsh"

    def __init__(self, *args) -> None:
        super().__init__(*args)
        self.docs_root = os.path.join(
            self.cache, gen.cache_name("documents", self.seed, self.size, 1))
        self.bad: list[str] = []
        self.checked = 0

    def materialise(self) -> None:
        gen.materialise(self.docs_root, "documents.parquet",
                        lambda: gen.make_documents(self.seed, self.size), 1)

    def warm(self) -> None:
        self.spark.read.parquet(os.path.join(self.docs_root, "documents.parquet")).count()

    def before_action(self) -> None:
        from tesserocr_spark.queries.registry import release_cache

        release_cache()  # every action builds its side tables afresh

    def action(self):
        from tesserocr_spark.queries import QUERIES

        return QUERIES[self.QUERY](self.spark, self.docs_root).toArrow()

    def finish_action(self, keep: pa.Table) -> dict:
        got = self._seen(sorted(keep.column("doc_id").to_pylist()))
        self.checked += 1
        if got != self.oracle:
            diff = len(set(got) ^ set(self.oracle)) + len(got) - len(set(got))
            self.bad.append(f"keep list differs from the DuckDB oracle in {diff} doc_ids")
        return {"docs": self.size, "nulls": 0}

    def before_check(self) -> None:
        import duckdb

        from tesserocr_spark.queries import ORACLES

        sql = ORACLES[self.QUERY]
        path = os.path.join(self.docs_root,
                            f"oracle-{hashlib.md5(sql.encode()).hexdigest()[:12]}.json")
        if not os.path.exists(path):
            con = duckdb.connect()
            con.execute(f"SET threads TO {self.k}")
            docs = os.path.join(self.docs_root, "documents.parquet", "*.parquet")
            con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs}')")
            keep = sorted(int(r[0]) for r in con.execute(sql).fetchall())
            con.close()
            with open(path + ".tmp", "w") as fh:
                json.dump(keep, fh)
            os.rename(path + ".tmp", path)
        with open(path) as fh:
            self.oracle = json.load(fh)

    def check(self) -> tuple[int, list[str]]:
        self.before_action()
        self.finish_action(self.action())
        return 0, []

    def action_checks(self) -> tuple[int, list[str]]:
        return self.checked, self.bad

    def _tamper(self, got: list) -> list:
        return got[1:]


WORKLOADS = {w.name: w for w in (TextCorpus, SpansCorpus, JobResume, DedupCampaign)}
