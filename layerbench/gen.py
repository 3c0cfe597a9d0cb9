"""Seeded input generators owned by the benchmark.

The program never sees a seed: these functions turn ``(seed, size)`` into
pages and documents, and the benchmark hands the program only the files.
Nothing here calls ``tesserocr_spark.pages``, so an edit to the program's
own generator cannot shift a workload.

Page mix (``PAGE_MIX``, pages per 97). The shares mirror the corpus that
``tesserocr_spark.pages.make_page`` generates, on which the program's
recorded measurements were taken (558 spans per document with symbols on):
of every 97 pages it makes 91 articles, one heavy page and five degenerate
rows. Three of the 91 article slots go to classes that corpus lacks and the
benchmark must cover; their shares are the benchmark's choice, not a
measured web statistic:

* ``article``    (88) nav of 3-6 links + header + 1-4 paragraphs of 1-3
                 sentences of 3-11 words + footer; every fifth has a table,
                 every seventh a figure with sup/sub and entities — the
                 shapes and rates of ``make_page``'s article;
* ``heavy``      (1) 120 paragraphs of 40 words (~30 KB), as ``make_page``'s
                 heavy page: the size tail;
* ``degenerate`` (5) empty, whitespace-only, nav-only, unclosed and one-char
                 rows, ``make_page``'s five;
* ``nav_dense``  (1, chosen) link-dense navigation and little main text;
* ``fallback``   (1, chosen) a ``<![CDATA[`` marked section that forces the
                 stdlib tokenizer fallback;
* ``intl``       (1, chosen) Cyrillic/Greek/CJK words and non-ASCII
                 whitespace (U+00A0, U+3000, vertical tab).

Class counts are fixed by the size, and the shape parameters within a class
cycle through fixed grids; the seed picks the words, the hosts and the
order. Each class is dealt round-robin over the input files (one scan
partition each), so every partition holds the same mix: a heavy page costs
some fifty articles, and which partition the heavy pages land in would
otherwise decide an action's wall time. So two seeds give different pages
with nearly the same work per partition, which keeps run-to-run spread down
without choosing inputs by hand.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: bump when any generator output changes; part of every cache key
GEN_VERSION = 3

#: pages per 97 of each class (see the module docstring for the sources)
PAGE_MIX = (
    ("article", 88),
    ("heavy", 1),
    ("degenerate", 5),
    ("nav_dense", 1),
    ("fallback", 1),
    ("intl", 1),
)
_MIX_TOTAL = 97

PAGES_ARROW_SCHEMA = pa.schema([
    ("url", pa.string()),
    ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()),
    ("text", pa.string()),
    ("lang", pa.string()),
])

DOCUMENTS_ARROW_SCHEMA = pa.schema([
    ("doc_id", pa.int64()),
    ("text", pa.string()),
    ("lang", pa.string()),
    ("source", pa.string()),
    ("n_chars", pa.int64()),
])

_SYLLABLES = ("ka ri to me nu sa lo vi de pa xu te mo ra fi no be zu la qe "
              "ho gi wa ny el an or is um ex").split()

#: a fixed vocabulary (seed-independent): 1500 two-to-four syllable words
_VOCAB = tuple(
    "".join(_SYLLABLES[(i * p) % len(_SYLLABLES)] for p in (7, 11, 13, 17)[: 2 + i % 3])
    for i in range(1500)
)
_INTL_VOCAB = (
    "привет мир текст страница данные поиск город время "
    "κόσμος λέξη σελίδα κείμενο δεδομένα χρόνος "
    "文本 页面 数据 搜索 城市 时间 世界 语言"
).split()
#: non-ASCII separators that are word characters by the engine's law
_ODD_SPACES = (" ", "　", "\x0b")
_NAV = ("home", "about", "contact", "blog", "archive", "tags", "search")
_DEGENERATE = (
    b"",
    b"   \n ",
    b'<nav><a href="#">one</a> <a href="#">two</a> <a href="#">three</a></nav>',
    b"<p>unclosed <b>bold <i>nest",
    b"x",
)


class _Words:
    """Zipf-distributed word stream over the fixed vocabulary."""

    _CHUNK = 1 << 16

    def __init__(self, rng: np.random.Generator) -> None:
        ranks = np.arange(1, len(_VOCAB) + 1, dtype=np.float64)
        p = 1.0 / ranks ** 1.1
        self._p = p / p.sum()
        self._rng = rng
        self._pool: list[str] = []
        self._pos = 0

    def take(self, n: int) -> list[str]:
        if self._pos + n > len(self._pool):
            idx = self._rng.choice(len(_VOCAB), size=max(n, self._CHUNK), p=self._p)
            self._pool = [_VOCAB[i] for i in idx]
            self._pos = 0
        out = self._pool[self._pos:self._pos + n]
        self._pos += n
        return out

    def sentence(self, n: int) -> str:
        w = self.take(n)
        w[0] = w[0].capitalize()
        return " ".join(w) + "."


def _class_counts(n: int) -> list[tuple[str, int]]:
    counts = [(name, n * share // _MIX_TOTAL) for name, share in PAGE_MIX]
    rest = n - sum(c for _, c in counts)
    return [(counts[0][0], counts[0][1] + rest)] + counts[1:]


def _nav(j: int) -> str:
    links = (f'<a href="/{_NAV[m % len(_NAV)]}">{_NAV[(m + j) % len(_NAV)]}</a>'
             for m in range(3 + j % 4))
    return "<nav>" + " ".join(links) + "</nav>"


def _paras(words: _Words, n_paras: int, j: int) -> str:
    """``n_paras`` paragraphs of 1-3 sentences of 3-11 words."""
    out = []
    for p in range(n_paras):
        s = [words.sentence(3 + (j + p + k) % 9) for k in range(1 + (j + p) % 3)]
        out.append("<p>" + " ".join(s) + "</p>")
    return "".join(out)


_HEAD = "<html><body>"
_TAIL = "<footer>&copy; 2026 example <a href=\"/tos\">terms</a></footer></body></html>"


def _article(main: str, j: int) -> str:
    return (_HEAD + _nav(j) + "<header><h1>Site header</h1></header><main>" + main
            + "</main>" + _TAIL)


def _page(kind: str, j: int, words: _Words, rng: np.random.Generator) -> bytes:
    """Page of class ``kind`` with shape index ``j``."""
    if kind == "degenerate":
        return _DEGENERATE[j % len(_DEGENERATE)]
    if kind == "heavy":
        main = "".join(f"<p>{' '.join(words.take(40))}.</p>" for _ in range(120))
        return f"<html><body><main>{main}</main></body></html>".encode()
    if kind == "nav_dense":
        side = "<div>" + " ".join(f'<a href="/x{m}">{w}</a>' for m, w in
                                  enumerate(words.take(12 + j % 41))) + "</div>"
        return (_HEAD + _nav(j) + side + "<main>" + _paras(words, 1, j) + "</main>"
                + _TAIL).encode()
    main = _paras(words, 1 + j % 4, j)
    if kind == "fallback":
        # "<![" opens a marked section outside the fast tokenizer's grammar
        main = "<![CDATA[ raw <b>markup</b> ]]>" + main
    elif kind == "intl":
        parts = []
        for _ in range(1 + j % 4):
            w = [_INTL_VOCAB[m] for m in rng.integers(0, len(_INTL_VOCAB), size=8 + j % 9)]
            seps = [_ODD_SPACES[m] if m < len(_ODD_SPACES) else " "
                    for m in rng.integers(0, 6, size=len(w) - 1)]
            parts.append("<p>" + "".join(a + b for a, b in zip(w, seps)) + w[-1] + ".</p>")
        main = "".join(parts) + main
    else:
        if j % 5 == 0:
            a, b = words.take(2)
            main += f"<table><tr><td>{a}</td><td>{b}</td></tr></table>"
        if j % 7 == 0:
            main += ("<figure><img src=\"i.png\"><figcaption>caption 2<sup>8</sup> "
                     "&amp; H<sub>2</sub>O&#x2026;</figcaption></figure>")
    return _article(main, j).encode()


#: row languages, as ``make_page`` draws them: 10% deu, 10% fra, 80% eng
_LANGS = ("deu", "fra") + ("eng",) * 8


def _file_sizes(n: int, files: int) -> list[int]:
    return [n // files + (f < n % files) for f in range(files)]


def make_pages(seed: int, n: int, files: int = 1) -> pa.Table:
    """``n`` pages in PAGES schema order, file after file as ``materialise``
    splits them into ``files``; a pure function of (seed, n, files)."""
    rng = np.random.default_rng([GEN_VERSION, seed, n, files])
    words = _Words(rng)
    kinds = [(kind, j) for kind, count in _class_counts(n) for j in range(count)]
    dealt = [kinds[f::files] for f in range(files)]
    urls, htmls, langs = [], [], []
    for part in dealt:
        for k in rng.permutation(len(part)):
            kind, j = part[k]
            # every file sees the same run of shape indices 0, 1, 2, ...
            htmls.append(_page(kind, j // files, words, rng))
            host = int(rng.zipf(1.6)) % 50
            urls.append(f"https://h{host}.bench.example/{kind}/{seed}/{len(urls)}")
            langs.append(_LANGS[int(rng.integers(0, len(_LANGS)))])
    base = np.datetime64("2026-01-01T00:00:00", "us")
    ts = base + np.arange(n, dtype=np.int64) * np.timedelta64(1, "s")
    return pa.table({
        "url": pa.array(urls, pa.string()),
        "warc_ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
        "html": pa.array(htmls, pa.binary()),
        "text": pa.nulls(n, pa.string()),
        "lang": pa.array(langs, pa.string()),
    }, schema=PAGES_ARROW_SCHEMA)


def make_documents(seed: int, n: int) -> pa.Table:
    """``documents`` rows with planted near-duplicates: a tenth of the
    documents copy an earlier one with one word replaced, so the LSH
    campaign has real clusters beside the copies the query plants itself."""
    rng = np.random.default_rng([GEN_VERSION, seed, n, 1])
    words = _Words(rng)
    texts: list[str] = []
    n_dup = n // 10
    dup_at = set(rng.choice(np.arange(n // 4, n), size=n_dup, replace=False).tolist())
    for i in range(n):
        if i in dup_at:
            src = texts[int(rng.integers(0, i))].split(" ")
            src[int(rng.integers(0, len(src)))] = words.take(1)[0]
            texts.append(" ".join(src))
        else:
            texts.append(" ".join(words.take(20 + (i * 37) % 61)))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(["en"] * n, pa.string()),
        "source": pa.array([f"src{i % 7}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }, schema=DOCUMENTS_ARROW_SCHEMA)


def materialise(root: str, name: str, build, files: int) -> str:
    """Write ``build()`` as ``files`` parquet files under ``root/name`` (one
    scan partition each) unless that directory is already complete; returns
    its path. Writes go to a temporary sibling and are renamed into place."""
    path = os.path.join(root, name)
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    table = build()
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    start = 0
    for f, size in enumerate(_file_sizes(table.num_rows, files)):
        pq.write_table(table.slice(start, size), os.path.join(tmp, f"part-{f:05d}.parquet"))
        start += size
    open(os.path.join(tmp, "_SUCCESS"), "w").close()
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    return path


def cache_name(kind: str, seed: int, n: int, files: int) -> str:
    return f"{kind}-v{GEN_VERSION}-s{seed}-n{n}-f{files}"
