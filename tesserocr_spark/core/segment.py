"""HTML segmentation — the graft of Tesseract's page-layout analysis.

The reference segments a raster page into BLOCK -> PARA -> TEXTLINE -> WORD
-> SYMBOL regions (tesserocr/tesserocr.pyx:183-207) before recognizing text
in each. Here the "page" is an HTML document: a single streaming event pass
(the fast regex tokenizer in core/tokenizer.py, with ``html.parser`` as the
behavioral reference and fallback; no DOM materialization) collects *paragraphs*
(maximal inline-text runs) annotated with their region root, semantic tag,
link density and boilerplate ancestry; grouping consecutive paragraphs with
the same (region, type) yields *blocks*. Boilerplate stripping — the graft
of Tesseract separating text from non-text regions — removes blocks under
nav/header/footer/aside ancestors or whose link density exceeds
``max_link_density`` (text-density/link-density heuristic in the spirit of
Kohlschütter et al.'s boilerpipe, reimplemented from the published idea).

Everything here is pure Python and Spark-free so the vectorized UDF and the
pytest fixture generator share one implementation (byte-identity gate).
"""

from __future__ import annotations

import re
from html.parser import HTMLParser

from ..constants import BLOCK_TAGS, BOILERPLATE_TAGS, PT, TAG_TO_PT
from .tokenizer import fast_feed

#: tags that establish a new block-grouping region.
REGION_TAGS = frozenset(
    "main article section nav header footer aside table figure ul ol dl "
    "blockquote body div form".split()
)

#: void/self-closing tags that never hold text.
_VOID_TAGS = frozenset("br img hr meta link input area base col embed source track wbr".split())

#: FROZEN whitespace law: word separators are the FIVE chars of the
#: Java-regex ∩ RE2 ``\s`` intersection — space \t \n \r \f. RE2 (the
#: DuckDB oracle dialect) does NOT count \v as ``\s`` while Java does, so
#: \v is a word character BY LAW (r04 code-review finding; edge row 9015
#: locks it). Python's built-in str.split()/strip()/isspace() are
#: Unicode-aware (U+3000 ideographic space, U+00A0 nbsp, U+2028 …, and
#: \v), which silently diverges from the SQL engines — so those
#: codepoints are all word characters, not separators (r04 edge-oracle
#: finding, tests/test_edge_oracles.py rows 9012/9015).
_ASCII_WS = " \t\n\r\f"
_WS_SPLIT_RE = re.compile(r"[ \t\n\r\f]+")
_NONWS_RE = re.compile(r"[^ \t\n\r\f]")

#: sentinel style marking an explicit <br> fragment (data that merely
#: *contains* a newline is ordinary whitespace, not a line break)
_BR_STYLE = -1

#: tags whose subtree payload is never visible text (checked against the
#: open-tag stack in handle_data)
_SKIP_TAGS = frozenset(("script", "style", "noscript", "template", "title", "head"))

#: unstyled word -> ((word, 0, zeros), sentence_end) — pure function of the
#: word, so caching preserves byte identity; bounded against adversarial
#: vocabularies (cleared wholesale, keeping amortized O(1))
_WORD_CACHE: dict[str, tuple] = {}
_WORD_CACHE_MAX = 1 << 17


class Fragment:
    """One run of character data with its inline context.

    ``style`` is the char-level style bitfield shared with extractor flags:
    1=sup, 2=sub, 64=bold, 128=italic, 256=monospace.
    """

    __slots__ = ("text", "link", "style")

    def __init__(self, text: str, link: bool, style: int) -> None:
        self.text = text
        self.link = link
        self.style = style


class RawParagraph:
    """A maximal inline-text run: the PARA-level segmentation unit."""

    __slots__ = ("tag", "region", "boiler", "frags", "is_image")

    def __init__(self, tag: str, region: int, boiler: bool, is_image: bool = False) -> None:
        self.tag = tag
        self.region = region
        self.boiler = boiler
        self.frags: list[Fragment] = []
        self.is_image = is_image

    def link_density(self) -> float:
        total = 0
        linked = 0
        for f in self.frags:
            n = len(f.text.strip(_ASCII_WS))
            total += n
            if f.link:
                linked += n
        return (linked / total) if total else 0.0

    def pt_type(self) -> int:
        if self.is_image:
            return PT.FLOWING_IMAGE
        return TAG_TO_PT.get(self.tag, PT.FLOWING_TEXT)


class _Segmenter(HTMLParser):
    """Streaming collector of RawParagraphs (convert_charrefs decodes entities)."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.paragraphs: list[RawParagraph] = []
        self._stack: list[str] = []
        self._region_stack: list[int] = [0]
        self._region_counter = 0
        self._boiler_depth = 0
        self._link_depth = 0
        self._sup_depth = 0
        self._sub_depth = 0
        self._bold_depth = 0
        self._italic_depth = 0
        self._mono_depth = 0
        self._current: RawParagraph | None = None
        self._para_tag = "body"

    # -- paragraph lifecycle ------------------------------------------------

    def _flush(self) -> None:
        p = self._current
        if p is not None and (
            p.is_image or any(_NONWS_RE.search(f.text) for f in p.frags)
        ):
            self.paragraphs.append(p)
        self._current = None

    def _ensure_para(self) -> RawParagraph:
        if self._current is None:
            self._current = RawParagraph(
                self._para_tag, self._region_stack[-1], self._boiler_depth > 0
            )
        return self._current

    # -- HTMLParser hooks ----------------------------------------------------

    def handle_starttag(self, tag: str, attrs: list) -> None:
        if tag == "br":
            if self._current is not None:
                self._current.frags.append(Fragment("\n", False, _BR_STYLE))
            return
        if tag in ("img", "hr"):
            self._flush()
            p = RawParagraph(tag, self._region_stack[-1], self._boiler_depth > 0, is_image=True)
            self.paragraphs.append(p)
            return
        if tag in _VOID_TAGS:
            return
        if tag in BLOCK_TAGS:
            self._flush()
            self._para_tag = tag
        if tag in REGION_TAGS:
            self._region_counter += 1
            self._region_stack.append(self._region_counter)
        if tag in BOILERPLATE_TAGS:
            self._boiler_depth += 1
        if tag == "a":
            self._link_depth += 1
        elif tag == "sup":
            self._sup_depth += 1
        elif tag == "sub":
            self._sub_depth += 1
        elif tag in ("b", "strong"):
            self._bold_depth += 1
        elif tag in ("i", "em"):
            self._italic_depth += 1
        elif tag in ("code", "tt", "pre", "kbd", "samp"):
            self._mono_depth += 1
        self._stack.append(tag)

    def handle_endtag(self, tag: str) -> None:
        if tag in _VOID_TAGS:
            return
        if tag in BLOCK_TAGS:
            self._flush()
            self._para_tag = "body"
        if tag in REGION_TAGS and len(self._region_stack) > 1:
            self._region_stack.pop()
        if tag in BOILERPLATE_TAGS and self._boiler_depth > 0:
            self._boiler_depth -= 1
        if tag == "a" and self._link_depth > 0:
            self._link_depth -= 1
        elif tag == "sup" and self._sup_depth > 0:
            self._sup_depth -= 1
        elif tag == "sub" and self._sub_depth > 0:
            self._sub_depth -= 1
        elif tag in ("b", "strong") and self._bold_depth > 0:
            self._bold_depth -= 1
        elif tag in ("i", "em") and self._italic_depth > 0:
            self._italic_depth -= 1
        elif tag in ("code", "tt", "pre", "kbd", "samp") and self._mono_depth > 0:
            self._mono_depth -= 1
        # pop matching open tag if present (tolerates malformed nesting);
        # well-nested markup hits the O(1) top-of-stack case
        stack = self._stack
        if stack:
            if stack[-1] == tag:
                stack.pop()
            else:
                for i in range(len(stack) - 1, -1, -1):
                    if stack[i] == tag:
                        del stack[i:]
                        break

    def handle_data(self, data: str) -> None:
        if self._boiler_depth > 0 and not _SKIP_TAGS.isdisjoint(self._stack):
            return  # script/style/head payloads are never visible text
        if not data:
            return
        p = self._ensure_para()
        style = (
            (1 if self._sup_depth else 0)
            | (2 if self._sub_depth else 0)
            | (64 if self._bold_depth else 0)
            | (128 if self._italic_depth else 0)
            | (256 if self._mono_depth else 0)
        )
        p.frags.append(Fragment(data, self._link_depth > 0, style))

    def close(self) -> None:  # noqa: D102 — flush trailing text
        super().close()
        self._flush()


def parse_paragraphs(html_text: str) -> list[RawParagraph]:
    """Tokenize + segment one HTML document into RawParagraphs.

    The fast regex tokenizer (core/tokenizer.py) handles the common grammar
    ~4x cheaper than the stdlib parser and emits the identical event stream
    (equivalence enforced by tests/test_tokenizer.py); documents with
    constructs outside its grammar (unterminated tags, ``<![`` sections)
    re-run on the stdlib ``HTMLParser`` path, which tolerates anything.
    """
    seg = _Segmenter()
    if fast_feed(html_text, seg):
        seg._flush()
        return seg.paragraphs
    return parse_paragraphs_stdlib(html_text)


def parse_paragraphs_stdlib(html_text: str) -> list[RawParagraph]:
    """Stdlib-tokenizer segmentation: the fallback for documents outside the
    fast grammar, and the behavioral reference the fast path is tested
    against. Tolerant of malformed/unclosed markup (HTMLParser never raises
    on it); plain text with no tags becomes a single body paragraph."""
    seg = _Segmenter()
    try:
        seg.feed(html_text)
        seg.close()
    except Exception:
        # salvage whatever was collected; a paragraph mid-flight is flushed
        seg._flush()
    return seg.paragraphs


def split_lines(para: RawParagraph) -> list[list[tuple[str, int, tuple]]]:
    """Split a paragraph into lines of (word, flags, char_flags) — the
    TEXTLINE/WORD law. ``char_flags`` keeps per-character style bits for
    SYMBOL-level spans (per-symbol attributes, tesserocr/tesserocr.pyx:1018-1040).

    Frozen word law (byte-identity gate, FIXTURES.md §2):

    1. character data between tags concatenates; only ASCII whitespace
       (``_ASCII_WS``) and ``<br>`` separate words — a tag never does;
    2. explicit ``<br>`` breaks a line;
    3. a line also breaks after a word of two or more chars ending in
       sentence-terminal punctuation (``. ! ? …``);
    4. a word's flags are the AND-fold of its chars' style bits
       (1=sup, 2=sub, 64=bold, 128=italic, 256=monospace).
    """
    styled = any(f.style for f in para.frags)  # a <br> (_BR_STYLE) counts
    segments: list[list[Fragment]] = [para.frags]
    if styled:
        segments = [[]]
        for f in para.frags:
            if f.style == _BR_STYLE:
                segments.append([])
            else:
                segments[-1].append(f)

    # the per-word (word, 0, zero char flags) tuple and its sentence-end
    # flag are cached (web text is Zipf-distributed, so the hit rate is high)
    cache = _WORD_CACHE
    lines: list[list[tuple[str, int, tuple]]] = []
    for seg in segments:
        text = "".join([f.text for f in seg])
        char_style: list[int] | None = None
        if styled and any(f.style for f in seg):
            char_style = []
            for f in seg:
                char_style += [f.style] * len(f.text)
        pos = 0
        cur: list[tuple[str, int, tuple]] = []
        for w in _WS_SPLIT_RE.split(text):
            if not w:  # re.split keeps boundary empties str.split() drops
                continue
            ent = cache.get(w)
            if ent is None:
                if len(cache) >= _WORD_CACHE_MAX:
                    cache.clear()
                ent = ((w, 0, (0,) * len(w)), w[-1] in ".!?…" and len(w) > 1)
                cache[w] = ent
            item = ent[0]
            if char_style is not None:
                start = text.index(w, pos)
                pos = start + len(w)
                cfl = tuple(char_style[start:pos])
                wf = cfl[0]
                for fl in cfl:
                    wf &= fl
                item = (w, wf, cfl)
            cur.append(item)
            if ent[1]:
                lines.append(cur)
                cur = []
        if cur:
            lines.append(cur)
    return lines


class Block:
    """BLOCK-level region: consecutive same-(region, type) paragraphs."""

    __slots__ = ("block_type", "boiler", "paras", "is_image")

    def __init__(self, block_type: int, boiler: bool, is_image: bool) -> None:
        self.block_type = block_type
        self.boiler = boiler
        self.is_image = is_image
        self.paras: list[list[list[tuple[str, int]]]] = []  # para -> line -> (word, flags)


def group_blocks(paragraphs: list[RawParagraph], max_link_density: float) -> list[Block]:
    """Group paragraphs into blocks and classify boilerplate.

    A paragraph is boilerplate if it sits under a boilerplate ancestor or its
    own link density exceeds ``max_link_density``. Consecutive paragraphs with
    equal (region, pt_type, boiler) fold into one block, mirroring how the
    reference groups uniform regions into poly-blocks
    (tesserocr/tesserocr.pyx:210-277).
    """
    blocks: list[Block] = []
    prev_key: tuple | None = None
    for p in paragraphs:
        if p.is_image:
            blocks.append(Block(p.pt_type(), p.boiler, True))
            prev_key = None
            continue
        boiler = p.boiler or p.link_density() > max_link_density
        ptype = PT.NOISE if boiler else p.pt_type()
        lines = split_lines(p)
        if not lines:
            continue
        key = (p.region, ptype, boiler)
        if key != prev_key:
            blocks.append(Block(ptype, boiler, False))
            prev_key = key
        blocks[-1].paras.append(lines)
    return blocks
