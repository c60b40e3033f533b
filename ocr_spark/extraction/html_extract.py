"""Stage A: from-scratch boilerpipe-style main-content extraction over html bytes.

This is the graft analog of the reference's segmentation + main-content
selection (document_detector.py:31-168 contour detection, text_clustering.py
DBSCAN density clustering): DOM block elements are the candidate "regions",
text-density + link-density heuristics play the role of the contour/cluster
confidence filters, and the ordered join of accepted blocks plays the role of
full_text assembly ('\n'.join, reference ocr/engine.py:142).

Everything here is a pure function of the input bytes — no RNG, no clock, no
dict-order dependence — so the same bytes yield byte-identical text whether
called per-document (golden oracle) or per-Arrow-batch (Spark mapInArrow), at
any parallelism level.
"""

from __future__ import annotations

import html as _htmlmod
import re
from dataclasses import dataclass, field

from ocr_spark import config as C

# Tags whose entire subtree is dropped before block segmentation
# (graft analog of script/style/comment noise removal, reference
# preprocessing/corrections.py:166-189 noise removal stage).
_DROP_OPEN_RE = re.compile(r"<(script|style|svg|noscript)\b[^>]*>", re.IGNORECASE)
_DROP_CLOSE_RE = re.compile(r"</(script|style|svg|noscript)\s*>", re.IGNORECASE)

# Block-level elements: entering or leaving one flushes the current text block.
_BLOCK_TAGS = frozenset(
    {
        "address", "article", "aside", "blockquote", "body", "br", "caption",
        "dd", "div", "dl", "dt", "fieldset", "figcaption", "figure", "footer",
        "form", "h1", "h2", "h3", "h4", "h5", "h6", "head", "header", "hr",
        "html", "li", "main", "nav", "ol", "p", "pre", "section", "table",
        "tbody", "td", "tfoot", "th", "thead", "title", "tr", "ul",
    }
)

# Structural boilerplate containers: blocks inside these are never content.
_BOILER_TAGS = frozenset(C.BOILER_TAGS) | {"head", "title"}

_TOKEN_RE = re.compile(r"<[^>]*>|[^<]+", re.DOTALL)
_TAG_NAME_RE = re.compile(r"</?\s*([a-zA-Z][a-zA-Z0-9]*)")
_PAYLOAD_RE = re.compile(r'data-payload-id="([^"]+)"')
_WS_RE = re.compile(r"\s+")


@dataclass
class Block:
    """One candidate text block with its density statistics."""

    text: str = ""
    n_chars: int = 0
    n_link_chars: int = 0
    n_words: int = 0
    in_boiler: bool = False
    is_content: bool = False

    @property
    def link_density(self) -> float:
        return self.n_link_chars / self.n_chars if self.n_chars else 0.0


@dataclass
class PageExtract:
    """Stage A output for one page."""

    text: str                      # main content, blocks joined by '\n'
    payload_ids: list[str] = field(default_factory=list)
    n_blocks: int = 0
    n_content_blocks: int = 0
    n_doc_regions: int = 0         # content clusters >= MIN_REGION_CONTENT_RATIO
    total_chars: int = 0           # decoded html length
    text_chars: int = 0            # all block text chars (content + boiler)
    content_chars: int = 0         # content-block text chars only
    link_chars: int = 0            # text chars inside <a> anywhere
    tag_count: int = 0             # number of markup tags seen
    # Raw quality-analog metrics (normalized later, natively in Spark SQL):
    blur_raw: float = 0.0          # population variance of block char lengths
    brightness_raw: float = 0.0    # 255 * text_chars / total_chars
    contrast_raw: float = 0.0      # std/mean of block char lengths
    edge_density_raw: float = 0.0  # tag_count / total_chars
    glare_raw: float = 0.0         # link_chars / total_chars
    resolution_raw: float = 0.0    # len(html bytes)


def _flush(blocks: list[Block], cur: Block) -> Block:
    if cur.n_chars:
        cur.text = _WS_RE.sub(" ", cur.text).strip()
        cur.n_words = len(cur.text.split())
        blocks.append(cur)
    return Block()


def _fold(name: str) -> str:
    # The case-insensitive backreference equality of Python's re: per-char
    # simple lowercase. It differs from str.lower() only on U+0130, the one
    # such char that matches a letter of the drop-tag names.
    return name.replace("\u0130", "i").lower()


def _next_closer(s: str, key: str, pos: int) -> re.Match | None:
    m = _DROP_CLOSE_RE.search(s, pos)
    while m is not None and _fold(m.group(1)) != key:
        m = _DROP_CLOSE_RE.search(s, m.end())
    return m


def _drop_subtrees(s: str) -> str:
    r"""Replace each ``<name ...>...</name>`` subtree (name one of the drop
    tags, any case) by one space — the output of
    ``re.sub(r"<(script|style|svg|noscript)\b[^>]*>.*?</\1\s*>", " ", s,
    flags=re.I | re.S)`` in linear time.

    The regex rescans to the end of the page for every unclosed opener. Here
    each name's next closer (or the fact that it has none) is cached: opener
    ends never decrease, so a cached closer at or past the opener's end is
    still the first one. On a miss the scan resumes at the opener's start + 1,
    because an opener can sit inside another opener's ``[^>]*``."""
    out: list[str] = []
    last = pos = 0
    closers: dict[str, re.Match | None] = {}
    while (m := _DROP_OPEN_RE.search(s, pos)) is not None:
        key = _fold(m.group(1))
        if key not in closers or (closers[key] is not None
                                  and closers[key].start() < m.end()):
            closers[key] = _next_closer(s, key, m.end())
        c = closers[key]
        if c is None:
            pos = m.start() + 1
            continue
        out += (s[last:m.start()], " ")
        last = pos = c.end()
    if not out:
        return s
    out.append(s[last:])
    return "".join(out)


def _strip_comments(s: str) -> str:
    """Replace each ``<!--...-->`` comment by one space — the output of
    ``re.sub(r"<!--.*?-->", " ", s, flags=re.S)`` in linear time.

    The regex rescans to the end of the page for every unclosed ``<!--``.
    Here a search for ``-->`` that finds none ends the scan: no later opener
    can be closed either."""
    out: list[str] = []
    last = 0
    while (i := s.find("<!--", last)) != -1:
        j = s.find("-->", i + 4)
        if j == -1:
            break
        out += (s[last:i], " ")
        last = j + 3
    if not out:
        return s
    out.append(s[last:])
    return "".join(out)


def extract_page(html_bytes: bytes) -> PageExtract:
    """Extract main-content text and page statistics from raw html bytes."""
    if not html_bytes:
        return PageExtract(text="")

    raw = html_bytes.decode("utf-8", errors="replace")
    payload_ids = _PAYLOAD_RE.findall(raw)

    cleaned = _strip_comments(raw)
    cleaned = _drop_subtrees(cleaned)

    blocks: list[Block] = []
    cur = Block()
    boiler_depth = 0
    link_depth = 0
    tag_count = 0

    for m in _TOKEN_RE.finditer(cleaned):
        tok = m.group(0)
        if tok.startswith("<"):
            tag_count += 1
            nm = _TAG_NAME_RE.match(tok)
            if not nm:
                continue
            name = nm.group(1).lower()
            closing = tok.startswith("</")
            if name == "a":
                if closing:
                    link_depth = max(0, link_depth - 1)
                elif not tok.endswith("/>"):
                    link_depth += 1
                continue
            if name in _BLOCK_TAGS:
                cur.in_boiler = cur.in_boiler or boiler_depth > 0
                cur = _flush(blocks, cur)
                if name in _BOILER_TAGS:
                    if closing:
                        boiler_depth = max(0, boiler_depth - 1)
                    else:
                        boiler_depth += 1
                cur.in_boiler = boiler_depth > 0
        else:
            # unescape is identity without '&' — skipping it for the common
            # case cuts one transient string per text token (allocation rate
            # is the scaling limiter on shared-LLC hosts, BENCH.md)
            text = _htmlmod.unescape(tok) if "&" in tok else tok
            stripped = _WS_RE.sub(" ", text)
            if stripped.strip():
                cur.text += stripped
                n = len(stripped.strip()) + (1 if cur.n_chars else 0)
                cur.n_chars += n
                if link_depth > 0:
                    cur.n_link_chars += n
                cur.in_boiler = cur.in_boiler or boiler_depth > 0
    _flush(blocks, cur)

    # Block classification: the boilerpipe-style content rule. A block is
    # content iff it is not inside a structural-boilerplate container, its
    # link density is at most MAX_LINK_DENSITY, and it has enough words
    # (analog of region confidence/area filters, reference
    # segmentation_pipeline.py:168-199).
    content_parts: list[str] = []
    content_chars = 0
    text_chars = 0
    link_chars = 0
    lens: list[int] = []
    # Content clusters = runs of content blocks between structural-boilerplate
    # boundaries; their char mass feeds multi-document detection (analog of
    # document_detector.py region extraction — a nav/aside/footer between two
    # content runs is the DOM's "gap between physical documents").
    cluster_chars: list[int] = [0]
    for b in blocks:
        text_chars += b.n_chars
        link_chars += b.n_link_chars
        lens.append(b.n_chars)
        if b.in_boiler:
            if cluster_chars[-1]:
                cluster_chars.append(0)
            continue
        if (
            b.link_density <= C.MAX_LINK_DENSITY
            and b.n_words >= C.MIN_BLOCK_WORDS
        ):
            b.is_content = True
            content_parts.append(b.text)
            content_chars += b.n_chars
            cluster_chars[-1] += b.n_chars

    text = "\n".join(content_parts)

    # A cluster is a document region iff it holds >= MIN_REGION_CONTENT_RATIO
    # of the content chars (document_detector.py:26 min_area_ratio analog).
    n_doc_regions = sum(
        1 for c in cluster_chars
        if content_chars and c >= C.MIN_REGION_CONTENT_RATIO * content_chars
    )

    total_chars = len(cleaned)
    n = len(lens)
    if n:
        mean = sum(lens) / n
        var = sum((x - mean) ** 2 for x in lens) / n
    else:
        mean = var = 0.0

    return PageExtract(
        text=text,
        payload_ids=payload_ids,
        n_blocks=n,
        n_content_blocks=len(content_parts),
        n_doc_regions=n_doc_regions,
        total_chars=total_chars,
        text_chars=text_chars,
        content_chars=content_chars,
        link_chars=link_chars,
        tag_count=tag_count,
        blur_raw=float(var),
        brightness_raw=255.0 * text_chars / total_chars if total_chars else 0.0,
        contrast_raw=(var ** 0.5) / mean if mean else 0.0,
        edge_density_raw=tag_count / total_chars if total_chars else 0.0,
        glare_raw=link_chars / total_chars if total_chars else 0.0,
        resolution_raw=float(len(html_bytes)),
    )
