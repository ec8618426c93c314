"""HTML boilerplate strip via DOM heuristics (north_rule: the
"HTML boilerplate strip, ... DOM heuristics" leg of the main-content
extraction triple; the PDF/layout leg is kernel/extract.py).

A small, deterministic main-content extractor in the Readability /
Boilerpipe family, built on the stdlib ``html.parser`` (no external
deps).  DOM heuristics, applied per text block (a block = the text
directly inside one block-level element):

1. **ancestor-tag rule** — blocks inside <nav>/<header>/<footer>/
   <aside>/<script>/<style> are boilerplate;
2. **marker rule** — blocks whose element (or any ancestor) carries a
   class/id containing a boilerplate marker (nav, menu, footer,
   header, sidebar, ad, comment, promo, banner) are boilerplate;
3. **link-density rule** — blocks whose anchor-text share exceeds
   LINK_DENSITY_MAX are navigation;
4. **length rule** — blocks shorter than MIN_BLOCK_CHARS are noise.

The rules are deliberately closed-form so the DuckDB oracle can
predict the exact output on synthetically wrapped documents
(operators/htmlstrip.py): an independent engine recomputes what the
extractor must keep from the *raw* text — if the parser or any rule
drifts, the value hash diverges.

Pure python/pandas over Arrow batches (operators/htmlstrip.py); no
per-row Spark UDF.
"""

from __future__ import annotations

import html as _html
from dataclasses import dataclass
from html.parser import HTMLParser

MIN_BLOCK_CHARS = 25
LINK_DENSITY_MAX = 0.33
BLOCK_TAGS = frozenset(
    "p div li h1 h2 h3 h4 h5 h6 td th blockquote pre article section "
    "ul ol table tr main body".split())
DROP_TAGS = frozenset("nav header footer aside script style".split())
MARKERS = ("nav", "menu", "footer", "header", "sidebar", "ad",
           "comment", "promo", "banner")


@dataclass
class Block:
    text: str
    link_chars: int
    flagged: bool  # ancestor-tag or marker rule hit

    @property
    def link_density(self) -> float:
        return self.link_chars / len(self.text) if self.text else 0.0

    @property
    def keep(self) -> bool:
        return (not self.flagged
                and len(self.text) >= MIN_BLOCK_CHARS
                and self.link_density <= LINK_DENSITY_MAX)


def _is_marked(attrs: list[tuple[str, str | None]]) -> bool:
    for k, v in attrs:
        if k in ("class", "id") and v:
            low = v.lower()
            if any(m in low for m in MARKERS):
                return True
    return False


class MainContentParser(HTMLParser):
    """Emits one Block per block-level element that contains direct
    text; inline elements (a/b/i/span/...) accumulate into the nearest
    enclosing block element.  Whitespace-only buffers emit nothing, so
    formatting newlines between tags never create phantom blocks.
    Unclosed tags at EOF are flushed (HTML is forgiving)."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.blocks: list[Block] = []
        self.title = ""
        # stack frames: [tag, text_parts, link_chars, flagged]
        self._stack: list[list] = []
        self._a_depth = 0
        self._in_title = False

    def handle_starttag(self, tag, attrs):
        if tag == "title":
            self._in_title = True
            return
        if tag == "a":
            self._a_depth += 1
            return
        flagged_here = tag in DROP_TAGS or _is_marked(attrs)
        if tag in BLOCK_TAGS or tag in DROP_TAGS:
            inherited = any(f[3] for f in self._stack)
            self._stack.append([tag, [], 0, flagged_here or inherited])
        elif flagged_here and self._stack:
            # marked INLINE container (e.g. <span class="ad">) taints
            # its enclosing block
            self._stack[-1][3] = True

    def handle_endtag(self, tag):
        if tag == "title":
            self._in_title = False
            return
        if tag == "a":
            self._a_depth = max(0, self._a_depth - 1)
            return
        if (tag in BLOCK_TAGS or tag in DROP_TAGS) and self._stack:
            # close the innermost matching frame
            for i in range(len(self._stack) - 1, -1, -1):
                if self._stack[i][0] == tag:
                    self._emit(self._stack.pop(i))
                    break

    def handle_data(self, data):
        if self._in_title:
            self.title += data
            return
        if not self._stack:
            return
        frame = self._stack[-1]
        frame[1].append(data)
        if self._a_depth > 0:
            frame[2] += len(data.strip())

    def _emit(self, frame: list) -> None:
        text = "".join(frame[1]).strip()
        if text:
            self.blocks.append(Block(text, frame[2], frame[3]))

    def close(self) -> None:
        super().close()
        while self._stack:
            self._emit(self._stack.pop())


def strip_html(doc: str) -> dict:
    """-> {title, main_text, n_blocks, n_kept} for one HTML document."""
    p = MainContentParser()
    p.feed(doc)
    p.close()
    kept = [b.text for b in p.blocks if b.keep]
    return {
        "title": p.title.strip(),
        "main_text": "\n".join(kept),
        "n_blocks": len(p.blocks),
        "n_kept": len(kept),
    }


# --- deterministic wrapper (test/bench synthesis) ---------------------------

CHUNK = 180  # content paragraph width, mirrored in the oracle SQL
# fixed boilerplate skeleton: 9 text blocks the extractor must drop
# (h1, 3x li, sidebar div, ad div, 2x comment p, footer p)
_PAGE = """<html><head><title>Doc {doc_id}</title></head><body>
<header class="site-header"><h1><a href="/">Example Site</a></h1></header>
<nav id="main-nav"><ul><li><a href="/home">Home page link</a></li>
<li><a href="/about">About this site</a></li>
<li><a href="/contact">Contact and imprint</a></li></ul></nav>
<div class="sidebar"><a href="/x">Related article one</a>
<a href="/y">Related article two</a> <a href="/z">Related article three</a></div>
<div class="ad">Buy now! Incredible deals on everything you need today!</div>
<article>
{paragraphs}
</article>
<div class="comments"><p>first comment, definitely adds nothing here</p>
<p>another remarkably insightful reader comment follows</p></div>
<footer><p>Copyright 2024 Example Corp. All rights reserved. Terms of
Service apply to every visitor of this site without exception.</p></footer>
</body></html>"""
N_BOILERPLATE_BLOCKS = 9


def wrap_document(doc_id, text: str) -> str:
    """Wrap raw text into the deterministic boilerplate page: content
    split into fixed-width <p> chunks (entity-escaped), surrounded by
    the 9-block skeleton.  The oracle predicts the extractor's output
    on this page from the raw text alone (operators/htmlstrip.py)."""
    paras = "\n".join(
        f"<p>{_html.escape(text[i:i + CHUNK])}</p>"
        for i in range(0, len(text), CHUNK))
    return _PAGE.format(doc_id=doc_id, paragraphs=paras)
