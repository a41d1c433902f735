"""Main-content extraction: HTML boilerplate stripping (driver-mandated
stage, BASELINE.json north_star — no reference counterpart).

Algorithm: a single-pass DOM walk (stdlib html.parser, no external deps)
collecting text blocks per block-level element, then text/link-density
scoring in the style of the public Arc90-Readability / jusText /
trafilatura heuristics:

* content inside ``script/style/noscript/template/svg`` is dropped;
* blocks whose ancestor chain contains boilerplate containers
  (``nav/header/footer/aside/form/menu``) or boilerplate id/class tokens
  (nav, menu, footer, sidebar, ad, banner, breadcrumb, …) are dropped;
* remaining blocks are scored by link density (chars inside <a> / total
  chars); blocks with link density > 0.5 are boilerplate (jusText rule);
* surviving blocks are joined with '\\n'.  If nothing survives, the
  highest-text-mass block is returned (never lose the document).

Non-HTML rows pass through untouched, so the operator is safe to run over
mixed transcript tables.  It runs inside the correction plans' single
Arrow crossing (through operators/extract.extract_any); stateless and
embarrassingly parallel (no shuffle).
"""

from __future__ import annotations

import re
from html import unescape
from html.parser import HTMLParser

_HTML_HINT_RE = re.compile(
    r"<\s*(html|body|div|p|br|nav|footer|header|span|table|h[1-6]|article|section|ul|ol|li|a)\b",
    re.IGNORECASE,
)

_DROP_CONTENT = {"script", "style", "noscript", "template", "svg", "head", "title"}
_BOILERPLATE_TAGS = {"nav", "header", "footer", "aside", "form", "menu", "button"}
_BLOCK_TAGS = {
    "div", "p", "td", "li", "article", "section", "main", "body",
    "h1", "h2", "h3", "h4", "h5", "h6", "pre", "blockquote", "table",
}
_BOILERPLATE_CLASS_RE = re.compile(
    r"(^|[-_ ])(nav|navbar|menu|footer|header|sidebar|side-bar|ad|ads|advert|"
    r"banner|breadcrumb|cookie|popup|social|share|comment|widget|copyright|legal)([-_ ]|$)",
    re.IGNORECASE,
)


class _Block:
    __slots__ = ("texts", "link_chars", "boiler")

    def __init__(self, boiler: bool):
        self.texts: list[str] = []
        self.link_chars = 0
        self.boiler = boiler

    @property
    def text(self) -> str:
        return " ".join(t for t in (s.strip() for s in self.texts) if t)

    @property
    def link_density(self) -> float:
        n = len(self.text)
        return self.link_chars / n if n else 1.0


class _Extractor(HTMLParser):
    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.blocks: list[_Block] = [_Block(boiler=False)]
        self._drop_depth = 0
        self._boiler_depth = 0
        self._link_depth = 0

    def _is_boiler_attrs(self, attrs) -> bool:
        for k, v in attrs:
            if k in ("class", "id", "role") and v and _BOILERPLATE_CLASS_RE.search(v):
                return True
        return False

    def handle_starttag(self, tag, attrs):
        if tag in _DROP_CONTENT:
            self._drop_depth += 1
            return
        boiler = tag in _BOILERPLATE_TAGS or self._is_boiler_attrs(attrs)
        if boiler:
            self._boiler_depth += 1
        if tag == "a":
            self._link_depth += 1
        if tag in _BLOCK_TAGS:
            self.blocks.append(_Block(boiler=self._boiler_depth > 0))
        elif boiler and self.blocks[-1].texts:
            # inline boilerplate container: isolate following text
            self.blocks.append(_Block(boiler=True))

    def handle_endtag(self, tag):
        if tag in _DROP_CONTENT:
            self._drop_depth = max(0, self._drop_depth - 1)
            return
        if tag in _BOILERPLATE_TAGS:
            self._boiler_depth = max(0, self._boiler_depth - 1)
        if tag == "a":
            self._link_depth = max(0, self._link_depth - 1)
        if tag in _BLOCK_TAGS:
            # close the block: subsequent text belongs to a fresh block
            self.blocks.append(_Block(boiler=self._boiler_depth > 0))

    def handle_data(self, data):
        if self._drop_depth:
            return
        block = self.blocks[-1]
        if self._boiler_depth and not block.boiler:
            block = _Block(boiler=True)
            self.blocks.append(block)
        block.texts.append(data)
        if self._link_depth:
            block.link_chars += len(data.strip())


def extract_main_content(text: str) -> str:
    """Strip HTML boilerplate; pass non-HTML text through unchanged."""
    if text is None:
        return text
    if "<" not in text or not _HTML_HINT_RE.search(text):
        return text
    try:
        parser = _Extractor()
        parser.feed(text)
        parser.close()
    except Exception:
        # malformed markup: degrade to a tag-strip
        return unescape(re.sub(r"<[^>]+>", " ", text)).strip()
    kept = [
        b.text
        for b in parser.blocks
        if b.text and not b.boiler and b.link_density <= 0.5
    ]
    if kept:
        return "\n".join(kept)
    # fall back to the largest block so the document is never lost
    best = max(parser.blocks, key=lambda b: len(b.text), default=None)
    return best.text if best else ""


