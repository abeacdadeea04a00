"""HTML → text extraction — the stage between the WARC source and
every text operator (lang-id, quality, dedup): strip markup, decode
entities, drop script/style, and separate main content from
boilerplate by per-block link density (the jusText/Arc90 family of
heuristics, reduced to its robust core).

Built on stdlib html.parser, which is TOLERANT by design — web HTML
is overwhelmingly malformed and a crawl pipeline must extract from
broken pages, so unlike the binary codecs (hostile-input = raise)
this stage never raises on bad markup; it extracts what's there.

Block model: h1-h6/p/div/li/ul/ol/table/tr/br/section/article/
blockquote/pre/header/footer/nav/dd/dt boundaries end the current
text block; within a block, whitespace runs collapse to one space.
Per block we track total vs anchor-text characters; `main_text`
keeps blocks whose link density <= ``max_link_density`` (navigation
bars, tag clouds, and footers are mostly links — the single most
effective boilerplate signal).

Scale shape: one Arrow-batched mapInPandas pass, no shuffle; the
parse is per-document Python (the PERFORMANCE.md rule tolerates
interpretation per-document; there is no JVM HTML parser in Spark).

Reference parity note: grailbio/bigslice has no HTML tooling; this is
LLM-pipeline surface (SURVEY.md §2.4), like the URL tooling.
"""

from __future__ import annotations

from html.parser import HTMLParser

from pyspark.sql import DataFrame

from ..slice import field_ddl, flatmap_rows

_SKIP = frozenset(("script", "style", "noscript", "template"))
_BLOCK = frozenset((
    "h1", "h2", "h3", "h4", "h5", "h6", "p", "div", "li", "ul", "ol",
    "table", "tr", "br", "section", "article", "blockquote", "pre",
    "header", "footer", "nav", "dd", "dt", "hr",
))


class _Extractor(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.title_parts: list = []
        self.blocks: list = []          # [(text, total_chars, link_chars)]
        self._buf: list = []
        self._skip_depth = 0
        self._in_title = False
        self._anchor_depth = 0
        self._link_chars = 0
        self.n_links = 0

    def _flush(self) -> None:
        raw = "".join(self._buf)
        self._buf.clear()
        text = " ".join(raw.split())
        link = min(self._link_chars, len(text))
        self._link_chars = 0
        if text:
            self.blocks.append((text, len(text), link))

    def handle_starttag(self, tag, attrs):
        if tag in _SKIP:
            self._skip_depth += 1
        elif tag == "title":
            self._in_title = True
        elif tag == "a":
            self._anchor_depth += 1
            self.n_links += 1
        elif tag in _BLOCK:
            self._flush()

    def handle_endtag(self, tag):
        if tag in _SKIP:
            self._skip_depth = max(0, self._skip_depth - 1)
        elif tag == "title":
            self._in_title = False
        elif tag == "a":
            self._anchor_depth = max(0, self._anchor_depth - 1)
        elif tag in _BLOCK:
            self._flush()

    def handle_startendtag(self, tag, attrs):
        if tag in _BLOCK:
            self._flush()

    def handle_data(self, data):
        if self._skip_depth:
            return
        if self._in_title:
            self.title_parts.append(data)
            return
        self._buf.append(data)
        if self._anchor_depth:
            # anchor chars counted on the whitespace-collapsed view
            self._link_chars += len(" ".join(data.split()))


def extract_text(html: str, max_link_density: float = 0.5) -> dict:
    """Parse one document. Returns
    {title, text, main_text, n_links, n_blocks} — `text` is every
    block joined by newlines, `main_text` only the blocks whose
    anchor-text share is <= max_link_density. Never raises on
    malformed markup (tolerant parser; see module docstring)."""
    ex = _Extractor()
    try:
        ex.feed(html)
        ex.close()
    except Exception:
        pass                            # salvage whatever was parsed
    ex._flush()
    title = " ".join("".join(ex.title_parts).split())
    blocks = ex.blocks
    main = [t for t, n, l in blocks
            if n == 0 or l / n <= max_link_density]
    return {
        "title": title,
        "text": "\n".join(t for t, _n, _l in blocks),
        "main_text": "\n".join(main),
        "n_links": ex.n_links,
        "n_blocks": len(blocks),
    }


def html_extract(df: DataFrame, html_col: str = "html",
                 id_col: str = "doc_id",
                 max_link_density: float = 0.5) -> DataFrame:
    """Arrow-batched extraction: (id, title, text, main_text,
    n_links, n_blocks) per input row. NULL html → empty extraction
    (missing page, not an error)."""
    def run(row):
        rid, h = row
        r = extract_text(h if isinstance(h, str) else "", max_link_density)
        yield (rid, r["title"], r["text"], r["main_text"], r["n_links"],
               r["n_blocks"])

    return flatmap_rows(
        df.select(id_col, html_col), run,
        f"{field_ddl(df, id_col)}, title string, text string, "
        f"main_text string, n_links int, n_blocks int")


class _LinkCollector(HTMLParser):
    """Collect (href, anchor_text) pairs. Browser model: anchors do
    not nest — a new <a> implicitly closes the previous one."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.links: list = []
        self._skip_depth = 0
        self._href = None
        self._anchor: list = []

    def _close_anchor(self) -> None:
        if self._href is not None:
            text = " ".join("".join(self._anchor).split())
            self.links.append((self._href, text))
        self._href, self._anchor = None, []

    def handle_starttag(self, tag, attrs):
        if tag in _SKIP:
            self._skip_depth += 1
        elif tag == "a":
            self._close_anchor()
            href = next((v for k, v in attrs if k == "href"), None)
            if href is not None:
                self._href = href.strip()

    def handle_endtag(self, tag):
        if tag in _SKIP:
            self._skip_depth = max(0, self._skip_depth - 1)
        elif tag == "a":
            self._close_anchor()

    def handle_data(self, data):
        if self._skip_depth == 0 and self._href is not None:
            self._anchor.append(data)


def extract_links(html: str, base: str | None = None) -> list:
    """[(resolved_href, raw_href, anchor_text)] for one page.
    ``base`` resolves relative hrefs (urljoin semantics: scheme-
    relative, root-relative, ../ traversal); without a base, resolved
    == raw. Tolerant: never raises on malformed markup."""
    from urllib.parse import urljoin
    lc = _LinkCollector()
    try:
        lc.feed(html)
        lc.close()
    except Exception:
        pass
    lc._close_anchor()
    out = []
    for href, anchor in lc.links:
        if base:
            try:
                resolved = urljoin(base, href)
            except ValueError:
                resolved = href
        else:
            resolved = href
        out.append((resolved, href, anchor))
    return out


def html_links(df: DataFrame, html_col: str = "html",
               id_col: str = "doc_id",
               base_col: str | None = None) -> DataFrame:
    """The outlink edge list: one row per <a href> per page —
    (id, href, raw_href, anchor) — the feed for the engine's link
    graph ops (operators/graph.py pagerank/components run directly
    on the (src, dst) projection after registrable_domain or
    url_normalize). Same Arrow-batched zero-shuffle shape as
    html_extract; relative hrefs resolve against ``base_col`` when
    given (urljoin). Pages with no links contribute no rows."""
    def run(row):
        rid, h, b = row if base_col is not None else (*row, None)
        for resolved, raw, anchor in extract_links(
                h if isinstance(h, str) else "",
                b if isinstance(b, str) else None):
            yield rid, resolved, raw, anchor

    cols = [id_col, html_col] + ([base_col] if base_col is not None
                                 else [])
    return flatmap_rows(
        df.select(*cols), run,
        f"{field_ddl(df, id_col)}, href string, raw_href string, "
        f"anchor string")
