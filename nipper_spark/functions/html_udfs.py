"""Arrow-batched pandas UDFs wrapping the HTML kernel.

The process-boundary discipline (SURVEY.md §3.1): raw html crosses
from the JVM to the Python worker ONCE per pipeline; parse, selection,
extraction — and mutation when a pipeline needs it — are fused into a
single UDF so a page is never re-parsed. Catalyst cannot push
predicates through a Python UDF, so callers should filter/prune on
native columns (``lang``, ``length(html)``) *before* these run.

Everything is vectorized at the Arrow-batch level; there is no
row-at-a-time Spark Python UDF anywhere in the engine
(BASELINE.json input_hint: "no per-row Python").
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StringType

from nipper_spark.functions.url import resolve_and_canonicalize
from nipper_spark.html import Document
from nipper_spark.html.encoding import decode_html
from nipper_spark.html.document import _matcher


def _to_text(v) -> str:
    if v is None:
        return ""
    if isinstance(v, (bytes, bytearray)):
        # encoding sniff (BOM + meta-charset prescan): real crawl
        # payloads are not all UTF-8 — decoding cp1252 pages as
        # utf-8/replace corrupts text bytes AND every dedup hash
        # downstream. Shared pure kernel, so the oracle agrees.
        return decode_html(v)
    return v


# ----------------------------------------------------------------------
# scalar selector UDF factories (compile the selector once per batch —
# the Matcher-reuse optimization of src/traversal.rs:53-58)
# ----------------------------------------------------------------------

def select_count_udf(selector: str):
    """COUNT of matched nodes per document — ``doc.select(sel).length``."""
    _matcher(selector)  # validate eagerly on the driver

    @F.pandas_udf(IntegerType())
    def _count(html: pd.Series) -> pd.Series:
        m = _matcher(selector)
        out = []
        for h in html:
            doc = Document.from_html(_to_text(h))
            out.append(len(doc.select_matcher(m).ids))
        return pd.Series(out, dtype="int32")

    return _count


def select_text_udf(selector: str):
    """Concatenated text() of ALL matched nodes (src/property.rs:94-102)."""
    _matcher(selector)

    @F.pandas_udf(StringType())
    def _text(html: pd.Series) -> pd.Series:
        m = _matcher(selector)
        out = []
        for h in html:
            doc = Document.from_html(_to_text(h))
            out.append(doc.select_matcher(m).text())
        return pd.Series(out)

    return _text


def select_attr_udf(selector: str, attr: str):
    """Attr of the FIRST matched node, null if absent
    (src/property.rs:22-24)."""
    _matcher(selector)

    @F.pandas_udf(StringType())
    def _attr(html: pd.Series) -> pd.Series:
        m = _matcher(selector)
        out = []
        for h in html:
            doc = Document.from_html(_to_text(h))
            out.append(doc.select_matcher(m).attr(attr))
        return pd.Series(out, dtype="object")

    return _attr


def select_html_udf(selector: str):
    """Serialized HTML of the FIRST matched node, "" if none
    (src/property.rs:84-90)."""
    _matcher(selector)

    @F.pandas_udf(StringType())
    def _html(html: pd.Series) -> pd.Series:
        m = _matcher(selector)
        out = []
        for h in html:
            doc = Document.from_html(_to_text(h))
            out.append(doc.select_matcher(m).html())
        return pd.Series(out)

    return _html


# ----------------------------------------------------------------------
# fused page extraction: parse once → text + outlinks (+ counters)
# ----------------------------------------------------------------------

EXTRACTED_SCHEMA = ("url string, text string, outlinks array<string>, "
                    "n_nodes int, n_anchors int")


def _rel_nofollow(rel: str) -> bool:
    """rel is an ASCII-case-insensitive space-separated token list."""
    return "nofollow" in rel.lower().split()


def resolve_base(url: str, bhref: str | None) -> str:
    """WHATWG document base URL from a raw ``<base href>`` value:
    resolved against the page URL (falling back to the page URL
    itself), kept only when the result is http(s). ONE definition —
    every outlink-resolving kernel routes through here, whether the
    href came from the fused arena walk or a selector pass."""
    from urllib.parse import urljoin, urlsplit
    if bhref:
        try:
            resolved = urljoin(url, bhref.strip())
            if urlsplit(resolved).scheme in ("http", "https"):
                return resolved
        except ValueError:
            pass
    return url


def document_base(doc, url: str) -> str:
    """`resolve_base` over the document's first ``<base href>``."""
    return resolve_base(url, doc.select("base[href]").attr("href"))


def extract_text_and_links(url: str, html,
                           respect_nofollow: bool = False
                           ) -> tuple[str, list[str], int, int]:
    """Pure single-document extraction — THE shared kernel: the Spark
    UDF below and the single-threaded crawl oracle both call this, so
    'Spark matches the oracle' can never diverge on extraction.

    Relative hrefs resolve against the DOCUMENT base (the first
    ``<base href>``, itself resolved against the page URL, per WHATWG;
    falls back to the page URL) — real pages use <base> and resolving
    against the page URL alone mis-attributes their outlinks.

    ``respect_nofollow=True`` (a crawl-policy option, default off so
    plain extraction reports every link) drops anchors whose ``rel``
    token list contains ``nofollow``, and ALL anchors when a
    ``<meta name=robots>`` content token list contains ``nofollow``
    or ``none`` — the microformat half of REP, next to robots.txt.

    Returns (root-element text, canonical outlinks deduped in document
    order, node count, anchor count)."""
    from nipper_spark.html.arena import ELEMENT
    doc = Document.from_html(_to_text(html))
    a = doc.arena
    # fused single walk: text + anchor hrefs in document order
    root = next((c for c in a.children_of(0) if a.kind[c] == ELEMENT), None)
    if root is None:
        return "", [], len(a.kind), 0
    text, hrefs, rels, bhref = a.text_and_anchor_hrefs(
        root, with_rel=True, with_base=True)
    base = resolve_base(url, bhref)
    n_anchors = len(hrefs)
    if respect_nofollow:
        # REP meta directives combine across ALL robots metas on the
        # page (a later <meta name=robots content=nofollow> counts even
        # when an earlier tag carries other directives) — union every
        # matched tag's token set, not just the first tag's
        tokens: set[str] = set()
        for m in doc.select('meta[name="robots" i]').iter():
            meta = m.attr("content") or ""
            tokens |= {t.strip().lower()
                       for t in meta.replace(",", " ").split()}
        if "nofollow" in tokens or "none" in tokens:
            hrefs = []
        else:
            hrefs = [h for h, r in zip(hrefs, rels)
                     if not _rel_nofollow(r)]
    seen: set[str] = set()
    links: list[str] = []
    for href in hrefs:
        canon = resolve_and_canonicalize(base, href)
        if canon is not None and canon not in seen:
            seen.add(canon)
            links.append(canon)
    return text, links, len(a.kind), n_anchors


def extract_pages(pages: DataFrame, url_col: str = "url",
                  html_col: str = "html") -> DataFrame:
    """pages(url, html, …) → extracted(url, text, outlinks, n_nodes,
    n_anchors).

    One fused ``mapInPandas`` pass: WHATWG parse, root-element text
    (the byte-identity invariant), ``a[href]`` selection, href
    resolution + canonicalization, dedup preserving first-occurrence
    (document) order. Input is column-pruned to (url, html) so the
    parquet scan reads only what the UDF needs.
    """
    src = pages.select(F.col(url_col).alias("url"),
                       F.col(html_col).alias("html"))

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            urls, texts, links_col = [], [], []
            n_nodes, n_anchors = [], []
            for url, h in zip(pdf["url"], pdf["html"]):
                text, links, nn, na = extract_text_and_links(url, h)
                urls.append(url)
                texts.append(text)
                links_col.append(links)
                n_nodes.append(nn)
                n_anchors.append(na)
            yield pd.DataFrame({
                "url": urls, "text": texts, "outlinks": links_col,
                "n_nodes": pd.Series(n_nodes, dtype="int32"),
                "n_anchors": pd.Series(n_anchors, dtype="int32")})

    return src.mapInPandas(_extract, schema=EXTRACTED_SCHEMA)


# ----------------------------------------------------------------------
# row-wise record extraction (the hacker-news pipeline shape):
# one page → N records via a row selector + per-field chained selects
# ----------------------------------------------------------------------

def extract_records(pages: DataFrame, row_selector: str,
                    fields: dict[str, tuple[str, str, str | None]],
                    url_col: str = "url",
                    html_col: str = "html") -> DataFrame:
    """FIXTURES.md §4 extraction spec: ``fields`` maps output column →
    (selector, op, arg) with op ∈ {'text','attr','html'}; selectors are
    evaluated as chained selects under each row match (ChildrenOnly,
    exactly the examples/hacker_news.rs:7-13 loop).

    Output: (url, seq, <field>...) — ``seq`` is the 0-based document-
    order index of the row match, making output order deterministic.
    """
    _matcher(row_selector)
    for name, (sel, op, arg) in fields.items():
        _matcher(sel)
        if op not in ("text", "attr", "html"):
            raise ValueError("bad op %r for field %r" % (op, name))

    field_items = sorted(fields.items())
    schema = ("url string, seq int, " +
              ", ".join(f"{name} string" for name, _ in field_items))
    src = pages.select(F.col(url_col).alias("url"),
                       F.col(html_col).alias("html"))

    def _rows(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        row_m = _matcher(row_selector)
        field_ms = [(name, _matcher(sel), op, arg)
                    for name, (sel, op, arg) in field_items]
        # parse-once-per-distinct-page: crawls refetch byte-identical
        # pages constantly (mirrors, pagination templates, retries) and
        # every extraction here is read-only (select/iter/text/attr),
        # so an identical adjacent page can reuse the previous parse.
        # One entry — O(1) memory at any batch width; a miss costs one
        # (early-exiting) string compare against a ~KB page.
        last: tuple[str, Document] | None = None
        for pdf in batches:
            data: dict[str, list] = {"url": [], "seq": []}
            for name, _, _, _ in field_ms:
                data[name] = []
            for url, h in zip(pdf["url"], pdf["html"]):
                text = _to_text(h)
                if last is not None and last[0] == text:
                    doc = last[1]
                else:
                    doc = Document.from_html(text)
                    last = (text, doc)
                for seq, row in enumerate(doc.select_matcher(row_m).iter()):
                    data["url"].append(url)
                    data["seq"].append(seq)
                    for name, m, op, arg in field_ms:
                        sub = row.select_matcher(m)
                        if op == "text":
                            data[name].append(sub.text())
                        elif op == "attr":
                            data[name].append(sub.attr(arg))
                        else:
                            data[name].append(sub.html())
            data["seq"] = pd.Series(data["seq"], dtype="int32")
            yield pd.DataFrame(data)

    return src.mapInPandas(_rows, schema=schema)


def hacker_news_stories(pages: DataFrame) -> DataFrame:
    """The flagship query (README.md:45-51, examples/hacker_news.rs):
    every tr.athing → (title text of '.title a', href of '.storylink')."""
    return extract_records(
        pages, "tr.athing",
        {"title": (".title a", "text", None),
         "href": (".storylink", "attr", "href")})
