"""Pure kernels timed without Spark, single-threaded, on a seeded sample
of the same generated inputs. Runs before the Spark session starts, so
nothing else competes for the CPU."""

from __future__ import annotations

import random
import time

import gen

REPEAT_S = 0.2  # each kernel repeats until this much time has passed


def _per_item(fn, items) -> float:
    """Seconds per item of ``fn(items)``, repeated to at least REPEAT_S."""
    n, t0 = 0, time.perf_counter()
    while True:
        fn(items)
        n += 1
        dt = time.perf_counter() - t0
        if dt >= REPEAT_S:
            return dt / (n * len(items))


def time_kernels(seed: int) -> dict[str, float]:
    from nipper_spark import Document
    from nipper_spark.crawl import bloom as B
    from nipper_spark.crawl import cuckoo as CK
    from nipper_spark.functions.dedup import (
        minhash_signatures_batch, simhash_batch)
    from nipper_spark.functions.html_udfs import extract_text_and_links
    from nipper_spark.functions.url import canonicalize_url
    from nipper_spark.html.tokenizer import tokenize

    from workloads import EXTRACT_PAGES
    out: dict[str, float] = {}
    # the first 400 pages of the extract workload's graph
    pages = gen.link_graph(seed, EXTRACT_PAGES, 16, 12)[:400]
    by_class: dict[str, list[str]] = {}
    for _, cls, html in pages:
        by_class.setdefault(cls, []).append(html)
    for cls, htmls in sorted(by_class.items()):
        out[f"html.parse_ms_per_page.{cls}"] = 1e3 * _per_item(
            lambda hs: [Document.from_html(h) for h in hs], htmls)
    htmls = [h for _, _, h in pages]
    out["html.tokenize_ms_per_page"] = 1e3 * _per_item(
        lambda hs: [list(tokenize(h)) for h in hs], htmls)
    docs = [Document.from_html(h) for h in htmls]
    out["html.select_ms_per_page"] = 1e3 * _per_item(
        lambda ds: [[(r.select("a.t").text(), r.select("a.t").attr("href"),
                      r.select(".s").text())
                     for r in d.select(".item").iter()] for d in ds], docs)
    out["html.nodes_per_page"] = sum(
        len(d.arena.kind) for d in docs) / len(docs)
    out["functions.extract_ms_per_page"] = 1e3 * _per_item(
        lambda ps: [extract_text_and_links(u, h) for u, _, h in ps], pages)

    rng = random.Random(seed)
    hrefs = []
    for url, _, _ in pages:
        hrefs.append(gen.messy_href(rng, url, ""))
    hrefs = [h for h in hrefs if h.startswith(("http", "HTTP"))]
    out["functions.canonicalize_us_per_url"] = 1e6 * _per_item(
        lambda us: [canonicalize_url(u) for u in us], hrefs)

    texts = [t for _, t, _, _ in gen.documents(seed, 4096)]
    for label, size in (("small", 256), ("full", 4096)):
        batch = texts[:size]
        out[f"functions.minhash_ms_per_kdoc.{label}"] = 1e6 * _per_item(
            lambda b: minhash_signatures_batch(b, 64, 3, None, {}), batch)
        out[f"functions.simhash_ms_per_kdoc.{label}"] = 1e6 * _per_item(
            lambda b: simhash_batch(b, 2, {}), batch)

    urls = [canonicalize_url(u) for u, _, _ in pages] * 10
    urls = [f"{u}?v={i}" for i, u in enumerate(urls)]
    m_bits = B.bloom_sizing(len(urls) * 4)
    half = urls[: len(urls) // 2]
    payload = B.bloom_build(half, m_bits)
    out["crawl.kernel.bloom_add_us_per_url"] = 1e6 * _per_item(
        lambda us: B.bloom_add(payload, us, m_bits), urls)
    out["crawl.kernel.bloom_probe_us_per_url"] = 1e6 * _per_item(
        lambda us: B.bloom_might_contain(payload, us), urls)
    cpay = CK.cuckoo_build(half, len(urls) * 4)
    out["crawl.kernel.cuckoo_probe_us_per_url"] = 1e6 * _per_item(
        lambda us: CK.cuckoo_might_contain(cpay, us), urls)
    return out
