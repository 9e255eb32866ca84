"""Seeded input generator owned by the benchmark.

Every input is a pure function of ``(seed, sizes)``: the same seed gives
byte-identical rows. Nothing is read from outside the checkout; the
workloads write these rows to parquet during set-up, so the engine only
ever sees tables.

Where each share comes from (also stated in README.md and BENCHMARK.json):

- pages: host of each page drawn Zipf(``ZIPF_S``) over ``n_hosts`` hosts,
  host 0 the hot host, and link targets drawn uniformly over all pages,
  both as the package's own synthetic pages table
  (``nipper_spark.sources.synthetic``, FIXTURES.md §1: Zipf(1.2), uniform
  targets). Hrefs are messy (upper-case scheme/host, fragments, unsorted
  queries, relative, dot segments, default port).
- ``PRIVATE_SHARE`` of pages live under ``/private/``, which every host's
  robots rules disallow. Chosen, not measured: it only has to be large
  enough that the robots filter drops URLs in every round.
- page classes: ``PAGE_MIX`` gives the four tree-builder paths equal
  shares. Chosen, not measured: no measurement of these classes' share of
  web pages is known to this benchmark, so each class weighs the same in
  ``pages_per_s`` and ``html.parse_ms_per_page.<class>`` reports each alone.
- extract table: each page is refetched with probability ``REFETCH_P`` =
  1/8, so 2/9 ≈ 22.2% of rows have a byte-identical twin, the share of
  "virtually identical" pages Fetterly, Manasse and Najork measured ("On
  the Evolution of Clusters of Near-Duplicate Web Pages", LA-WEB 2003).
  ``ADJACENT_SHARE`` of the refetches follow their original directly (a
  fetcher retry); the rest land at a uniformly drawn later position (a
  later recrawl). Chosen so that duplicates both with and without an
  identical neighbour are present.
- documents: ``CLUSTER_SHARE`` of documents are edited copies in planted
  near-duplicate clusters, ``EXACT_SHARE`` are case/whitespace variants
  of another document, ``BOILER_SHARE`` carry a shared boilerplate
  paragraph, ``REJECT_SHARE`` fail a C4/Gopher gate. Chosen, not
  measured: each only has to give every curation step work to do.
"""

from __future__ import annotations

import itertools
import random

ZIPF_S = 1.2
PRIVATE_SHARE = 0.10
PAGE_MIX = (("plain", 0.25), ("table", 0.25), ("misnested", 0.25),
            ("foreign", 0.25))
REFETCH_P = 0.125
ADJACENT_SHARE = 0.5
CLUSTER_SHARE = 0.20
EXACT_SHARE = 0.05
BOILER_SHARE = 0.10
REJECT_SHARE = 0.05

_WORDS = ("crawl frontier spark arrow parquet shuffle partition bloom "
          "budget host queue depth score lineage checkpoint skew salt "
          "broadcast catalyst scan filter page link anchor text body "
          "title header footer river mountain window garden market "
          "letter winter summer engine signal harbor pocket silver "
          "number coffee planet forest rocket pencil bottle ticket").split()
_STOP = ("the", "of", "and", "to", "with", "that", "have", "be")
_BOILER = "Subscribe to the newsletter and follow us for the latest news."


def host_name(k: int) -> str:
    return f"h{k:02d}.bench"


def _zipf_cum(n: int, s: float) -> list[float]:
    return list(itertools.accumulate(1.0 / (k + 1) ** s for k in range(n)))


def _page_class(rng: random.Random) -> str:
    x = rng.random()
    for name, share in PAGE_MIX:
        if x < share:
            return name
        x -= share
    return PAGE_MIX[-1][0]


def _sentence(rng: random.Random, n: int) -> str:
    words = rng.choices(_WORDS, k=n)
    words[rng.randrange(n)] = rng.choice(_STOP)
    return " ".join(words).capitalize() + "."


def messy_href(rng: random.Random, target: str, my_host: str) -> str:
    scheme_host, path = target.split("/", 3)[2], "/" + target.split("/", 3)[3]
    style = rng.randrange(7)
    if style == 0:
        return target
    if style == 1:
        return f"HTTP://{scheme_host.upper()}{path}"
    if style == 2:
        return f"{target}#s{rng.randrange(9)}"
    if style == 3:
        return f"{target}?b={rng.randrange(3)}&a={rng.randrange(3)}"
    if style == 4:
        return path if scheme_host == my_host else target
    if style == 5:
        return f"http://{scheme_host}:80{path}"
    head, tail = path.rsplit("/", 1)
    return f"http://{scheme_host}{head}/./x/../{tail}"


def _items(rng: random.Random, links: list[str], tag: str) -> str:
    cell = "td" if tag == "tr" else "span"
    rows = []
    for j, href in enumerate(links[:4]):
        rows.append(
            f'<{tag} class="item"><{cell}><a class="t" href="{href}">'
            f"{rng.choice(_WORDS)} {j}</a></{cell}> "
            f'<{cell} class="s">{rng.randrange(500)} points</{cell}>'
            f"</{tag}>")
    return "".join(rows)


def page_html(rng: random.Random, cls: str, title: str,
              links: list[str]) -> str:
    """One page of class ``cls`` whose anchors point at ``links``.
    Every class carries ``div.item``/``tr.item`` rows for the record
    selector and the same link list; the classes differ in which tree
    builder rules they need."""
    paras = "".join(f"<p>{_sentence(rng, 6 + rng.randrange(14))}</p>"
                    for _ in range(1 + rng.randrange(3)))
    anchors = "".join(f'<li><a href="{h}">link {i}</a></li>'
                      for i, h in enumerate(links[4:]))
    if cls == "plain":
        body = (f"<div class=\"list\">{_items(rng, links, 'div')}</div>"
                f"{paras}<ul>{anchors}</ul>")
    elif cls == "table":
        # stray text and a div directly inside <table>: foster parenting
        body = (f"<table class=\"grid\">{_items(rng, links, 'tr')}"
                f"stray {rng.choice(_WORDS)}<div>{paras}</div>"
                f"<tr><td><ul>{anchors}</ul></td></tr></table>")
    elif cls == "misnested":
        # overlapping formatting elements: the adoption agency algorithm
        body = (f"<div class=\"list\">{_items(rng, links, 'div')}</div>"
                f"<p><b>bold <i>both</b> italic</i></p>{paras}"
                f"<ul><li><b>x<p>{anchors}</b>y</p></li></ul>")
    else:
        body = (f"<svg width=\"20\"><circle r=\"4\"/><foreignObject>"
                f"<p>in svg</p></foreignObject></svg>"
                f"<math><mi>x</mi><mo>=</mo><mn>{rng.randrange(9)}</mn>"
                f"</math><div class=\"list\">{_items(rng, links, 'div')}"
                f"</div>{paras}<ul>{anchors}</ul>")
    return (f"<!DOCTYPE html><html><head><title>{title}</title></head>"
            f"<body><h1>{title}</h1>{body}</body></html>")


def link_graph(seed: int, n_pages: int, n_hosts: int,
               links_per_page: int) -> list[tuple[str, str, str]]:
    """→ [(url, page_class, html)] for a Zipf-hosted link graph."""
    rng = random.Random(seed)
    cum = _zipf_cum(n_hosts, ZIPF_S)
    hosts = rng.choices(range(n_hosts), cum_weights=cum, k=n_pages)
    urls = []
    for i, h in enumerate(hosts):
        section = "private" if rng.random() < PRIVATE_SHARE else \
            rng.choice(("a", "b", "c"))
        urls.append(f"http://{host_name(h)}/{section}/{i}.html")
    out = []
    for i, url in enumerate(urls):
        prng = random.Random(seed * 1_000_003 + i)
        my_host = host_name(hosts[i])
        targets = [urls[prng.randrange(n_pages)]
                   for _ in range(links_per_page)]
        hrefs = [messy_href(prng, t, my_host) for t in targets]
        cls = _page_class(prng)
        out.append((url, cls, page_html(prng, cls, f"Page {i}", hrefs)))
    return out


def robots_rules(n_hosts: int) -> dict[str, list[str]]:
    return {host_name(k): ["/private/"] for k in range(n_hosts)}


def extract_rows(seed: int, n_pages: int) -> list[tuple[str, str, str]]:
    """Pages for the extract workload, with byte-identical refetches:
    ``ADJACENT_SHARE`` of them right after their original, the others
    after a uniformly drawn later original (and its retry, if any)."""
    base = link_graph(seed, n_pages, 16, 12)
    rng = random.Random(seed ^ 0x5EED)
    keyed = []
    for i, row in enumerate(base):
        keyed.append(((i, 0, i), row))
        if rng.random() < REFETCH_P:
            if rng.random() < ADJACENT_SHARE or i + 1 == len(base):
                keyed.append(((i, 1, i), row))
            else:
                keyed.append(((rng.randrange(i + 1, len(base)), 2, i), row))
    return [row for _, row in sorted(keyed, key=lambda t: t[0])]


def duplicate_counts(rows) -> tuple[int, int]:
    """→ (rows repeating an earlier row, those whose previous row is
    byte-identical to them)."""
    seen: set = set()
    dups = adjacent = 0
    for idx, (url, _, html) in enumerate(rows):
        if (url, html) in seen:
            dups += 1
            adjacent += idx > 0 and rows[idx - 1][2] == html
        seen.add((url, html))
    return dups, adjacent


def _doc_text(rng: random.Random, n_paras: int) -> str:
    paras = []
    for _ in range(n_paras):
        paras.append(" ".join(_sentence(rng, 6 + rng.randrange(6))
                              for _ in range(2 + rng.randrange(2))))
    return "\n".join(paras)


def documents(seed: int, n_docs: int) -> list[tuple[int, str, str, str]]:
    """→ [(doc_id, text, lang, source)] with planted duplicates."""
    rng = random.Random(seed)
    docs: list[str] = []
    for i in range(n_docs):
        x = rng.random()
        if docs and x < CLUSTER_SHARE:
            # near duplicate: one word swapped in a copy of a recent doc
            words = docs[rng.randrange(max(0, len(docs) - 50),
                                       len(docs))].split(" ")
            k = rng.randrange(len(words))
            words[k] = rng.choice(_WORDS) + ("." if words[k].endswith(".")
                                             else "")
            text = " ".join(words)
        elif docs and x < CLUSTER_SHARE + EXACT_SHARE:
            text = docs[rng.randrange(len(docs))].upper() + "  "
        elif x < CLUSTER_SHARE + EXACT_SHARE + REJECT_SHARE:
            text = _sentence(rng, 6)  # too short for the gates
        else:
            text = _doc_text(rng, 2 + rng.randrange(3))
            if rng.random() < BOILER_SHARE:
                text = text + "\n" + _BOILER
        docs.append(text)
    return [(i, t, "en" if i % 10 else "de", f"src{i % 7}")
            for i, t in enumerate(docs)]


def embeddings(seed: int, n_vecs: int, dim: int = 64
               ) -> list[tuple[int, list[float], int]]:
    import numpy as np
    m = np.random.RandomState(seed + 17).standard_normal((n_vecs, dim))
    return [(i, m[i].astype(np.float32).tolist(), i % 10)
            for i in range(n_vecs)]
