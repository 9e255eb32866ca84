"""WARC source + crawl-state compaction tests."""

import datetime
import os

import pytest


@pytest.fixture(scope="module")
def spark():
    from nipper_spark.session import build_session
    return build_session("src-tests", master="local[4]",
                         shuffle_partitions=4)


class TestWarc:
    def test_roundtrip(self, spark, tmp_path):
        from nipper_spark.sources.synthetic import synth_pages_rows
        from nipper_spark.sources.warc import (
            parse_warc_bytes, read_warc_pages, write_warc)
        rows = synth_pages_rows(n_pages=20, links_per_page=3, n_hosts=4)
        recs = [(u, ts, h) for (u, ts, h, _, _) in rows]
        p1 = str(tmp_path / "a.warc")
        p2 = str(tmp_path / "b.warc")
        write_warc(p1, recs[:12])
        write_warc(p2, recs[12:])
        # pure parse roundtrip
        parsed = parse_warc_bytes(open(p1, "rb").read())
        assert [(u, h) for u, _, h in parsed] == \
            [(u, h) for u, _, h in recs[:12]]
        # distributed read into the pages schema
        pages = read_warc_pages(spark, str(tmp_path))
        got = {r["url"]: bytes(r["html"]) for r in pages.collect()}
        assert got == {u: h for u, _, h in recs}

    def test_gzip_members_roundtrip(self, spark, tmp_path):
        """Common Crawl layout: one gzip member per record. The reader
        must parse .warc.gz identically to the uncompressed twin, and
        a mixed directory (plain + gz) must union cleanly."""
        from nipper_spark.sources.synthetic import synth_pages_rows
        from nipper_spark.sources.warc import (
            parse_warc_bytes, read_warc_pages, write_warc, write_warc_gz)
        rows = synth_pages_rows(n_pages=20, links_per_page=3, n_hosts=4)
        recs = [(u, ts, h) for (u, ts, h, _, _) in rows]
        corpus = tmp_path / "corpus"
        corpus.mkdir()
        write_warc_gz(str(corpus / "a.warc.gz"), recs[:12])
        write_warc(str(corpus / "b.warc"), recs[12:])
        gz_bytes = open(corpus / "a.warc.gz", "rb").read()
        assert gz_bytes[:2] == b"\x1f\x8b"
        assert [(u, h) for u, _, h in parse_warc_bytes(gz_bytes)] == \
            [(u, h) for u, _, h in recs[:12]]
        # byte-determinism of the writer (mtime=0) — golden oracles
        # re-generate the same file on every call
        write_warc_gz(str(tmp_path / "a2.warc.gz"), recs[:12])
        assert gz_bytes == open(tmp_path / "a2.warc.gz", "rb").read()
        pages = read_warc_pages(spark, str(corpus / "a.warc.gz"))
        assert pages.count() == 12
        mixed = read_warc_pages(spark, str(corpus))
        assert mixed.count() == 20
        got = {r["url"]: bytes(r["html"]) for r in mixed.collect()}
        assert got == {u: h for u, _, h in recs}

    def test_extraction_over_warc(self, spark, tmp_path):
        """WARC → pages → fused extraction: same bytes as the direct
        path (the source layer is transparent)."""
        from nipper_spark.functions.html_udfs import (
            extract_pages, extract_text_and_links)
        from nipper_spark.sources.synthetic import synth_pages_rows
        from nipper_spark.sources.warc import read_warc_pages, write_warc
        rows = synth_pages_rows(n_pages=10, links_per_page=3, n_hosts=3)
        write_warc(str(tmp_path / "c.warc"),
                   [(u, ts, h) for (u, ts, h, _, _) in rows])
        pages = read_warc_pages(spark, str(tmp_path))
        got = {r["url"]: r["text"] for r in extract_pages(pages).collect()}
        for (u, _, h, _, _) in rows:
            text, _, _, _ = extract_text_and_links(u, h)
            assert got[u] == text


class TestJsonl:
    def test_roundtrip_and_extraction(self, spark, tmp_path):
        from nipper_spark.functions.html_udfs import (
            extract_pages, extract_text_and_links)
        from nipper_spark.sources.jsonl import (
            read_jsonl_pages, write_jsonl)
        from nipper_spark.sources.synthetic import synth_pages_rows
        rows = synth_pages_rows(n_pages=20, links_per_page=3, n_hosts=4)
        write_jsonl(str(tmp_path / "a.jsonl"), rows[:12])
        write_jsonl(str(tmp_path / "b.jsonl"), rows[12:])
        pages = read_jsonl_pages(spark, str(tmp_path))
        got = {r["url"]: bytes(r["html"]) for r in pages.collect()}
        assert got == {u: bytes(h) for (u, _, h, _, _) in rows}
        # html decode is JVM-side: no Python operator above the scan
        from nipper_spark.plans.inspect import python_eval_count
        assert python_eval_count(pages) == 0
        # extraction over the jsonl source matches the kernel
        ext = {r["url"]: r["text"]
               for r in extract_pages(pages).collect()}
        for (u, _, h, _, _) in rows:
            assert ext[u] == extract_text_and_links(u, h)[0]


class TestCompaction:
    def _crawl(self, spark, tmp_path, compact_every, name):
        from nipper_spark.crawl.frontier import FrontierEngine
        from nipper_spark.crawl.politeness import CrawlPolicy
        from nipper_spark.sources.synthetic import (
            PAGES_SCHEMA, synth_pages_rows)
        rows = synth_pages_rows(n_pages=40, links_per_page=4, n_hosts=8)
        pages = spark.createDataFrame(rows, PAGES_SCHEMA)
        policy = CrawlPolicy(default_tokens=6, n_buckets=4,
                             compact_every=compact_every)
        d = str(tmp_path / name)
        eng = FrontierEngine(spark, pages, d, policy)
        eng.bootstrap([(rows[0][0], 1.0), (rows[1][0], 0.9)])
        for r in range(6):
            eng.run_round(r)
        return d

    def test_compaction_preserves_seen(self, spark, tmp_path):
        from nipper_spark.crawl.state import SEEN_SCHEMA, CrawlState
        d_plain = self._crawl(spark, tmp_path, 0, "plain")
        d_comp = self._crawl(spark, tmp_path, 2, "comp")
        seen_plain = {r["url"] for r in CrawlState(spark, d_plain)
                      .read_all_rounds("seen", 7, SEEN_SCHEMA).collect()}
        seen_comp = {r["url"] for r in CrawlState(spark, d_comp)
                     .read_all_rounds("seen", 7, SEEN_SCHEMA).collect()}
        assert seen_plain == seen_comp
        # compacted layout has strictly fewer delta dirs
        n_plain = len(os.listdir(os.path.join(d_plain, "seen")))
        n_comp = len(os.listdir(os.path.join(d_comp, "seen")))
        assert n_comp < n_plain

    def test_crash_mid_compaction_recovers(self, spark, tmp_path):
        from nipper_spark.crawl.frontier import FrontierEngine
        from nipper_spark.crawl.politeness import CrawlPolicy
        from nipper_spark.crawl.state import SEEN_SCHEMA, CrawlState
        from nipper_spark.sources.synthetic import (
            PAGES_SCHEMA, synth_pages_rows)
        rows = synth_pages_rows(n_pages=40, links_per_page=4, n_hosts=8)
        pages = spark.createDataFrame(rows, PAGES_SCHEMA)
        policy = CrawlPolicy(default_tokens=6, n_buckets=4, compact_every=0)
        d = str(tmp_path / "crash")
        eng = FrontierEngine(spark, pages, d, policy)
        eng.bootstrap([(rows[0][0], 1.0), (rows[1][0], 0.9)])
        for r in range(3):
            eng.run_round(r)
        st = CrawlState(spark, d)
        before = {r["url"] for r in st.read_all_rounds(
            "seen", 4, SEEN_SCHEMA).collect()}
        # simulate a crash right after step 1 of compact(): .new written,
        # old deltas still present
        merged = st.read_all_rounds("seen", 3, SEEN_SCHEMA)
        staging = os.path.join(d, "seen", "round=3.new")
        merged.write.mode("overwrite").parquet(staging)
        # resume heals: recovery finishes the swap
        eng2 = FrontierEngine(spark, pages, d, policy)
        eng2.resume_round()
        after = {r["url"] for r in st.read_all_rounds(
            "seen", 4, SEEN_SCHEMA).collect()}
        assert after == before
        assert not os.path.isdir(staging)

    def test_crash_mid_staging_write_keeps_deltas(self, spark, tmp_path):
        """A crash DURING the staging write leaves a partial .new dir
        with no _SUCCESS marker; recovery must discard it and keep the
        deltas — promoting a half-written union would silently drop
        seen URLs (false negatives → re-crawl → oracle divergence)."""
        from nipper_spark.crawl.frontier import FrontierEngine
        from nipper_spark.crawl.politeness import CrawlPolicy
        from nipper_spark.crawl.state import SEEN_SCHEMA, CrawlState
        from nipper_spark.sources.synthetic import (
            PAGES_SCHEMA, synth_pages_rows)
        rows = synth_pages_rows(n_pages=40, links_per_page=4, n_hosts=8)
        pages = spark.createDataFrame(rows, PAGES_SCHEMA)
        policy = CrawlPolicy(default_tokens=6, n_buckets=4, compact_every=0)
        d = str(tmp_path / "crash2")
        eng = FrontierEngine(spark, pages, d, policy)
        eng.bootstrap([(rows[0][0], 1.0), (rows[1][0], 0.9)])
        for r in range(3):
            eng.run_round(r)
        st = CrawlState(spark, d)
        before = {r["url"] for r in st.read_all_rounds(
            "seen", 4, SEEN_SCHEMA).collect()}
        # partial staging: only PART of the union landed, no _SUCCESS
        staging = os.path.join(d, "seen", "round=3.new")
        st.read("seen", 1, SEEN_SCHEMA).write.mode("overwrite") \
            .parquet(staging)
        os.remove(os.path.join(staging, "_SUCCESS"))
        eng2 = FrontierEngine(spark, pages, d, policy)
        eng2.resume_round()
        after = {r["url"] for r in st.read_all_rounds(
            "seen", 4, SEEN_SCHEMA).collect()}
        assert after == before          # nothing lost
        assert not os.path.isdir(staging)  # partial copy discarded


def test_reference_page_resolves_in_one_place(tmp_path, monkeypatch):
    """The reference-fixture path honours NIPPER_REFERENCE_PAGES, and
    an absent fixture fails with the one-line reason (the loaders never
    skip or substitute)."""
    from nipper_spark.sources.synthetic import (
        ReferenceFixturesMissing, fixture_pages_rows, reference_page)
    (tmp_path / "page.html").write_text("<p>x</p>")
    monkeypatch.setenv("NIPPER_REFERENCE_PAGES", str(tmp_path))
    assert reference_page() == str(tmp_path)
    assert reference_page("page.html") == str(tmp_path / "page.html")
    missing = tmp_path / "hacker_news.html"  # first in load order
    with pytest.raises(ReferenceFixturesMissing) as e:
        fixture_pages_rows()
    assert str(e.value) == f"reference fixtures absent at {missing}"
