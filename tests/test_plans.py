"""Physical-plan assertions: the scale claims as tests.

`.explain("formatted")` is part of the engine's contract — these pin
(a) column pruning + predicate pushdown into the parquet scan BEFORE
any Python UDF, (b) broadcast of the wave in the fetch join, (c) that
fused pipelines cross the Python boundary once, not per step.
"""

import os

import pytest
from pyspark.sql import functions as F

from nipper_spark.plans.inspect import (
    exchange_input_columns, has_broadcast_hash_join, plan_graph,
    plan_string, pushed_filters, python_eval_count, read_schema_columns,
    sql_executions)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from nipper_spark.session import build_session
    return build_session("plan-tests", master="local[4]",
                         shuffle_partitions=4)


@pytest.fixture(scope="module")
def pages_parquet(spark, tmp_path_factory):
    """pages table persisted as parquet so scans have real pushdown."""
    from nipper_spark.sources.synthetic import pages_df
    path = str(tmp_path_factory.mktemp("pages") / "pages.parquet")
    pages_df(spark, include_fixtures=False, n_pages=50).write \
        .mode("overwrite").parquet(path)
    return path


class TestPruningAndPushdown:
    def test_extraction_scan_reads_only_url_html(self, spark,
                                                 pages_parquet):
        """extract_pages prunes its input to (url, html): the parquet
        scan must not read warc_ts/text/lang."""
        from nipper_spark.functions.html_udfs import extract_pages
        pages = spark.read.parquet(pages_parquet)
        ext = extract_pages(pages)
        schemas = read_schema_columns(ext)
        assert schemas, "no parquet scan found in plan"
        for cols in schemas:
            assert set(cols) <= {"url", "html"}, cols

    def test_lang_filter_pushed_below_udf(self, spark, pages_parquet):
        """Native filters run at the scan, before ArrowEvalPython."""
        from nipper_spark.functions.html_udfs import extract_pages
        pages = spark.read.parquet(pages_parquet).filter(
            F.col("lang") == "en")
        ext = extract_pages(pages)
        filters = pushed_filters(ext)
        assert any("lang" in f for f in filters), filters

    def test_doc_scan_prunes_to_used_columns(self, spark,
                                             tmp_path_factory):
        # fresh parquet path: a `.cache()` of the shared sf dir in
        # another test module would otherwise substitute the cached
        # all-column InMemoryRelation for this scan
        path = str(tmp_path_factory.mktemp("docs") / "documents.parquet")
        spark.read.parquet(f"{SF_DIR}/documents.parquet") \
            .write.mode("overwrite").parquet(path)
        docs = spark.read.parquet(path)
        from nipper_spark.functions.dedup import exact_dup_groups
        g = exact_dup_groups(docs)
        for cols in read_schema_columns(g):
            assert set(cols) <= {"doc_id", "text"}, cols


class TestJoinStrategies:
    def test_fetch_join_broadcasts_wave(self, spark, pages_parquet):
        """The frontier fetch: big pages scan ⋈ small wave must be a
        BroadcastHashJoin — the pages table is never shuffled."""
        pages = spark.read.parquet(pages_parquet)
        wave = spark.createDataFrame(
            [(f"http://host00.test/page/{i}",) for i in range(10)],
            "url string")
        fetched = pages.join(F.broadcast(wave), "url").select("url", "html")
        assert has_broadcast_hash_join(fetched)
        plan = plan_string(fetched)
        # no shuffle of the pages side
        assert "Exchange hashpartitioning(url" not in plan, plan

    def test_budget_dim_broadcasts(self, spark):
        from nipper_spark.crawl.politeness import (
            CrawlPolicy, budgets_df, select_wave)
        frontier = spark.createDataFrame(
            [(f"http://h{i % 3}.test/p/{i}", f"h{i % 3}.test", i % 4, 1,
              1.0, 0) for i in range(20)],
            "url string, host string, host_bucket int, depth int, "
            "score double, discovered_round int")
        pol = CrawlPolicy(default_tokens=2, host_tokens={"h0.test": 1})
        wave, _ = select_wave(frontier, budgets_df(spark, pol), pol,
                              budgets_rows=1)
        assert has_broadcast_hash_join(wave)

    def test_wave_joins_size_guarded(self, spark):
        """Both broadcast regimes, plan-pinned: below the threshold the
        residual anti-join broadcasts the wave; above it (Σ budgets ∝
        host count — NOT bounded) the same join must fall back to a
        shuffle join instead of an unbounded driver broadcast. Same for
        an unknown-size budgets dim. (Auto-broadcast is disabled so the
        tiny test tables can't be broadcast by stats — at real scale
        the un-hinted sides are far beyond any auto threshold.)"""
        from nipper_spark.crawl.politeness import (
            CrawlPolicy, budgets_df, select_wave)
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            frontier = spark.createDataFrame(
                [(f"http://h{i % 3}.test/p/{i}", f"h{i % 3}.test", i % 4,
                  1, 1.0, 0) for i in range(20)],
                "url string, host string, host_bucket int, depth int, "
                "score double, discovered_round int")
            pol = CrawlPolicy(default_tokens=2)
            dim = budgets_df(spark, pol)
            _, res_small = select_wave(frontier, dim, pol,
                                       wave_bound=10, budgets_rows=1)
            assert has_broadcast_hash_join(res_small)
            _, res_big = select_wave(
                frontier, dim, pol,
                wave_bound=pol.broadcast_wave_threshold + 1,
                budgets_rows=pol.broadcast_dim_threshold + 1)
            assert not has_broadcast_hash_join(res_big), \
                plan_string(res_big)
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

    def test_robots_filter_is_a_join_not_a_literal_expression(self, spark):
        """Robots rules live in DATA: the RFC 9309 candidate filter is
        a LEFT JOIN against the (host, rule, allow) table plus ONE
        hash aggregation taking the longest matching rule per kind —
        a literal expression would grow the plan linearly in rule
        count and kill the analyzer at 10^5+ hosts."""
        from nipper_spark.crawl.politeness import (
            CrawlPolicy, robots_filter)
        cand = spark.createDataFrame(
            [(f"http://h{i}.test/p/{i}", f"h{i}.test") for i in range(6)],
            "url string, host string")
        rules = spark.createDataFrame(
            [(f"h{i % 7}.test", f"/rule{i}/", i % 3 == 0)
             for i in range(1000)],
            "host string, prefix string, allow boolean")
        out = robots_filter(cand, CrawlPolicy(), rules=rules,
                            rules_rows=1000)
        plan = plan_string(out)
        # the decision is join + aggregate, never an unrolled literal:
        # no rule string may appear in the plan text, and plan size is
        # O(1) in rule count
        assert "Join" in plan and "HashAggregate" in plan, plan
        assert "/rule777/" not in plan and "/rule3/" not in plan
        assert len(plan) < 20_000, len(plan)


class TestPythonBoundary:
    def test_fused_extraction_crosses_once(self, spark, pages_parquet):
        """Parse+text+outlinks+counters is ONE Python boundary."""
        from nipper_spark.functions.html_udfs import extract_pages
        pages = spark.read.parquet(pages_parquet)
        assert python_eval_count(extract_pages(pages)) == 1

    def test_record_extraction_crosses_once(self, spark, pages_parquet):
        """The flagship row-extraction (row selector + 2 field selects)
        is also ONE boundary, not three."""
        from nipper_spark.functions.html_udfs import hacker_news_stories
        pages = spark.read.parquet(pages_parquet)
        assert python_eval_count(hacker_news_stories(pages)) == 1


class TestCrawlRoundPlans:
    """A crawl round runs Python tasks only for UDF work. Driver-built
    tables (budgets, robots rules, list-bootstrap state, empty state
    reads) are JVM local relations, so no executed plan scans a Python
    RDD (``applySchemaToPythonRDD``), whose every scan is a Python task
    that only unpickles rows. The candidate chain crosses the Python
    boundary once — the extraction ``MapInPandas``, which also emits
    the host keys — before the bloom probe. Both probe/merge regimes."""

    _PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython",
                     "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas",
                     "MapInPandas", "MapInArrow")

    @pytest.fixture(scope="class", params=["mirror", "cogroup"])
    def round_executions(self, request, spark, pages_parquet,
                         tmp_path_factory):
        from nipper_spark.crawl.frontier import FrontierEngine
        from nipper_spark.crawl.politeness import CrawlPolicy
        pages = spark.read.parquet(pages_parquet)
        seeds = [(r["url"], 1.0)
                 for r in pages.orderBy("url").limit(3).collect()]
        pol = CrawlPolicy(
            default_tokens=6, host_tokens={"host00.test": 3},
            robots_disallow={"host03.test": ["/page/3"]}, n_buckets=4,
            broadcast_bloom_bytes=(64 << 20 if request.param == "mirror"
                                   else 0))
        eng = FrontierEngine(spark, pages,
                             str(tmp_path_factory.mktemp("plans_crawl")),
                             pol)
        eng.bootstrap(seeds)
        after = max((e for e, _, _ in sql_executions(spark)), default=-1)
        eng.run_round(0)
        eng.run_round(1, known_nonempty=True)
        return request.param, sql_executions(spark, after)

    def test_no_python_rdd_scans(self, round_executions):
        _, execs = round_executions
        assert len(execs) > 10
        for eid, desc, plan in execs:
            assert "applySchemaToPythonRDD" not in plan, (eid, desc, plan)

    def test_candidate_chain_crosses_python_once(self, spark,
                                                 round_executions):
        regime, execs = round_executions
        probe = "ArrowEvalPython" if regime == "mirror" \
            else "FlatMapCoGroupsInPandas"
        chains = 0
        for eid, desc, _ in execs:
            if not desc.endswith("fetch+extract+probe+antijoin"):
                continue
            names, children = plan_graph(spark, eid)
            for pid in [i for i, n in names.items() if n == probe]:
                below, todo = [], list(children.get(pid, []))
                while todo:
                    i = todo.pop()
                    below.append(names.get(i, ""))
                    todo.extend(children.get(i, []))
                python = [n for n in below if n in self._PYTHON_NODES]
                # the cached candidates appear once per union branch;
                # the graph may draw the second copy through a reused
                # exchange — each copy holds at most the one crossing
                assert python in ([], ["MapInPandas"]), (eid, python)
                chains += python == ["MapInPandas"]
        assert chains >= 2, "one full candidate chain per round"


class TestCandidateShuffleVolume:
    """LSH/blocking candidate generation must shuffle keys+ids only —
    at corpus scale, text (bands× copies) or vectors riding the
    banded/bucketed self-join is the #1 scale killer."""

    @pytest.fixture(scope="class")
    def docs_parquet(self, spark, tmp_path_factory):
        path = str(tmp_path_factory.mktemp("d") / "documents.parquet")
        spark.read.parquet(f"{SF_DIR}/documents.parquet") \
            .write.mode("overwrite").parquet(path)
        return path

    @pytest.fixture()
    def no_broadcast(self, spark):
        """Force shuffle joins so the sandbox-scale plan shows the same
        exchanges a 100-TB corpus would (tiny tables broadcast away the
        very shuffle these tests pin)."""
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        yield
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

    def test_minhash_banding_carries_no_text(self, spark, docs_parquet,
                                             no_broadcast):
        from nipper_spark.functions.dedup import minhash_lsh_pairs
        docs = spark.read.parquet(docs_parquet)
        pairs = minhash_lsh_pairs(docs)
        exchanges = exchange_input_columns(pairs)
        assert exchanges, "expected shuffles in the LSH plan"
        banded = [cols for cols in exchanges if "band_sig" in cols]
        assert banded, exchanges
        for cols in banded:
            assert "text" not in cols, cols

    def test_ngram_blocking_carries_no_text(self, spark, docs_parquet,
                                            no_broadcast):
        from nipper_spark.functions.dedup import ngram_jaccard_pairs
        docs = spark.read.parquet(docs_parquet)
        pairs = ngram_jaccard_pairs(docs)
        blocked = [cols for cols in exchange_input_columns(pairs)
                   if "block_key" in cols]
        assert blocked
        for cols in blocked:
            assert "text" not in cols, cols

    def test_paragraph_dedup_exchanges_carry_no_text(self, spark,
                                                     docs_parquet,
                                                     no_broadcast):
        """dedup_paragraphs: the winner-per-hash and kept-index
        shuffles move only (id, p_idx, md5) — the paragraph text never
        enters an Exchange except the final co-partitioned join back
        to the docs table by id."""
        from nipper_spark.functions.dedup import dedup_paragraphs
        docs = spark.read.parquet(docs_parquet)
        out = dedup_paragraphs(docs)
        exchanges = exchange_input_columns(out)
        assert exchanges, "expected shuffles in the paragraph-dedup plan"
        narrow = [cols for cols in exchanges
                  if "ph" in cols or "p_idx" in cols]
        assert narrow, exchanges
        for cols in narrow:
            assert "para" not in cols and "text" not in cols, cols

    def test_embedding_buckets_carry_no_vectors(self, spark,
                                                tmp_path_factory,
                                                no_broadcast):
        from nipper_spark.functions.similarity import (
            embedding_near_dup_pairs)
        path = str(tmp_path_factory.mktemp("e") / "embeddings.parquet")
        spark.read.parquet(f"{SF_DIR}/embeddings.parquet") \
            .write.mode("overwrite").parquet(path)
        emb = spark.read.parquet(path)
        pairs = embedding_near_dup_pairs(emb)
        bucketed = [cols for cols in exchange_input_columns(pairs)
                    if "bucket" in cols]
        assert bucketed
        for cols in bucketed:
            assert "vec" not in cols and "embedding" not in cols, cols

    def test_embedding_incremental_buckets_carry_no_vectors(
            self, spark, tmp_path_factory, no_broadcast):
        from nipper_spark.functions.similarity import (
            embedding_near_dup_incremental)
        path = str(tmp_path_factory.mktemp("ei") / "embeddings.parquet")
        spark.read.parquet(f"{SF_DIR}/embeddings.parquet") \
            .write.mode("overwrite").parquet(path)
        emb = spark.read.parquet(path)
        new = (emb.filter(F.col("vec_id") % 25 == 0)
               .withColumn("vec_id", F.col("vec_id") + F.lit(1_000_000)))
        pairs = embedding_near_dup_incremental(new, emb)
        bucketed = [cols for cols in exchange_input_columns(pairs)
                    if "bucket" in cols]
        assert bucketed
        for cols in bucketed:
            assert "vec" not in cols and "embedding" not in cols, cols

    def test_ann_lsh_candidates_carry_no_vectors(self, spark,
                                                 tmp_path_factory,
                                                 no_broadcast):
        """Same ids-first discipline on the ANN query path: neither the
        bucket-join nor the (query_id, vec_id) dedup exchange may carry
        an embedding — vectors join back after dedup."""
        from nipper_spark.functions.similarity import ann_lsh_topk
        path = str(tmp_path_factory.mktemp("e2") / "embeddings.parquet")
        spark.read.parquet(f"{SF_DIR}/embeddings.parquet") \
            .write.mode("overwrite").parquet(path)
        emb = spark.read.parquet(path)
        qs = [(r["vec_id"], r["embedding"])
              for r in emb.orderBy("vec_id").limit(2).collect()]
        topk = ann_lsh_topk(emb, qs, k=3)
        seen_bucket_or_dedup = []
        for cols in exchange_input_columns(topk):
            if "bucket" in cols or set(cols) == {"query_id", "vec_id"}:
                seen_bucket_or_dedup.append(cols)
                assert "embedding" not in cols and \
                    "q_embedding" not in cols, cols
        assert seen_bucket_or_dedup


class TestTopkEquivalence:
    def test_salted_equals_plain_window(self, spark):
        """The salted two-phase top-k must return exactly the plain
        window's rows (top-k is monotone under union)."""
        from nipper_spark.operators.topk import topk_per_key
        df = spark.range(2000).select(
            (F.col("id") % 7).alias("k"),
            (F.col("id") * 37 % 1000).alias("v"),
            F.col("id").alias("id"))
        order = [F.desc("v"), F.asc("id")]
        salted = {(r["k"], r["id"]) for r in
                  topk_per_key(df, "k", order, 5, salt=16).collect()}
        plain = {(r["k"], r["id"]) for r in
                 topk_per_key(df, "k", order, 5, salt=0).collect()}
        assert salted == plain
        assert len(plain) == 35


class TestAdaptiveWaveTopk:
    """select_wave keys the per-host top-k on the FRONTIER-size bound:
    a bounded-small frontier takes the plain one-window rank, an
    unbounded/large one takes the salted two-phase operator. Pin the
    physical shapes so the adaptive switch can't silently die."""

    def _frontier(self, spark):
        return spark.range(500).select(
            F.concat(F.lit("http://h"), (F.col("id") % 9).cast("string"),
                     F.lit(".test/p/"), F.col("id").cast("string"))
            .alias("url"),
            F.concat(F.lit("h"), (F.col("id") % 9).cast("string"),
                     F.lit(".test")).alias("host"),
            (F.col("id") % 4).cast("int").alias("host_bucket"),
            (F.col("id") % 3).cast("int").alias("depth"),
            (F.col("id") % 100 / 100.0).alias("score"),
            F.lit(0).cast("int").alias("discovered_round"))

    def test_small_bound_is_single_window(self, spark):
        from nipper_spark.crawl.politeness import (
            CrawlPolicy, budgets_df, select_wave)
        pol = CrawlPolicy(default_tokens=5, n_buckets=4)
        wave, _ = select_wave(self._frontier(spark),
                              budgets_df(spark, pol), pol,
                              wave_bound=500, budgets_rows=1,
                              frontier_bound=500)
        plan = wave._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Window") == 1, plan

    def test_no_bound_is_salted_two_phase(self, spark):
        from nipper_spark.crawl.politeness import (
            CrawlPolicy, budgets_df, select_wave)
        pol = CrawlPolicy(default_tokens=5, n_buckets=4)
        wave, _ = select_wave(self._frontier(spark),
                              budgets_df(spark, pol), pol,
                              wave_bound=500, budgets_rows=1)
        plan = wave._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Window") == 2, plan

    def test_both_regimes_same_rows(self, spark):
        from nipper_spark.crawl.politeness import (
            CrawlPolicy, budgets_df, select_wave)
        pol = CrawlPolicy(default_tokens=5, n_buckets=4)
        f = self._frontier(spark)
        b = budgets_df(spark, pol)
        small, _ = select_wave(f, b, pol, frontier_bound=500)
        big, _ = select_wave(f, b, pol)  # no bound -> salted
        assert {r["url"] for r in small.collect()} == \
            {r["url"] for r in big.collect()}

