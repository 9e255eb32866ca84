"""Regenerate PLANS.md: the formatted physical plans of the headline
operators, with the scale-relevant plan properties called out. The
plan-shape claims in the annotations are ALSO asserted by
tests/test_plans.py and tests/test_cumsum.py — this file is the
human-readable rendition.

Usage: python tools/dump_plans.py   (writes PLANS.md at the repo root)
"""

import re
import sys

sys.path.insert(0, ".")

SF = "/root/testdata/sf0.001"


def trim(plan: str, max_lines: int = 60) -> str:
    """Keep the operator tree + the most informative detail blocks."""
    lines = [ln.rstrip() for ln in plan.splitlines()]
    out, n = [], 0
    for ln in lines:
        if n >= max_lines:
            out.append("   … (detail blocks truncated; run "
                       "tools/dump_plans.py for the full text)")
            break
        out.append(ln)
        n += 1
    return "\n".join(out)


def main() -> int:
    from pyspark.sql import functions as F
    from nipper_spark.plans.inspect import formatted_plan
    from nipper_spark.session import build_session

    spark = build_session("plan-dump", master="local[4]",
                          shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    # keep the plans honest at scale: never broadcast in these dumps
    # except where the ENGINE asks for it explicitly
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")

    sections = []

    # 1. fused extraction
    from nipper_spark.functions.html_udfs import extract_pages
    from nipper_spark.sources.synthetic import pages_df
    import tempfile
    pdir = tempfile.mkdtemp(prefix="plans_pages_") + "/pages.parquet"
    pages_df(spark, include_fixtures=False, n_pages=50) \
        .write.mode("overwrite").parquet(pdir)
    pages = spark.read.parquet(pdir).filter(F.col("lang") == "en")
    sections.append((
        "Fused page extraction (`extract_pages`)",
        "ONE `MapInPandas` boundary for parse+text+outlinks+counters; "
        "the parquet scan reads ONLY `url,html` (`ReadSchema`) and the "
        "native `lang` filter is pushed into the scan "
        "(`PushedFilters`), so pruning/pushdown happen before any "
        "Python.",
        formatted_plan(extract_pages(pages))))

    # 2. frontier fetch join
    from nipper_spark.crawl.state import local_table
    wave = local_table(
        spark, [(f"http://host00.test/page/{i}",) for i in range(10)],
        "url string")
    fetched = spark.read.parquet(pdir).join(F.broadcast(wave), "url") \
        .select("url", "html")
    sections.append((
        "Frontier fetch (pages ⋈ wave)",
        "The budget-bounded wave is broadcast; the big pages scan is "
        "NEVER shuffled (`BroadcastHashJoin`, no "
        "`Exchange hashpartitioning(url…)` on the pages side). "
        "A driver-held table is a JVM local relation "
        "(`LocalTableScan`), so broadcasting it runs no Python task.",
        formatted_plan(fetched)))

    # 2b. robots decision join (RFC 9309 rules as data)
    from nipper_spark.crawl.politeness import (
        CrawlPolicy, robots_filter, rules_df_from_policy)
    cand = local_table(
        spark,
        [(f"http://h{i}.test/p/{i}", f"h{i}.test") for i in range(8)],
        "url string, host string")
    rules = rules_df_from_policy(spark, CrawlPolicy(
        robots_disallow={f"h{i}.test": ["/p/"] for i in range(4)},
        robots_allow={"h0.test": ["/p/0*"]}))
    sections.append((
        "Robots filter (RFC 9309 decision join over the rules table)",
        "Robots rules live in DATA: LEFT JOIN on host equality + "
        "path LIKE rule-pattern (the */$ wildcard rule compiles to a "
        "LIKE pattern natively on the small rules side), then ONE "
        "hash aggregation per candidate URL taking the longest "
        "matching rule of each kind — allowed iff no disallow matched "
        "or the longest allow >= longest disallow. Plan size is O(1) "
        "in rule count; a literal expression over the rule set would "
        "grow the Catalyst tree linearly — fatal at 10^5+ hosts. "
        "Config-dict rules become the table once, as a JVM local "
        "relation (`LocalTableScan`): no Python task per round.",
        formatted_plan(robots_filter(cand, CrawlPolicy(), rules=rules,
                                     rules_rows=None))))

    # 3. MinHash LSH banding
    from nipper_spark.functions.dedup import minhash_lsh_pairs
    sections.append((
        "MinHash+LSH near-dup pairs",
        "Candidate generation explodes/shuffles `(id, band, band_sig)` "
        "ONLY — no `text` column in any banded Exchange. Texts join "
        "back by id post-dedup for the exact-Jaccard verify, so the "
        "candidate shuffle is ~signature-sized, not bands× the corpus. "
        "ONE exchange + ONE pass: groupBy the band key, collect the "
        "sorted members, expand pairs with pure Catalyst array lambdas "
        "(the plan shows a single ArrowEvalPython for the sketch — a "
        "window+self-join form re-evaluated it per branch, 3× per "
        "action); buckets over `max_bucket` emit star edges to the "
        "bucket min instead of all pairs, so a mass-duplicate flood "
        "costs O(B) candidates, not O(B²). The verify UDF is marked "
        "nondeterministic so the threshold filter cannot duplicate it.",
        formatted_plan(minhash_lsh_pairs(docs))))

    # 3b. adaptive recrawl scoring
    from nipper_spark.crawl.revisit import revisit_scores
    log = spark.range(0, 10000).select(
        F.concat(F.lit("http://h"), (F.col("id") % 50).cast("string"),
                 F.lit(".test/p"), (F.col("id") % 500).cast("string"))
        .alias("url"),
        (F.col("id") / 500).cast("long").alias("seq"),
        (F.col("id") % 3).cast("string").alias("fingerprint"))
    sections.append((
        "Adaptive recrawl scoring (`crawl/revisit.py`)",
        "ONE `Exchange hashpartitioning(url)` feeds the change-detect "
        "lag window, the last-changed-seq window, AND the final "
        "aggregation — all three reuse the same partitioning. Zero "
        "Python in the plan (pure Catalyst windows + pow), so the "
        "whole operator stays inside whole-stage codegen.",
        formatted_plan(revisit_scores(log))))

    # 4. ANN brute top-k
    from nipper_spark.functions.similarity import ann_brute_topk
    queries = [(r["vec_id"], r["embedding"])
               for r in emb.orderBy("vec_id").limit(3).collect()]
    sections.append((
        "ANN brute-force cosine top-k",
        "Queries broadcast (sc.broadcast inside the UDF closure); each "
        "partition scores its shard as one numpy matmul and emits only "
        "its local top-k; the final per-query window reduces ≤ "
        "k·partitions rows. The corpus is never shuffled or collected.",
        formatted_plan(ann_brute_topk(emb, queries, k=5))))

    # 5. two-phase running sum
    from nipper_spark.operators.cumsum import running_sum
    df = spark.range(0, 100000).select(
        F.col("id"), (F.col("id") % 97).alias("v"),
        (F.col("id") % 7).alias("w"))
    sections.append((
        "Two-phase global running sum (`operators/cumsum.py`)",
        "`Exchange hashpartitioning(_cumsum_pid)` (parallel) carries "
        "the data, bucketed by a LITERAL boundary expression sampled "
        "once on the driver (deterministic across actions — nothing "
        "persisted, unlike a RangePartitioner); the only `Exchange "
        "SinglePartition` carries ONE ROW PER BUCKET "
        "(`_cumsum_pid,_ptotal`) for the offset prefix — no "
        "single-partition window over data-scale rows.",
        formatted_plan(running_sum(
            df, [("v", "desc"), ("id", "asc")], "w", "run"))))

    # 6. exact dedup
    from nipper_spark.functions.dedup import exact_dup_groups
    sections.append((
        "Exact dedup groups",
        "Shuffles `md5(normalized text)` + ids only; partial "
        "aggregation (map-side combine) before the exchange; the scan "
        "reads only `doc_id,text`.",
        formatted_plan(exact_dup_groups(docs))))

    # 7. IVF-PQ ANN (the coded-index scale path)
    from nipper_spark.functions.similarity import ann_ivfpq_topk
    queries2 = queries[:2]
    sections.append((
        "IVF-PQ ANN (coded index, ADC shortlist, exact re-rank)",
        "The corpus is encoded once to `(vec_id, list_id, m codes)` — "
        "the index side of the probe join carries CODES, never "
        "vectors; only the rerank·k shortlist joins true vectors back "
        "by id. Codebooks are a broadcast variable inside the UDF "
        "closures (no join).",
        formatted_plan(ann_ivfpq_topk(emb, queries2, k=5, n_lists=8))))

    # 8. deterministic hash sampling (pure codegen)
    from nipper_spark.functions.sampling import stratified_hash_sample
    sections.append((
        "Deterministic hash sampling",
        "Membership = md5-prefix string compare: one codegen'd CASE "
        "WHEN filter directly over the scan — no shuffle, no Python, "
        "repartition-stable decisions.",
        formatted_plan(stratified_hash_sample(
            docs, "lang", {"en": 0.5}, "doc_id", 0.1))))

    # 9. host-graph PageRank (one iteration shown; loop is per-round
    # identical because each round localCheckpoints)
    from nipper_spark.functions.graph import pagerank
    edges = spark.range(0, 2000).select(
        F.concat(F.lit("h"), (F.col("id") % 80).cast("string"))
        .alias("src"),
        F.concat(F.lit("h"), ((F.col("id") * 7) % 80).cast("string"))
        .alias("dst"))
    sections.append((
        "Host-graph PageRank (integer-quantized, `functions/graph.py`)",
        "Fixed-point LONG arithmetic end-to-end, so the result is "
        "bit-identical regardless of partitioning or aggregation-tree "
        "shape (a float formulation drifts at 1000 executors). Per "
        "iteration: ONE ranks⋈edges shuffle join on src + ONE "
        "groupBy(dst) with map-side partial LONG sums; the dangling "
        "total is a 1-row aggregate broadcast back — no driver collect "
        "inside the loop; each round `localCheckpoint`s so Catalyst "
        "re-analysis stays O(1) in iteration count (this dump passes "
        "`checkpoint=False` to show one round's real plan — production "
        "keeps the checkpoint, so the lineage never grows).",
        formatted_plan(pagerank(edges, iters=1, checkpoint=False))))

    # 9b. repeated-span boilerplate removal
    from nipper_spark.functions.boilerplate import remove_repeated_spans
    sections.append((
        "Repeated-span boilerplate removal "
        "(`functions/boilerplate.py`)",
        "Text crosses into Python exactly twice (hash the word "
        "n-grams; rebuild the cleaned text) — the exploded gram rows "
        "that ride every Exchange are 24-byte (id, pos, hash) tuples, "
        "never text. Document frequency is a distinct+groupBy over the "
        "hash only; flagged span positions collect per doc as a sorted "
        "int array, and docs with no hot spans pass through the left "
        "join verbatim.",
        formatted_plan(remove_repeated_spans(docs))))

    # 9c. anchor-text index
    from nipper_spark.functions.anchors import anchor_text_index
    sections.append((
        "Anchor-text index (`functions/anchors.py`)",
        "html crosses into Python once; every Exchange carries short "
        "(src_host, dst, anchor) string triples or per-(dst, anchor) "
        "counts with map-side partial aggregation. The per-target "
        "top-k anchor selection is the salted two-phase "
        "`topk_per_key` — the frontier wave selector's kernel — so a "
        "mega-popular target (every page links to the home page) "
        "cannot pin one shuffle partition.",
        formatted_plan(anchor_text_index(
            spark.read.parquet(pdir).select("url", "html"), 5))))

    # 9d. benchmark decontamination
    from nipper_spark.functions.decontam import decontaminate
    bench = docs.limit(5).select("text")
    sections.append((
        "Benchmark decontamination (`functions/decontam.py`)",
        "The benchmark side (eval suites: MBs vs the 100-TB corpus) "
        "reduces to distinct gram hashes and BROADCASTS — the corpus "
        "gram stream joins with no corpus shuffle; the only Exchange "
        "is the per-doc hit aggregation carrying (id, gram_h) longs. "
        "Corpus text crosses into Python once (to hash).",
        formatted_plan(decontaminate(docs, bench))))

    # 9e. C4 quality filter — pure Catalyst, zero shuffle
    from nipper_spark.functions.filtering import c4_clean
    sections.append((
        "C4-style quality filter (`functions/filtering.py`)",
        "Line rules (terminal punct, min words, javascript) via "
        "higher-order array functions; page rules (sentence floor, "
        "lorem ipsum, braces, bad words) via translate/contains — "
        "ZERO Python, ZERO Exchange: one projection straight over the "
        "scan, like the PII scrubber.",
        formatted_plan(c4_clean(docs))))

    # 9f. Gopher gates — staged projections, still zero shuffle
    from nipper_spark.functions.filtering import (gopher_quality,
                                                  gopher_repetition)
    sections.append((
        "Gopher quality + repetition gates (`functions/filtering.py`)",
        "Every published ratio restated as an integer cross-product; "
        "the words/lines arrays are materialized ONCE per row by "
        "staged selects (CollapseProject keeps non-cheap expressions "
        "shared instead of inlining one split per counter); duplicate "
        "lines and the top bigram come from in-row sorted-array scans "
        "(`sort_array` + neighbor compare, one `aggregate` run-length "
        "pass). ZERO Python, ZERO Exchange.",
        formatted_plan(gopher_quality(docs)) + "\n\n"
        + formatted_plan(gopher_repetition(docs))))

    # 9g. paragraph dedup — narrow hash shuffles, positional rebuild
    from nipper_spark.functions.dedup import dedup_paragraphs
    sections.append((
        "Paragraph-level exact dedup (`dedup_paragraphs`)",
        "The winner-per-hash groupBy and the kept-index regroup "
        "exchange ONLY `(doc_id, p_idx, md5)` (~40 bytes/paragraph); "
        "the text enters exactly ONE join — back to the docs table by "
        "id, co-partitioned if the corpus is bucketed by id — and the "
        "surviving text is rebuilt positionally with an indexed "
        "higher-order filter, never re-shuffled.",
        formatted_plan(dedup_paragraphs(docs))))

    # 9g2. incremental near-dup — new batch vs signature store
    from nipper_spark.functions.dedup import (minhash_lsh_incremental,
                                              minhash_store)
    store = minhash_store(docs.filter(F.col("doc_id") < 250))
    newb = docs.filter(F.col("doc_id") >= 250).select("doc_id", "text")
    sections.append((
        "Incremental near-dup dedup (`minhash_lsh_incremental`)",
        "The rolling-crawl shape: the persisted store contributes "
        "(id, sig) rows ONLY (no text anywhere in its lineage); the "
        "new batch signatures union in, band through the same "
        "capped-bucket kernel, and verification is the in-row MinHash "
        "estimate — no join back to any text column, so a 100-TB "
        "store costs its signature bytes, never its documents.",
        formatted_plan(minhash_lsh_incremental(newb, store))))

    # 9h. frontier URL filter — broadcast blocklist over the scan
    from nipper_spark.crawl.urlfilter import url_frontier_filter
    cand_urls = docs.select(
        F.concat(F.lit("https://h"), (F.col("doc_id") % 50)
                 .cast("string"), F.lit(".example.com/p/"),
                 F.col("doc_id").cast("string")).alias("url"))
    sections.append((
        "Frontier URL hygiene filter (`crawl/urlfilter.py`)",
        "Blocklist joins as `BroadcastHashJoin` on the derived "
        "registered domain (O(1) per row in blocklist size, asked for "
        "explicitly — the broadcast survives the dump's disabled "
        "auto-threshold); extension/query/depth rules are substring "
        "arithmetic in the same projection. The candidate table never "
        "shuffles.",
        formatted_plan(url_frontier_filter(
            cand_urls, blocked_domains=["tracker.com"]))))

    # 10. sitemap harvest: scan-filtered mapInPandas + one host-keyed agg
    from nipper_spark.crawl.sitemaps import (
        harvest_sitemap_tables, synth_sitemap_rows)
    from nipper_spark.sources.synthetic import PAGES_SCHEMA
    smap_pages = spark.createDataFrame(synth_sitemap_rows(),
                                       PAGES_SCHEMA)
    sections.append((
        "Sitemap harvest (`harvest_sitemap_tables`)",
        "The pages scan filters to sitemap rows BEFORE the single "
        "`MapInPandas` parse boundary; the only exchange is the "
        "(host, url, kind) dedup aggregation over parsed entries — "
        "sitemap BODIES never shuffle and never reach the driver.",
        formatted_plan(harvest_sitemap_tables(smap_pages))))

    out = ["# PLANS — physical plans of the headline operators",
           "",
           "Generated by `python tools/dump_plans.py` "
           "(local[4], autoBroadcastJoinThreshold=-1 so sandbox-scale "
           "tables don't broadcast away the shuffles being shown; "
           "engine-requested broadcasts remain). Every claim in the "
           "annotations is also pinned by tests/test_plans.py or "
           "tests/test_cumsum.py.", ""]
    for title, note, plan in sections:
        out.append(f"## {title}")
        out.append("")
        out.append(note)
        out.append("")
        out.append("```")
        out.append(trim(plan))
        out.append("```")
        out.append("")
    with open("PLANS.md", "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md,", len(sections), "sections")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
