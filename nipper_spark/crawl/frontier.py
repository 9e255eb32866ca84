"""The frontier engine: a crawl priority queue driven in batch rounds.

One round (SURVEY.md §4.3), entirely declarative DataFrame ops plus the
fused extraction UDF:

    frontier(r) ──select_wave──▶ wave ─┬─▶ schedule(r)   [ordering record]
        │residual                      │broadcast-join pages ("fetch")
        │                              ▼
        │                       extract (one mapInPandas: an
        │                              │ outlink row + its host keys)
        │                              ▼
        │                    candidates (min depth, max score per url)
        │                              │ robots + depth cap
        │                              │ bloom prefilter (cogroup/bucket)
        │                              │ exact LEFT ANTI JOIN vs seen
        │                              ▼
        └────────── union ──▶ frontier(r+1);  seen += fresh; bloom |= fresh

Scale notes (the parts that must survive 1000 executors / 10^10 URLs):
- wave size is bounded by Σ host budgets → broadcast-joinable against
  the pages scan; the big pages table is never shuffled;
- per-host top-k is salted two-phase (operators/topk.py) so Zipf-hot
  hosts can't pin a partition; AQE skew-join covers the joins;
- the bloom prefilter cuts anti-join shuffle volume; the exact
  anti-join stays the authority so the seen set is exact;
- all state writes are whole-round-partition overwrites → idempotent
  replay, exact resume from MANIFEST high-water mark;
- determinism: every emitted table has an explicit total order key
  (depth, -score, url); no `first()`-without-sort anywhere.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nipper_spark.crawl import bloom as B
from nipper_spark.crawl import cuckoo as CK
from nipper_spark.crawl.politeness import (
    CrawlPolicy, _maybe_broadcast, budgets_df, policy_rules_rows,
    robots_filter, rules_df_from_policy, wave_order, wave_order_specs,
    wave_rank)
from nipper_spark.crawl.state import (
    BLOOM_SCHEMA, FRONTIER_SCHEMA, ROUND_LOG_SCHEMA, SCHEDULE_SCHEMA,
    SEEN_SCHEMA, CrawlState, local_table)
from nipper_spark.crawl.sitemaps import crawl_extract_outlinks
from nipper_spark.functions.url import (HOST_RE_SQL, canonicalize_url, host_bucket, host_of, url_hash64)
from nipper_spark.operators.cumsum import row_sequence


@dataclass
class RoundStats:
    round: int
    scheduled: int = 0
    fetched: int = 0
    candidates: int = 0
    bloom_hits: int = 0
    fresh: int = 0
    residual: int = 0
    frontier_next: int = 0


def _obs_long(obs, key: str, fallback) -> int:
    """Read an Observation metric; fall back to recomputing when AQE's
    empty-relation propagation pruned the CollectMetrics node (happens
    on degenerate rounds where an intermediate result is empty — the
    recompute is then tiny by construction)."""
    try:
        v = obs.get[key]
        return int(v) if v is not None else 0
    except Exception:  # noqa: BLE001 — missing metrics row
        return int(fallback())


def _host_cols(df: DataFrame, policy: CrawlPolicy) -> DataFrame:
    """Derive ``host``/``host_bucket``/``url_hash`` in ONE vectorized
    pandas UDF through :func:`outlink_keys` — the single definition of
    a URL's keys, which a round's extraction crossing applies to its
    candidates too. For seed and side tables."""
    n = policy.n_buckets

    @F.pandas_udf("struct<host:string, host_bucket:int, url_hash:long>")
    def _keys(url: pd.Series) -> pd.DataFrame:
        hosts, buckets, hashes = [], [], []
        for u in url:
            host, b, uh = outlink_keys(u, n)
            hosts.append(host)
            buckets.append(b)
            hashes.append(uh)
        return pd.DataFrame({
            "host": pd.Series(hosts, dtype=object),
            "host_bucket": pd.Series(buckets, dtype="int32"),
            "url_hash": pd.Series(hashes, dtype="int64")})

    return (df
            .withColumn("_k", _keys("url"))
            .withColumn("host", F.col("_k.host"))
            .withColumn("host_bucket", F.col("_k.host_bucket"))
            .withColumn("url_hash", F.col("_k.url_hash"))
            .drop("_k"))


class FrontierEngine:
    def __init__(self, spark: SparkSession, pages: DataFrame,
                 state_dir: str, policy: CrawlPolicy,
                 rules: DataFrame | None = None,
                 budgets: DataFrame | None = None) -> None:
        """``rules`` (host, prefix) and ``budgets`` (host, tokens) are
        per-host DIMENSION TABLES (e.g. from
        robots.harvest_robots_tables) — the scale path: robots/budget
        state lives in data joined per round, never in driver dicts
        compiled into Catalyst literals. When omitted, the config-dict
        policy converts into the same tables (a convenience that is
        only sound at config scale, which dicts are by construction).
        Table row counts are measured once here so every downstream
        join can size-guard its broadcast decision."""
        self.spark = spark
        self.pages = pages
        self.state = CrawlState(spark, state_dir)
        self.policy = policy
        if budgets is None:
            self._budgets = budgets_df(spark, policy)
            self._budgets_rows = max(len(policy.host_tokens), 1)
        else:
            self._budgets = budgets
            self._budgets_rows = budgets.count()
        # the rules TABLE handed in (None = the dict policy is the
        # robots authority, see bootstrap) and the table every round
        # joins: the given one, or the dicts converted ONCE here into a
        # JVM local relation (None when there are no rules at all)
        self._rules = rules
        if rules is None:
            self._rules_rows = policy_rules_rows(policy)
            self._round_rules = rules_df_from_policy(spark, policy) \
                if policy.robots_disallow or policy.robots_allow else None
        else:
            self._rules_rows = rules.count()
            self._round_rules = rules
        # driver mirror of the bloom/cuckoo state, (round, {bucket:
        # (payload, n_items)}), maintained only while the total payload
        # bytes stay under policy.broadcast_bloom_bytes: the per-round
        # probe/merge then broadcast the payloads instead of exchanging
        # candidates AND state by bucket (two exchanges + a cogroup
        # stage). Established at list-bootstrap (payloads are built on
        # the driver there anyway), refreshed from the committed parquet
        # after each commit, dropped on resume/df-bootstrap or when the
        # size guard trips — the cogroup path is always the fallback
        # and stays oracle-pinned by the forced-thresholds crawl test.
        self._bloom_driver: tuple[int, dict] | None = None

    # ------------------------------------------------------------------
    def bootstrap(self, seeds: list[tuple[str, float]]) -> None:
        """Round-0 state from a seed list (canonicalized, deduped,
        robots-filtered — seeds count as 'seen' immediately)."""
        from nipper_spark.crawl.politeness import robots_decision
        pol = self.policy
        # host -> ([disallow rules], [allow rules]) from the table
        seed_rules: dict[str, tuple[list[str], list[str]]] = {}
        if self._rules is not None:
            # seeds are a driver-side list by contract; pull ONLY their
            # hosts' rules from the table (bounded by the seed list)
            hosts = sorted({host_of(canonicalize_url(u) or "") or ""
                            for u, _ in seeds} - {""})
            has_allow = "allow" in self._rules.columns
            for r in self._rules.filter(
                    F.col("host").isin(hosts)).collect():
                dis, alw = seed_rules.setdefault(r["host"], ([], []))
                (alw if has_allow and r["allow"] else dis).append(
                    r["prefix"])

        def _seed_allowed(host: str, url: str) -> bool:
            # same authority rule as run_round's robots_filter: when a
            # rules TABLE is provided it is the sole robots authority
            # (dict rules are only a convenience that converts to a
            # table when none is given) — previously this ANDed both,
            # so a table Allow could not override a dict Disallow for
            # seeds while it could for round candidates
            if self._rules is None:
                return pol.allowed(host, url)
            dis, alw = seed_rules.get(host, ((), ()))
            i = url.find("/", url.find("://") + 3)
            path = url[i:] if i != -1 else "/"
            return robots_decision(dis, alw, path)

        rows = []
        taken = set()
        for url, score in seeds:
            canon = canonicalize_url(url)
            if canon is None or canon in taken:
                continue
            host = host_of(canon)
            if not _seed_allowed(host, canon):
                continue
            taken.add(canon)
            rows.append((canon, host, host_bucket(host, pol.n_buckets),
                         0, float(score), 0))
        self._bloom_driver = None
        frontier = (local_table(self.spark, rows, FRONTIER_SCHEMA)
                    .repartition(pol.n_buckets, "host_bucket")
                    .sortWithinPartitions("depth", F.desc("score"), "url"))
        self.state.write("frontier", 0, frontier)
        seen = local_table(
            self.spark,
            [(u, b, url_hash64(u), 0) for (u, h, b, d, s, r) in rows],
            SEEN_SCHEMA)
        self.state.write("seen", 0, seen)
        by_bucket: dict[int, list[str]] = {}
        for (u, h, b, d, s, r) in rows:
            by_bucket.setdefault(b, []).append(u)
        if pol.filter_kind == "cuckoo":
            payloads = [(b, CK.cuckoo_build(urls, max(len(rows), 1024) * 4),
                         len(urls))
                        for b, urls in sorted(by_bucket.items())]
        else:
            m_bits = B.bloom_sizing(max(len(rows), 1024) * 4,
                                    pol.bloom_bits_per_key)
            payloads = [(b, B.bloom_build(urls, m_bits), len(urls))
                        for b, urls in sorted(by_bucket.items())]
        bloom_df = local_table(self.spark, payloads, BLOOM_SCHEMA)
        self.state.write("bloom", 0, bloom_df)
        self.state.commit_round(-1)
        if sum(len(p) for _, p, _ in payloads) <= \
                pol.broadcast_bloom_bytes:
            self._bloom_driver = (0, {int(b): (bytes(p), int(n))
                                      for b, p, n in payloads})

    # ------------------------------------------------------------------
    def bootstrap_from_df(self, seed_frontier: DataFrame) -> None:
        """Distributed round-0 state from a seed TABLE with at least
        ``(url, depth, score)`` columns (FRONTIER_SCHEMA is a
        superset; e.g. ``sitemaps.sitemap_seed_frontier`` output) —
        the 10^10-scale twin of :meth:`bootstrap`, which takes a
        driver-side list bounded by contract. Everything stays
        executor-side: dedup per url keeps the max score (insertion
        order does not exist in a table — scheduling order is fully
        determined by (depth, -score, url) anyway), robots filtering
        uses the same rules tables the rounds use, and the per-bucket
        bloom/cuckoo payloads build in the same cogroup kernel that
        merges them every round."""
        pol = self.policy
        self._bloom_driver = None
        seeds = (seed_frontier
                 .groupBy("url")
                 .agg(F.min("depth").alias("depth"),
                      F.max("score").alias("score"))
                 .withColumn("discovered_round", F.lit(0).cast("int")))
        seeds = _host_cols(seeds, pol)
        seeds = robots_filter(seeds, pol, rules=self._round_rules,
                              rules_rows=self._rules_rows).cache()
        frontier = (seeds
                    .select("url", "host", "host_bucket", "depth",
                            "score", "discovered_round")
                    .repartition(pol.n_buckets, "host_bucket")
                    .sortWithinPartitions("depth", F.desc("score"), "url"))
        self.state.write("frontier", 0, frontier)
        self.state.write("seen", 0, seeds.select(
            "url", "host_bucket", "url_hash",
            F.lit(0).alias("round")))
        empty_bloom = local_table(self.spark, [], BLOOM_SCHEMA)
        payloads = (seeds.groupBy("host_bucket")
                    .cogroup(empty_bloom.groupBy("host_bucket"))
                    .applyInPandas(_make_merge_fn(pol.filter_kind),
                                   schema=BLOOM_SCHEMA))
        self.state.write("bloom", 0, payloads)
        seeds.unpersist()
        self.state.commit_round(-1)

    # ------------------------------------------------------------------
    def resume_round(self) -> int:
        """Next round to run; cleans any uncommitted partial writes and
        finishes any crash-interrupted compaction."""
        self._bloom_driver = None
        self.state.recover_compaction()
        last = self.state.last_committed_round()
        nxt = last + 1
        for t in ("frontier", "seen", "bloom"):
            self.state.truncate_after(nxt, tables=(t,))
        for t in ("schedule", "round_log"):
            self.state.truncate_after(last, tables=(t,))
        return nxt

    # ------------------------------------------------------------------
    def run_round(self, r: int, known_nonempty: bool = False,
                  wave_bound: int | None = None) -> RoundStats:
        """One batch round. Counter discipline: every lineage counter
        rides an Observation on a write we run anyway (the free-counter
        pattern, SURVEY.md §2.9), not one job per statistic, so
        per-round fixed latency stays flat as cluster size grows. A
        round of the ``crawl`` benchmark (perfbench/README.md) runs 23
        Spark jobs (traced median, local[3] on a 4-CPU box): the state
        writes, the wave, the fetch→extract→probe chain, the counters,
        the bloom mirror refresh and the compaction. Every round reads
        its committed state (frontier, bloom, seen) back from the
        parquet authority, so losing executors between rounds costs no
        state. Driver-held tables are JVM local relations, so the
        round's only Python tasks are the extraction crossing and the
        bloom probe/merge. ``known_nonempty`` skips the emptiness probe
        job when the caller already proved it (previous round's
        frontier_next > 0)."""
        from concurrent.futures import ThreadPoolExecutor

        from pyspark.sql import Observation

        st, pol = self.state, self.policy
        stats = RoundStats(round=r)
        frontier = st.read("frontier", r, FRONTIER_SCHEMA)

        # every adaptive decision this round (plain window vs two-phase
        # seq; broadcast vs shuffle joins of the wave) keys off one
        # upper bound on the wave size: the previous round's
        # frontier_next (free — wave ⊆ frontier), or one count job on
        # the frontier right after a resume. That same count doubles as
        # the emptiness probe — the separate isEmpty() job is folded
        # away (a caller-supplied bound of 0 means empty by contract:
        # the bound is the previous round's exact frontier_next).
        bound = wave_bound if wave_bound is not None else \
            frontier.count()
        if not known_nonempty and bound == 0:
            # terminal round: a zero-task plan emits no observation
            # metrics, so handle it before attaching observers
            return self._idle_round(
                r, stats, frontier,
                local_table(self.spark, [], SCHEDULE_SCHEMA))

        big_wave = bound > pol.broadcast_wave_threshold

        def _wave_side(df: DataFrame) -> DataFrame:
            # Σ budgets bounds the wave, but Σ budgets grows with host
            # count: above the threshold the wave must NOT broadcast
            # (multi-GB driver/executor OOM) — joins fall back to
            # shuffle joins, which AQE skew-splits if a hot host
            # dominates
            return df if big_wave else F.broadcast(df)

        # the wave is materialized ONCE as an eager localCheckpoint
        # (with the scheduled counter riding an Observation on the same
        # job): its four consumers — schedule seq, fetch join, residual
        # anti-join, and the count — then all analyze/execute against a
        # LEAF plan instead of a cache whose full ranking plan Catalyst
        # re-canonicalizes per consumer. One job replaces cache+count.
        obs_wave = Observation()
        _sc = self.spark.sparkContext
        _sc.setJobDescription(f"round {r}: wave select+count")
        wave = (wave_rank(frontier, self._budgets, pol,
                          budgets_rows=self._budgets_rows,
                          frontier_bound=bound)
                .observe(obs_wave, F.count(F.lit(1)).alias("n"))
                .localCheckpoint(eager=True))
        stats.scheduled = _obs_long(obs_wave, "n", wave.count)
        residual = frontier.join(
            _maybe_broadcast(wave.select("url"), bound,
                             pol.broadcast_wave_threshold),
            "url", "left_anti")

        # ordering record — the wave is bounded by Σ politeness budgets,
        # but at 10^10 URLs that is still millions of rows. Adaptive
        # plan: a small wave takes the plain window (one job, and a
        # single window task over ≤ seq_window_threshold rows is cheap);
        # a big wave takes the two-phase bucket-partitioned sequence so
        # no single task ever holds the whole wave.
        if bound <= pol.seq_window_threshold:
            from pyspark.sql import Window
            schedule = wave.select(
                F.lit(r).alias("round"),
                (F.row_number().over(Window.orderBy(*wave_order())) - 1)
                .cast("long").alias("seq"),
                "url", "host", "depth", "score")
        else:
            seq_df = row_sequence(wave, wave_order_specs(), "seq")
            schedule = seq_df.select(
                F.lit(r).alias("round"),
                F.col("seq").cast("long").alias("seq"),
                "url", "host", "depth", "score")

        if stats.scheduled == 0:
            return self._idle_round(r, stats, frontier, schedule)

        # round-scoped resources, released on every exit path: the
        # schedule-write thread (joined, so no write outlives a failed
        # round), the broadcast mirror payloads and the probe cache
        sched_pool = ThreadPoolExecutor(max_workers=1)
        bc_payloads = None
        probed = None
        try:
            # the schedule write is small once the wave is materialized;
            # run it on a driver thread while THIS thread builds and
            # writes the heavyweight frontier chain. Joined before
            # commit_round.
            sched_write = sched_pool.submit(st.write, "schedule", r,
                                            schedule)

            # "fetch" = join the wave against the big pages scan
            # (broadcast while the wave bound allows; shuffle join above
            # the threshold so the driver never holds an unbounded
            # wave). depth/score ride the fetch join and pass THROUGH
            # the extraction crossing, so the outlinks need no second
            # wave join (pages ⋈ wave is 1:1 on url).
            obs_fetch = Observation()
            fetched = (self.pages.join(
                _wave_side(wave.select("url", "depth", "score")), "url")
                .select("url", "html", "depth", "score")
                .observe(obs_fetch, F.count(F.lit(1)).alias("n")))
            # one fused Python crossing: HTML pages → a[href] outlinks
            # (priority null); sitemap-pattern URLs → parse_sitemap
            # entries (advertised pages AND child sitemaps, with
            # priorities) — the recursion that follows a sitemapindex
            # chain across rounds. Each outlink leaves the crossing
            # with its host keys already computed. Shared kernel
            # crawl_extract_outlinks == the oracle's.
            links = _crawl_extract(fetched, pol.n_buckets,
                                   respect_nofollow=pol.respect_nofollow)
            # host/host_bucket/url_hash are functions of url, so they
            # join the grouping key without changing the groups
            cand = (links
                    .select("url", "host", "host_bucket", "url_hash",
                            (F.col("depth") + 1).alias("depth"),
                            # sitemap-advertised priority wins over
                            # decay — the advertisement is the better
                            # signal
                            F.coalesce(
                                F.col("prio"),
                                F.col("score") * pol.score_decay)
                            .alias("score"))
                    .groupBy("url", "host", "host_bucket", "url_hash")
                    .agg(F.min("depth").alias("depth"),
                         F.max("score").alias("score")))
            cand = robots_filter(cand, pol, rules=self._round_rules,
                                 rules_rows=self._rules_rows).filter(
                F.col("depth") <= pol.max_depth)

            # bloom prefilter. Two size-guarded regimes, identical
            # results (both route through the same bloom/cuckoo probe
            # kernels):
            # - driver-mirrored state under broadcast_bloom_bytes: the
            #   payload dict broadcasts and the probe is a column UDF
            #   over the candidates IN PLACE — no candidate exchange, no
            #   state exchange, no cogroup stage;
            # - above the guard (10^10-URL regime): bucket-cogrouped
            #   probe, state and candidates sharing the host_bucket
            #   partitioning.
            bloom_df = st.read("bloom", r, BLOOM_SCHEMA)
            bdrv = self._bloom_driver \
                if self._bloom_driver is not None \
                and self._bloom_driver[0] == r else None
            obs_probe = Observation()
            if bdrv is not None:
                bc_payloads = _sc.broadcast(bdrv[1])
                probed = cand.withColumn(
                    "bloom_hit",
                    _broadcast_probe_udf(bc_payloads, pol.filter_kind)(
                        "host_bucket", "url"))
            else:
                probed = (cand.groupBy("host_bucket")
                          .cogroup(bloom_df.groupBy("host_bucket"))
                          .applyInPandas(
                              _make_probe_fn(pol.filter_kind), schema=(
                                  "url string, depth int, score double, "
                                  "host string, host_bucket int, "
                                  "url_hash long, bloom_hit boolean")))
            probed = (probed
                      .observe(obs_probe,
                               F.count(F.lit(1)).alias("candidates"),
                               F.sum(F.col("bloom_hit").cast("long"))
                               .alias("hits"))
                      # cache: both union branches below must share ONE
                      # materialization, or the observe node (and the
                      # whole fetch→extract chain above it) executes
                      # twice and the observation receives duplicate
                      # metric rows
                      .cache())
            maybe_seen = probed.filter("bloom_hit").drop("bloom_hit")
            definitely_new = probed.filter("NOT bloom_hit") \
                .drop("bloom_hit")

            # exact authority: only bloom-hits pay the anti-join shuffle
            seen = st.read_all_rounds("seen", r, SEEN_SCHEMA)
            confirmed_new = maybe_seen.join(
                seen.select("url"), "url", "left_anti")
            # localCheckpoint, not cache: the four downstream consumers
            # (frontier/seen/bloom writes + per-bucket counters) then
            # analyze a LEAF plan instead of re-canonicalizing the whole
            # fetch→extract→probe→anti-join tree once per query. Eager:
            # materializes the heavy chain exactly once and resolves the
            # fetch/probe observations. The checkpointed table is
            # fresh-delta-sized; blocks free with the reference.
            _sc.setJobDescription(
                f"round {r}: fetch+extract+probe+antijoin")
            fresh = definitely_new.unionByName(confirmed_new) \
                .localCheckpoint(eager=True)

            obs_residual = Observation()
            residual = residual.observe(
                obs_residual, F.count(F.lit(1)).alias("n"))
            # the frontier IS the priority queue: host-bucketed files,
            # each internally (depth, -score, url)-ordered, so the next
            # round's per-host top-k scans presorted bucket-local data
            next_frontier = (residual.unionByName(
                fresh.select("url", "host", "host_bucket", "depth",
                             "score",
                             F.lit(r + 1).alias("discovered_round")))
                .repartition(pol.n_buckets, "host_bucket")
                .sortWithinPartitions("depth", F.desc("score"), "url"))

            # ONE collect over the checkpointed fresh delta yields the
            # per-bucket counters AND the total (their sum). The
            # frontier write, seen write and bloom merge+write remain
            # independent consumers run as concurrent jobs from driver
            # threads: the frontier's repartition+sort+write overlaps
            # the bloom merge instead of preceding it. commit_round only
            # after every write joined — a failed write raises out of
            # result() and the uncommitted round replays on resume.
            _sc.setJobDescription(f"round {r}: per-bucket fresh counters")
            per_bucket = [(row["host_bucket"], row["n"]) for row in
                          fresh.groupBy("host_bucket").agg(
                              F.count("*").alias("n")).collect()]
            _sc.setJobDescription(None)
            stats.fresh = sum(n for _, n in per_bucket)
            stats.fetched = _obs_long(obs_fetch, "n", fetched.count)
            stats.candidates = _obs_long(obs_probe, "candidates",
                                         probed.count)
            stats.bloom_hits = _obs_long(
                obs_probe, "hits",
                lambda: probed.filter("bloom_hit").count())

            # bloom |= fresh, per bucket. The cogroup emits every bucket
            # key present on either side, so it alone produces exactly
            # one row per bucket: fresh-only → new payload, both →
            # merged, bloom-only → old payload echoed.
            if bdrv is not None:
                # buckets that received fresh keys merge against the
                # broadcast payloads (one exchange: the fresh groupBy);
                # untouched buckets echo their committed rows — the same
                # one-row-per-present-bucket output the cogroup produces
                touched = [int(b) for b, _ in per_bucket]
                merged = (fresh.groupBy("host_bucket")
                          .applyInPandas(
                              _make_broadcast_merge_fn(bc_payloads,
                                                       pol.filter_kind),
                              schema=BLOOM_SCHEMA))
                untouched = bloom_df.filter(
                    ~F.col("host_bucket").isin(touched)) if touched \
                    else bloom_df
                # the mirror refresh needs the new state's total payload
                # size BEFORE it collects anything: it rides the bloom
                # write as an Observation
                obs_bloom = Observation()
                new_bloom = merged.unionByName(untouched).observe(
                    obs_bloom, F.sum(F.length("payload")).alias("bytes"))
            else:
                new_bloom = (fresh.groupBy("host_bucket")
                             .cogroup(bloom_df.groupBy("host_bucket"))
                             .applyInPandas(
                                 _make_merge_fn(pol.filter_kind),
                                 schema=BLOOM_SCHEMA))
            # the seen table is sharded by host bucket like every other
            # state table: one file per bucket per round instead of one
            # per fresh-delta partition — the cumulative anti-join scan
            # lists n_buckets files per round, not O(shuffle partitions)
            seen_delta = fresh.select(
                "url", "host_bucket", "url_hash",
                F.lit(r + 1).alias("round")) \
                .repartition(pol.n_buckets, "host_bucket")

            with ThreadPoolExecutor(max_workers=3) as ex:
                w_frontier = ex.submit(st.write, "frontier", r + 1,
                                       next_frontier)
                w_seen = ex.submit(st.write, "seen", r + 1, seen_delta)
                w_bloom = ex.submit(st.write, "bloom", r + 1, new_bloom)
                w_frontier.result()  # residual observation resolves here
                stats.residual = _obs_long(obs_residual, "n",
                                           residual.count)
                stats.frontier_next = stats.residual + stats.fresh
                st.write_rows("round_log", r,
                              self._log_rows(r, stats, per_bucket),
                              ROUND_LOG_SCHEMA)
                w_seen.result()
                w_bloom.result()
            sched_write.result()
            st.commit_round(r)
            if bdrv is not None:
                self._bloom_driver = self._refresh_mirror(r + 1, obs_bloom)
        finally:
            _sc.setJobDescription(None)
            sched_pool.shutdown(wait=True)
            if bc_payloads is not None:
                bc_payloads.unpersist()
            if probed is not None:
                probed.unpersist()

        # periodic seen-delta compaction (crash-safe; bounds file count)
        if pol.compact_every and (r + 1) % pol.compact_every == 0:
            st.compact("seen", r + 1, SEEN_SCHEMA)
        return stats

    def _idle_round(self, r: int, stats: RoundStats, frontier: DataFrame,
                    schedule: DataFrame) -> RoundStats:
        """Write and commit a round that fetches nothing: the frontier
        and bloom state carry over unchanged, the seen delta is
        empty."""
        st = self.state
        bloom_df = st.read("bloom", r, BLOOM_SCHEMA)
        st.write("schedule", r, schedule)
        st.write("frontier", r + 1, frontier)
        st.write("seen", r + 1, local_table(self.spark, [], SEEN_SCHEMA))
        st.write("bloom", r + 1, bloom_df)
        st.write_rows("round_log", r, self._log_rows(r, stats, []),
                      ROUND_LOG_SCHEMA)
        st.commit_round(r)
        if self._bloom_driver is not None and self._bloom_driver[0] == r:
            self._bloom_driver = (r + 1, self._bloom_driver[1])
        return stats

    def _refresh_mirror(self, r: int, obs_bloom) -> tuple[int, dict] | None:
        """The driver mirror for round ``r`` from its committed bloom
        parquet, or None (demote to the cogroup path). The size guard is
        checked BEFORE anything is collected: the total payload size
        rode the bloom write as an Observation (a missing or null metric
        costs one tiny aggregate over the parquet instead of passing
        unchecked), and only a state under ``broadcast_bloom_bytes`` is
        collected. It reads the parquet, not the plan that wrote it,
        which would run the merge UDF again. A failure here only
        demotes — the mirror is an optimization, never the authority."""
        try:
            bloom = self.state.read("bloom", r, BLOOM_SCHEMA)
            total = obs_bloom.get.get("bytes")
            if total is None:
                total = bloom.agg(F.sum(F.length("payload"))) \
                    .first()[0] or 0
            if total > self.policy.broadcast_bloom_bytes:
                return None
            return (r, {int(row["host_bucket"]):
                        (bytes(row["payload"]), int(row["n_items"]))
                        for row in bloom.collect()})
        except Exception:  # noqa: BLE001 — optimization mirror only
            return None

    # ------------------------------------------------------------------
    def run(self, max_rounds: int = 32) -> list[RoundStats]:
        out = []
        r = self.resume_round()
        known_nonempty = False
        wave_bound = None
        for _ in range(max_rounds):
            stats = self.run_round(r, known_nonempty=known_nonempty,
                                   wave_bound=wave_bound)
            out.append(stats)
            if stats.frontier_next == 0 and stats.scheduled == 0:
                break
            known_nonempty = stats.frontier_next > 0
            wave_bound = stats.frontier_next
            r += 1
        return out

    # ------------------------------------------------------------------
    def _log_rows(self, r: int, stats: RoundStats,
                  per_bucket: list[tuple[int, int]]) -> list[tuple]:
        """Round-log rows — n_buckets+1 by construction at ANY scale,
        so the write goes through CrawlState.write_rows (driver-side
        pyarrow, no Spark job: the parallelize(rows, 1) + single-task
        parquet job it replaces cost a fixed ~0.15 s/round)."""
        from nipper_spark.crawl.state import bucket_skew
        max_fresh, p99_fresh, max_share = bucket_skew(
            n for _, n in per_bucket)
        rows = [(r, int(b), 0, 0, int(n), 0, 0, 0, 0.0, 0, 0)
                for b, n in sorted(per_bucket)]
        rows.append((r, -1, stats.candidates, stats.bloom_hits,
                     stats.fresh, stats.scheduled, stats.fetched,
                     stats.residual, float(max_share),
                     int(max_fresh), int(p99_fresh)))
        return rows


def round_metrics(round_log: DataFrame) -> DataFrame:
    """Public per-round lineage + skew metrics over a ``round_log``
    table (any number of crawls/rounds unioned): recomputes the skew
    statistics DISTRIBUTIVELY from the per-bucket rows — same
    nearest-rank definition as the pure :func:`~nipper_spark.crawl.
    state.bucket_skew` kernel that stamps the summary row, so the two
    cross-check.

    Output: (round, active_buckets, fresh, max_bucket_fresh,
    p99_bucket_fresh, max_bucket_share) — one row per logged round,
    zero-filled for rounds with no fresh URLs.

    Scale shape: the only grouped state is one array of per-bucket
    counts per round, bounded by ``n_buckets`` (a config constant) —
    never by URL count."""
    totals = (round_log.filter(F.col("host_bucket") == -1)
              .select("round"))
    buckets = (round_log.filter(F.col("host_bucket") >= 0)
               .groupBy("round")
               .agg(F.count("*").alias("active_buckets"),
                    F.sum("fresh").alias("fresh"),
                    F.array_sort(F.collect_list("fresh")).alias("_s")))
    buckets = buckets.select(
        "round", "active_buckets", "fresh",
        F.element_at("_s", F.size("_s")).alias("max_bucket_fresh"),
        F.element_at(
            "_s",
            F.ceil(F.size("_s") * F.lit(0.99)).cast("int"))
        .alias("p99_bucket_fresh"),
        (F.element_at("_s", F.size("_s")) / F.col("fresh"))
        .alias("max_bucket_share"))
    return (totals.join(buckets, "round", "left")
            .select("round",
                    F.coalesce("active_buckets", F.lit(0))
                    .cast("long").alias("active_buckets"),
                    F.coalesce("fresh", F.lit(0)).cast("long")
                    .alias("fresh"),
                    F.coalesce("max_bucket_fresh", F.lit(0))
                    .cast("long").alias("max_bucket_fresh"),
                    F.coalesce("p99_bucket_fresh", F.lit(0))
                    .cast("long").alias("p99_bucket_fresh"),
                    F.coalesce("max_bucket_share", F.lit(0.0))
                    .cast("double").alias("max_bucket_share")))


_CRAWL_EXT_SCHEMA = ("url string, prio double, host string, "
                     "host_bucket int, url_hash long, depth int, "
                     "score double")
_HOST_RE = re.compile(HOST_RE_SQL)


def outlink_keys(url: str, n_buckets: int) -> tuple[str, int, int]:
    """``(host, host_bucket, url_hash)`` of a candidate URL — the same
    keys the JVM derives as ``regexp_extract(url, HOST_RE_SQL, 1)``
    (empty when the pattern does not match) followed by the shared
    :func:`host_bucket` / :func:`url_hash64` kernels."""
    m = _HOST_RE.match(url)
    host = m.group(1) if m is not None else ""
    return host, host_bucket(host, n_buckets), url_hash64(url)


def _crawl_extract(fetched: DataFrame, n_buckets: int,
                   respect_nofollow: bool = False) -> DataFrame:
    """(url, html, depth, score) → one row per outlink
    ``(url, prio, host, host_bucket, url_hash, depth, score)`` in ONE
    ``mapInPandas`` crossing, dispatching per row on the sitemap URL
    pattern via the shared pure kernel
    :func:`~nipper_spark.crawl.sitemaps.crawl_extract_outlinks`.
    ``url`` is the outlink, ``prio`` its sitemap priority (null for an
    HTML link), ``depth``/``score`` the fetched page's, passed through
    so the caller needs no join back to the wave. The outlink's keys
    (:func:`outlink_keys`) are computed in this crossing, so no second
    Python stage derives them downstream."""

    def _ext(batches):
        for pdf in batches:
            dst, prio, hosts, buckets, hashes, depth, score = \
                [], [], [], [], [], [], []
            for url, h, d, s in zip(pdf["url"], pdf["html"],
                                    pdf["depth"], pdf["score"]):
                for link, p in crawl_extract_outlinks(
                        url, h, respect_nofollow=respect_nofollow):
                    host, b, uh = outlink_keys(link, n_buckets)
                    dst.append(link)
                    prio.append(p)
                    hosts.append(host)
                    buckets.append(b)
                    hashes.append(uh)
                    depth.append(d)
                    score.append(s)
            yield pd.DataFrame({
                "url": pd.Series(dst, dtype=object),
                "prio": pd.Series(prio, dtype="float64"),
                "host": pd.Series(hosts, dtype=object),
                "host_bucket": pd.Series(buckets, dtype="int32"),
                "url_hash": pd.Series(hashes, dtype="int64"),
                "depth": pd.Series(depth, dtype="int32"),
                "score": pd.Series(score, dtype="float64")})

    return fetched.mapInPandas(_ext, schema=_CRAWL_EXT_SCHEMA)


# ----------------------------------------------------------------------
# cogrouped pandas kernels (bucket-local: one host bucket per call)
# ----------------------------------------------------------------------

def _might_contain(payload: bytes, urls: list, kind: str):
    """Probe one bucket's payload (bloom or cuckoo, same contract:
    False = definitely unseen; never a false negative)."""
    if kind == "cuckoo":
        return CK.cuckoo_might_contain(payload, urls)
    return B.bloom_might_contain(payload, urls)


def _merge_payload(payload: bytes | None, n_old: int, urls: list,
                   kind: str) -> tuple[bytes, int]:
    """One bucket's ``(payload, n_items)`` after inserting ``urls``
    (bloom OR-in / cuckoo insert); a None payload builds a new one."""
    if kind == "cuckoo":
        new = CK.cuckoo_add(payload, urls,
                            n_items_hint=max(len(urls) * 4, 1024))
    elif payload is not None:
        new = B.bloom_add(payload, urls, len(payload) * 8)
    else:
        new = B.bloom_build(urls, B.bloom_sizing(max(len(urls) * 4, 1024)))
    return new, n_old + len(urls)


def _bloom_row(bucket: int, payload: bytes, n_items: int) -> pd.DataFrame:
    return pd.DataFrame({"host_bucket": [bucket], "payload": [payload],
                         "n_items": [n_items]})


def _broadcast_probe_udf(bc_payloads, filter_kind: str):
    """Column-UDF probe for the driver-mirrored regime: payloads arrive
    via broadcast, candidates stay in place (no bucket exchange). An
    absent bucket has no keys, so every probe is False."""
    import numpy as np

    @F.pandas_udf("boolean")
    def _probe(bucket: pd.Series, url: pd.Series) -> pd.Series:
        payloads = bc_payloads.value
        out = np.zeros(len(url), dtype=bool)
        if len(url):
            b_arr = bucket.to_numpy()
            for b in np.unique(b_arr):
                ent = payloads.get(int(b))
                if ent is None:
                    continue
                idx = np.nonzero(b_arr == b)[0]
                out[idx] = _might_contain(ent[0], [url.iat[i] for i in idx],
                                          filter_kind)
        return pd.Series(out)

    return _probe


def _make_broadcast_merge_fn(bc_payloads, filter_kind: str):
    """Grouped merge for the driver-mirrored regime: the old payload
    comes from the broadcast dict instead of cogrouped state rows
    (bloom-only buckets are echoed by the caller's union, exactly the
    rows the cogroup would emit)."""
    def _merge(fresh: pd.DataFrame) -> pd.DataFrame:
        bucket = int(fresh["host_bucket"].iloc[0])
        payload, n_old = bc_payloads.value.get(bucket, (None, 0))
        return _bloom_row(bucket, *_merge_payload(
            payload, n_old, list(fresh["url"]), filter_kind))
    return _merge


def _make_probe_fn(filter_kind: str):
    """Bucket-local cogrouped prefilter probe."""
    def _probe(cand: pd.DataFrame, blooms: pd.DataFrame) -> pd.DataFrame:
        cols = ["url", "depth", "score", "host", "host_bucket", "url_hash"]
        out = cand[cols].copy()
        if len(blooms) == 0 or len(cand) == 0:
            out["bloom_hit"] = pd.Series([False] * len(cand), dtype="bool")
            return out
        out["bloom_hit"] = _might_contain(bytes(blooms["payload"].iloc[0]),
                                          list(cand["url"]), filter_kind)
        return out
    return _probe


def _make_merge_fn(filter_kind: str):
    """Bucket-local cogrouped merge: payload |= fresh keys."""
    def _merge(fresh: pd.DataFrame, blooms: pd.DataFrame) -> pd.DataFrame:
        if len(fresh) == 0:
            # bucket had no fresh keys this round: echo the old payload
            return blooms[["host_bucket", "payload", "n_items"]].head(1)
        payload = bytes(blooms["payload"].iloc[0]) if len(blooms) else None
        n_old = int(blooms["n_items"].iloc[0]) if len(blooms) else 0
        return _bloom_row(int(fresh["host_bucket"].iloc[0]), *_merge_payload(
            payload, n_old, list(fresh["url"]), filter_kind))
    return _merge
