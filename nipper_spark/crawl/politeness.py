"""Per-host politeness budgets + robots rules.

Politeness is token accounting per host per round (north rule): a host
contributes at most ``tokens(host)`` URLs to a round's fetch wave; the
rest stay in the frontier for later rounds. Hosts are hashed into
buckets so all accounting for one host is local to one partition.

Robots: RFC 9309 per-host rules (Disallow/Allow with * and trailing-$
wildcards, longest-match precedence, Allow wins ties) — a parsed-robots
model; the sandbox has no live fetching, so rules come from config or
harvested tables, and the single-threaded oracle applies the identical
kernels.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from functools import lru_cache

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nipper_spark.crawl.state import local_table
from nipper_spark.operators.topk import topk_per_key

# deterministic total order of a frontier/wave: closest-first BFS,
# then best score, then lexicographic URL tiebreak (required to match
# the reference crawl ordering — SURVEY.md §4.2)
WAVE_ORDER_COLS = ("depth", "score", "url")


def wave_order():
    return [F.col("depth").asc(), F.col("score").desc(), F.col("url").asc()]


def wave_order_specs():
    """Same total order as (name, direction) specs — the form the
    two-phase cumsum operator needs (it must rebuild the comparison as
    a literal bucketing expression)."""
    return [("depth", "asc"), ("score", "desc"), ("url", "asc")]


# ----------------------------------------------------------------------
# RFC 9309 rule-matching kernels (live here, not in robots.py, because
# robots.py imports this module; robots.py re-exports them)
# ----------------------------------------------------------------------

@lru_cache(maxsize=65536)
def _rule_re(rule: str) -> "re.Pattern[str]":
    end = rule.endswith("$")
    body = rule[:-1] if end else rule
    pat = "".join(".*" if ch == "*" else re.escape(ch) for ch in body)
    # DOTALL + \Z, not default + $: the SQL LIKE twin's '%' matches ANY
    # character including \n, and LIKE has no before-trailing-newline
    # anchor — without these a path containing a raw newline (legal in
    # a Python str even if canonical URLs percent-encode it) diverges
    # between this kernel and the distributed LIKE filter
    return re.compile("^" + pat + (r"\Z" if end else ""), re.DOTALL)


def rule_matches(rule: str, path: str) -> bool:
    """RFC 9309 rule match: literal prefix with ``*`` matching any
    sequence and a trailing ``$`` anchoring the end of the path.
    Pure kernel — every robots decision in the engine routes here."""
    return _rule_re(rule).match(path) is not None


def rule_to_like(rule: str) -> str:
    """The rule as a SQL LIKE pattern (ESCAPE ``\\``) — the JVM-side
    twin of :func:`rule_matches` for the distributed rules-table
    filter. ``*`` → ``%``; no trailing ``%`` when the rule ends in
    ``$``; ``%``/``_``/``\\`` in the rule are escaped."""
    end = rule.endswith("$")
    body = rule[:-1] if end else rule
    out = []
    for ch in body:
        if ch in ("%", "_", "\\"):
            out.append("\\" + ch)
        elif ch == "*":
            out.append("%")
        else:
            out.append(ch)
    if not end:
        out.append("%")
    return "".join(out)


def robots_decision(disallow, allow, path: str) -> bool:
    """True = fetchable. RFC 9309 precedence: among all matching rules
    the longest wins; Allow wins length ties; no match = allowed.
    Shared by RobotsRules, CrawlPolicy, and the oracle."""
    best = None
    for r in disallow:
        if r and rule_matches(r, path):
            k = (len(r), 0)
            if best is None or k > best:
                best = k
    for r in allow:
        if r and rule_matches(r, path):
            k = (len(r), 1)
            if best is None or k > best:
                best = k
    return best is None or best[1] == 1


@dataclass
class CrawlPolicy:
    """Shared config for engine AND oracle — one object, two executors."""
    default_tokens: int = 4
    host_tokens: dict[str, int] = field(default_factory=dict)
    robots_disallow: dict[str, list[str]] = field(default_factory=dict)
    robots_allow: dict[str, list[str]] = field(default_factory=dict)
    # honor rel=nofollow / <meta name=robots nofollow> during fetch
    # extraction (the microformat half of REP; off by default)
    respect_nofollow: bool = False
    n_buckets: int = 8
    score_decay: float = 0.85
    max_depth: int = 64
    bloom_bits_per_key: int = 10
    salt: int = 16
    # URL-seen prefilter layer: "bloom" (insert-only) or "cuckoo"
    # (delete-capable, saturates instead of false-negating on overflow)
    filter_kind: str = "bloom"
    # fold seen-table round deltas every K rounds (0 = never): bounds
    # the per-round file count the exact anti-join has to list
    compact_every: int = 8
    # waves at or below this take a plain row_number window for the
    # schedule seq (one job; a single window task over ≤1M bounded rows
    # is cheap); above it the two-phase bucket-partitioned sequence
    # (operators/cumsum.py) keeps any one task from holding the wave
    seq_window_threshold: int = 1 << 20
    # waves at or below this many rows broadcast into the fetch /
    # outlink / residual joins; above it those switch to shuffle joins
    # — Σ politeness budgets grows linearly with host count, so at
    # 10^7+ polite hosts a broadcast wave is a multi-GB driver/executor
    # OOM. ~2M urls ≈ 100 MB broadcast at avg url length.
    broadcast_wave_threshold: int = 1 << 21
    # dimension tables (budgets, robots rules) at or below this many
    # rows broadcast; above it they join host-bucketed
    broadcast_dim_threshold: int = 1 << 20
    # bloom/cuckoo state at or below this many TOTAL payload bytes is
    # mirrored on the driver and broadcast into the probe/merge (no
    # bucket exchange); above it the bucket-cogrouped path is the
    # authority — at 10^10 seen URLs the filter state is ~12 GB and
    # must never be collected or broadcast. 64 MB default: the same
    # executor-memory envelope as a large broadcast join side.
    broadcast_bloom_bytes: int = 64 << 20

    def tokens(self, host: str) -> int:
        return self.host_tokens.get(host, self.default_tokens)

    def allowed(self, host: str, url: str) -> bool:
        dis = self.robots_disallow.get(host)
        alw = self.robots_allow.get(host)
        if not dis and not alw:
            return True
        # path = everything after scheme://host[:port]
        i = url.find("/", url.find("://") + 3)
        path = url[i:] if i != -1 else "/"
        return robots_decision(dis or (), alw or (), path)


def budgets_df(spark, policy: CrawlPolicy) -> DataFrame:
    """Host-override budgets as a (small, broadcastable) dimension —
    a JVM local relation, so its scans run no Python task."""
    rows = [(h, t) for h, t in sorted(policy.host_tokens.items())]
    return local_table(spark, rows or [("__none__", 0)],
                       "host string, tokens int")


def _maybe_broadcast(df: DataFrame, n_rows: int | None,
                     threshold: int) -> DataFrame:
    """Broadcast hint only when the side is KNOWN to be small; unknown
    sizes take the shuffle path (safe at any scale — AQE upgrades small
    shuffled sides to broadcast at runtime anyway)."""
    return F.broadcast(df) if n_rows is not None and n_rows <= threshold \
        else df


def select_wave(frontier: DataFrame, budgets: DataFrame,
                policy: CrawlPolicy, wave_bound: int | None = None,
                budgets_rows: int | None = None,
                frontier_bound: int | None = None
                ) -> tuple[DataFrame, DataFrame]:
    """Split a round's frontier into (wave, residual).

    Per-host top-k is adaptive on ``frontier_bound`` (an upper bound
    on the FRONTIER row count — the previous round's frontier_next, or
    one count job; NOT the wave/Σ-budgets bound, which says nothing
    about how many rows one hot host can pile into a window
    partition): at or under ``seq_window_threshold`` a plain
    per-host window ranks in ONE shuffle — a ≤1M-row frontier cannot
    contain a >1M-row host, so the skew argument is vacuous there —
    and above it (or when no bound is known) the salted two-phase
    operator keeps a Zipf-hot host from pinning a shuffle partition
    at the cost of a second (much smaller) exchange. Both paths rank
    by the same deterministic (depth, -score, url) key, so results
    are identical (pinned by test_salted_equals_plain_window and the
    forced-big-paths crawl oracle test).

    Join strategy is size-guarded, never assumed: the budgets dim
    broadcasts only when its row count is known ≤
    ``broadcast_dim_threshold`` (config-dict budgets are; a harvested
    10^7-host table is not), and the residual anti-join broadcasts the
    wave only when ``wave_bound`` (an upper bound the caller already
    has: Σ budgets or the previous round's frontier size) stays under
    ``broadcast_wave_threshold`` — Σ budgets grows with host count, so
    "the wave is small" is a fixed-host-count assumption, not an
    invariant. ``budgets_rows=None`` with a config-built dim defaults
    to broadcast via the callers that know its size.
    """
    wave = wave_rank(frontier, budgets, policy,
                     budgets_rows=budgets_rows,
                     frontier_bound=frontier_bound)
    residual = frontier.join(
        _maybe_broadcast(wave.select("url"), wave_bound,
                         policy.broadcast_wave_threshold),
        "url", "left_anti")
    return wave, residual


def wave_rank(frontier: DataFrame, budgets: DataFrame,
              policy: CrawlPolicy, budgets_rows: int | None = None,
              frontier_bound: int | None = None) -> DataFrame:
    """The wave half of :func:`select_wave` — budgets join + per-host
    top-k only, no residual. Split out so the engine can materialize
    the wave ONCE (localCheckpoint) and derive schedule/fetch/residual
    from the materialized leaf instead of re-analyzing (or re-running)
    the ranking pipeline per consumer."""
    f = frontier.join(
        _maybe_broadcast(budgets, budgets_rows,
                         policy.broadcast_dim_threshold),
        "host", "left") \
        .withColumn("_tokens", F.coalesce(F.col("tokens"),
                                          F.lit(policy.default_tokens))) \
        .drop("tokens")
    small = frontier_bound is not None and \
        frontier_bound <= policy.seq_window_threshold
    ranked = topk_per_key(
        f, "host", wave_order(), F.col("_tokens"),
        salt=0 if small else policy.salt, rank_col="_rk")
    return ranked.drop("_rk", "_tokens")


def rules_df_from_policy(spark, policy: CrawlPolicy) -> DataFrame:
    """Config-dict robots rules as the (host, prefix, allow) rules
    table — the engine consumes ONLY the table form; dicts are a
    small-scale configuration convenience. A JVM local relation, like
    :func:`budgets_df`."""
    rows = [(h, p, False)
            for h, ps in sorted(policy.robots_disallow.items())
            for p in sorted(set(ps)) if p]
    rows += [(h, p, True)
             for h, ps in sorted(policy.robots_allow.items())
             for p in sorted(set(ps)) if p]
    return local_table(spark, rows or [("__none__", "\x00", False)],
                       "host string, prefix string, allow boolean")


def policy_rules_rows(policy: CrawlPolicy) -> int:
    return (sum(len(v) for v in policy.robots_disallow.values())
            + sum(len(v) for v in policy.robots_allow.values()))


def robots_filter(candidates: DataFrame, policy: CrawlPolicy,
                  rules: DataFrame | None = None,
                  rules_rows: int | None = None) -> DataFrame:
    """Drop robots-disallowed URLs with full RFC 9309 semantics
    against the per-host rules table (host, rule, allow).

    Shape: LEFT JOIN on (host equality AND path LIKE rule-pattern)
    — the rule's LIKE translation (:func:`rule_to_like` semantics,
    compiled here as native string expressions on the small rules
    side) runs JVM-side — then one hash aggregation per candidate URL
    taking the longest matching rule of each kind; a URL survives iff
    it matched no disallow, or its longest allow ≥ longest disallow
    (RFC precedence: most specific wins, Allow wins ties).

    The rules live in DATA, not in the plan — a literal expression
    over the rule set would grow the Catalyst tree linearly in rule
    count and kill the analyzer at 10^5+ hosts long before data
    moves. Host is an equi-key, so the join shuffles (or broadcasts,
    when the table is known-small) exactly like every other
    host-bucketed exchange. In the broadcast regime the aggregation
    reuses the url partitioning candidates already have upstream; in
    the shuffle regime the host-keyed join adds one exchange before
    the url-grouped aggregation — the price of wildcard+Allow
    precedence over the old prefix-only anti-join.

    ``rules=None`` means no rules: candidates pass unchanged. Config
    dicts are not read here — the engine converts them once into a
    table (:func:`rules_df_from_policy`) and passes that.

    Contract: candidate rows are expected UNIQUE (the engine calls
    this after its per-url aggregation); duplicate candidate rows
    would collapse through the decision groupBy."""
    if rules is None:
        return candidates
    if "allow" not in rules.columns:  # legacy (host, prefix) table
        rules = rules.withColumn("allow", F.lit(False))
    # empty rules match nothing (robots_decision skips them; LIKE '%'
    # would match everything — keep the two decision paths identical)
    rules = rules.filter(F.length("prefix") > 0)
    # rule -> LIKE pattern, computed natively on the (small) rules side
    esc = F.replace(F.replace(F.replace(F.col("prefix"),
                                        F.lit("\\"), F.lit("\\\\")),
                              F.lit("%"), F.lit("\\%")),
                    F.lit("_"), F.lit("\\_"))
    esc = F.replace(esc, F.lit("*"), F.lit("%"))
    pattern = F.when(
        F.col("prefix").endswith("$"),
        F.expr("substring(_esc, 1, length(_esc) - 1)")) \
        .otherwise(F.concat(esc, F.lit("%")))
    r = (rules.withColumn("_esc", esc)
         .select(F.col("host").alias("_r_host"),
                 pattern.alias("_r_pat"),
                 F.length("prefix").alias("_r_len"),
                 F.coalesce(F.col("allow"), F.lit(False))
                 .alias("_r_allow")))
    r = _maybe_broadcast(r, rules_rows, policy.broadcast_dim_threshold)
    cand_cols = candidates.columns
    cand = candidates.withColumn(
        "_path", F.regexp_replace(F.col("url"), r"^https?://[^/]+", ""))
    cond = (cand["host"] == F.col("_r_host")) & \
        F.expr("_path LIKE _r_pat ESCAPE '\\\\'")
    joined = cand.join(r, cond, "left")
    dec = (joined.groupBy(*[F.col(c) for c in cand_cols])
           .agg(F.max(F.when(F.col("_r_allow"), F.col("_r_len")))
                .alias("_ma"),
                F.max(F.when(~F.col("_r_allow"), F.col("_r_len")))
                .alias("_md")))
    return (dec.filter(F.col("_md").isNull() |
                       (F.coalesce(F.col("_ma"), F.lit(-1)) >=
                        F.col("_md")))
            .drop("_ma", "_md"))
