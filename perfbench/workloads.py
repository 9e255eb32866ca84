"""The workloads. Each one generates its inputs from the seed, writes
them to parquet, hands the engine only tables, and drives one public
call at a time (a closed loop with one client).

A workload provides:
- ``generate(dir)``: seeded rows → parquet (pure Python, no Spark);
- ``open(dir)``: read the tables back;
- ``warm()``: an untimed first call, which pays worker start-up and JIT;
- ``rewind()``: make the next calls repeat the measured ones;
- ``at_boundary()``: whether the next call starts a new unit of work;
- ``call(tracer)``: one timed call → (seconds, items, output);
- ``check_all(outputs)``: whether each output is correct, run outside
  the timer;
- ``layers(tracer, store, kernel)``: the per-layer metrics of the traced
  run, given the pure-kernel timings.
"""

from __future__ import annotations

import gc
import hashlib
import os
import pickle
import subprocess
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen
from metrics import bloom_fp_rate, covered, driver_gap, median, skew
from tracing import Tracer

# ----------------------------------------------------------------------
# checks in parallel

# a job process: sys.argv = [-c, function, input pickle, output pickle,
# import path...]; the input is a list of argument tuples
_JOB = ("import pickle, sys; sys.path[:0] = sys.argv[4:]; import workloads; "
        "f = getattr(workloads, sys.argv[1]); "
        "jobs = pickle.load(open(sys.argv[2], 'rb')); "
        "pickle.dump([f(*a) for a in jobs], open(sys.argv[3], 'wb'))")


def in_processes(fn, jobs: list[tuple], work: str, k: int = 4) -> list:
    """``[fn(*args) for args in jobs]``, spread over ``k`` Python
    processes. Each is a child of this one, and each has ended when this
    returns, on every path: ``multiprocessing`` would leave its resource
    tracker process running after the benchmark exits."""
    here = os.path.dirname(os.path.abspath(__file__))
    k = min(k, len(jobs))
    procs = []
    try:
        for i in range(k):
            base = os.path.join(work, f"job-{fn.__name__}-{i}")
            with open(base + ".in", "wb") as f:
                pickle.dump(jobs[i::k], f)
            procs.append((base, subprocess.Popen(
                [sys.executable, "-c", _JOB, fn.__name__, base + ".in",
                 base + ".out", here, os.getcwd()])))
        parts = []
        for base, p in procs:
            if p.wait() != 0:
                raise RuntimeError(f"{fn.__name__}: exit {p.returncode}")
            with open(base + ".out", "rb") as f:
                parts.append(pickle.load(f))
    finally:
        for _, p in procs:
            if p.poll() is None:
                p.kill()
            p.wait()
    # undo the round-robin split
    out = [None] * len(jobs)
    for i, part in enumerate(parts):
        out[i::k] = part
    return out


# ----------------------------------------------------------------------
# crawl and recrawl


CRAWL_PAGES = 4000
CRAWL_HOSTS = 20
CRAWL_LINKS = 10
CRAWL_SEEDS = 300
CRAWL_TOKENS = 10      # per host per round; Σ budgets ≈ 195 ≪ frontier
CRAWL_HOT_TOKENS = 5   # the hot host h00 gets half a budget
CRAWL_BUCKETS = 8
EPISODE_ROUNDS = 3

PHASES = (("wave", "wave select+count"),
          ("fetch_extract_probe", "fetch+extract+probe+antijoin"),
          ("counters", "per-bucket fresh counters"))


def _write(path: str, columns: dict, files: int = 1) -> None:
    """One parquet table, split into ``files`` part files."""
    t = pa.table(columns)
    if files == 1:
        pq.write_table(t, path)
        return
    os.makedirs(path)
    step = -(-t.num_rows // files)
    for i in range(files):
        pq.write_table(t.slice(i * step, step),
                       os.path.join(path, f"part-{i:05d}.parquet"))


def _read_dir(path: str, columns: list[str]) -> pa.Table:
    """All parquet part files under one state-table round directory."""
    files = sorted(os.path.join(path, f) for f in os.listdir(path)
                   if f.endswith(".parquet"))
    return pa.concat_tables([pq.read_table(f, columns=columns)
                             for f in files]) if files else None


def _state_files(state_dir: str) -> dict:
    out = {}
    for root, _, files in os.walk(state_dir):
        for f in files:
            p = os.path.join(root, f)
            try:
                st = os.stat(p)
            except OSError:
                continue
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


class _CrawlBase:
    """The unit of work is an episode: a crawl bootstrapped from the same
    seeds (not timed), then its first ``EPISODE_ROUNDS`` rounds, each
    one timed call. Every episode does the same work, so the round mix
    in a run does not depend on how fast the rounds are. The policy
    compacts the seen table every ``EPISODE_ROUNDS`` rounds, so each
    episode's last round folds the seen deltas into one directory. Set-up
    runs one throw-away episode, which pays worker start-up and JIT."""

    def __init__(self, spark, seed: int, work: str) -> None:
        self.spark, self.seed, self.work = spark, seed, work
        self.episodes: list[str] = []               # state dirs
        self.stats: list = []                       # measured RoundStats
        self.state_io: list[tuple[int, int]] = []   # (files, bytes) / round
        self._next = EPISODE_ROUNDS

    def policy(self):
        from nipper_spark.crawl.politeness import CrawlPolicy
        return CrawlPolicy(default_tokens=CRAWL_TOKENS,
                           host_tokens={gen.host_name(0): CRAWL_HOT_TOKENS},
                           robots_disallow=gen.robots_rules(CRAWL_HOSTS),
                           n_buckets=CRAWL_BUCKETS,
                           compact_every=EPISODE_ROUNDS)

    def graph(self):
        return gen.link_graph(self.seed, CRAWL_PAGES, CRAWL_HOSTS,
                              CRAWL_LINKS)

    def generate(self, d: str) -> None:
        g = self.graph()
        _write(os.path.join(d, "pages.parquet"),
               {"url": [u for u, _, _ in g],
                "html": [h.encode() for _, _, h in g]})
        seeds = [u for u, _, _ in g[:CRAWL_SEEDS]]
        _write(os.path.join(d, "seeds.parquet"),
               {"url": seeds, "depth": pa.array([0] * len(seeds), pa.int32()),
                "score": [1.0] * len(seeds)})

    def open(self, d: str) -> None:
        self.pages = self.spark.read.parquet(os.path.join(d, "pages.parquet"))
        self.seeds_df = self.spark.read.parquet(
            os.path.join(d, "seeds.parquet"))
        self.seed_list = [(r["url"], r["score"])
                          for r in self.seeds_df.collect()]

    def _new_episode(self) -> str:
        # drop the last episode's engine and let Spark's cleaner free its
        # checkpoint blocks, so memory does not grow with the episode count
        self.engine = None
        gc.collect()
        self.spark.sparkContext._jvm.System.gc()
        state = os.path.join(self.work, f"state-{len(self.episodes)}")
        self.episodes.append(state)
        self.bootstrap(state)
        self._next, self._bound = 0, None
        return state

    def warm(self) -> None:
        # a whole episode: later rounds run plans (seen probe, bloom
        # mirror, compaction) that round 0 does not, and their first
        # run compiles them
        state = self._new_episode()
        for r in range(EPISODE_ROUNDS):
            self._bound = self.run_round(state, r).frontier_next
        self._next = EPISODE_ROUNDS
        self.episodes.pop()

    def rewind(self) -> None:
        self._next = EPISODE_ROUNDS

    def at_boundary(self) -> bool:
        return self._next == EPISODE_ROUNDS

    def call(self, tracer):
        state = self._new_episode() if self._next == EPISODE_ROUNDS \
            else self.episodes[-1]
        if tracer.enabled:
            before = _state_files(state)
        with tracer.span("run_round", kind="call", round=self._next,
                         state=state) as sp:
            t0 = time.perf_counter()
            st = self.run_round(state, self._next)
            dt = time.perf_counter() - t0
        if tracer.enabled:
            after = _state_files(state)
            new = [p for p, v in after.items() if before.get(p) != v]
            self.state_io.append((len(new), sum(after[p][0] for p in new)))
            sp["stats"] = st.__dict__
        self._next += 1
        self._bound = st.frontier_next
        self.stats.append(st)
        return dt, st.scheduled + st.fresh, (state, st.round)

    # ---- checks --------------------------------------------------------
    def check_all(self, outputs) -> list[bool]:
        """Each measured round's schedule against crawl_oracle's, and,
        on an episode's last round, the seen set too."""
        from nipper_spark.crawl.oracle import crawl_oracle
        pages = {u: h for u, _, h in self.graph()}
        oracle = crawl_oracle(pages, self.seed_list, self.policy(),
                              max_rounds=EPISODE_ROUNDS)
        ok = []
        for state, r in outputs:
            good = self._schedule_ok(state, r, oracle.schedules)
            if good and r == EPISODE_ROUNDS - 1:
                good = self._seen(state) == oracle.seen
            ok.append(good)
        return ok

    @staticmethod
    def _schedule_ok(state: str, r: int, schedules) -> bool:
        t = _read_dir(os.path.join(state, "schedule", f"round={r}"),
                      ["seq", "url", "depth", "score"])
        want = schedules[r] if r < len(schedules) else []
        if t is None:
            return not want
        got = sorted(zip(t["seq"].to_pylist(), t["url"].to_pylist(),
                         t["depth"].to_pylist(), t["score"].to_pylist()))
        return (len(got) == len(want)
                and [g[0] for g in got] == list(range(len(got)))
                and all(g[1] == w[0] and g[2] == w[2]
                        and abs(g[3] - w[3]) <= 1e-9 * max(1.0, abs(w[3]))
                        for g, w in zip(got, want)))

    @staticmethod
    def _seen(state: str) -> set:
        base = os.path.join(state, "seen")
        out: set = set()
        for d in os.listdir(base):
            if d.startswith("round=") and "." not in d:
                t = _read_dir(os.path.join(base, d), ["url"])
                if t is not None:
                    out.update(t["url"].to_pylist())
        return out

    # ---- per-layer -----------------------------------------------------
    def layers(self, tracer, store, kernel: dict) -> dict:
        from nipper_spark.crawl.frontier import round_metrics
        calls = tracer.calls("run_round")
        measured = {(c["state"], c["round"]) for c in calls}
        per: dict[str, list[float]] = {}

        def add(k, v):
            per.setdefault(k, []).append(v)

        for c in calls:
            jobs = tracer.children(c["id"], "job")
            stages = tracer.stages_of(c)
            wall = (c["start"], c["end"])
            labelled = 0.0
            for key, label in PHASES:
                ivs = [(j["start"], j["end"]) for j in jobs
                       if j["description"].endswith(label)]
                s = covered(ivs, *wall)
                labelled += s
                add(f"crawl.phase_s.{key}", s)
            add("crawl.phase_s.other", (wall[1] - wall[0]) - labelled)
            add("crawl.driver_gap_s", driver_gap(
                wall, [(s["start"], s["end"]) for s in stages]))
            add("crawl.jobs_per_round", len(jobs))
            add("crawl.stages_per_round", len(stages))
            add("crawl.tasks_per_round", sum(s["tasks"] for s in stages))
            add("crawl.task_s_per_round", sum(s["run_s"] for s in stages))
            add("crawl.shuffle_mb_per_round",
                sum(s["shuffle_bytes"] for s in stages) / 1e6)
        out = {k: median(v) for k, v in per.items()}
        cand = sum(s.candidates for s in self.stats)
        hits = sum(s.bloom_hits for s in self.stats)
        fresh = sum(s.fresh for s in self.stats)
        out["crawl.bloom_hit_rate"] = hits / cand if cand else 0.0
        out["crawl.bloom_fp_rate"] = bloom_fp_rate(cand, hits, fresh)
        out["crawl.fresh_yield"] = fresh / cand if cand else 0.0
        out["crawl.rounds"] = float(len(calls))
        shares = []
        for state in {st for st, _ in measured}:
            log = self.spark.read.parquet(os.path.join(state, "round_log"))
            shares += [row["max_bucket_share"]
                       for row in round_metrics(log).collect()
                       if (state, row["round"]) in measured]
        out["crawl.max_bucket_share"] = median(shares)
        out["state.files_written_per_round"] = median(
            f for f, _ in self.state_io)
        out["state.mb_written_per_round"] = median(
            b / 1e6 for _, b in self.state_io)
        out["state.seen_files"] = float(sum(
            1 for p in _state_files(self.episodes[-1])
            if os.sep + "seen" + os.sep in p and p.endswith(".parquet")))
        return out


class Crawl(_CrawlBase):
    """``bootstrap`` from a seed list, then ``run_round`` repeated in one
    engine: the in-process state carry and driver bloom mirror."""

    name = "crawl"

    def bootstrap(self, state: str) -> None:
        from nipper_spark.crawl.frontier import FrontierEngine
        self.engine = FrontierEngine(self.spark, self.pages, state,
                                     self.policy())
        self.engine.bootstrap(self.seed_list)

    def run_round(self, state: str, r: int):
        return self.engine.run_round(r, known_nonempty=r > 0,
                                     wave_bound=None if r == 0
                                     else self._bound)


class Recrawl(_CrawlBase):
    """``bootstrap_from_df`` from a seed table, then each round in a
    fresh engine after ``resume_round()``, as tools/submit_crawl.py runs
    one application per round: parquet authority, bucket cogroup, seen
    compaction."""

    name = "recrawl"

    def bootstrap(self, state: str) -> None:
        from nipper_spark.crawl.frontier import FrontierEngine
        FrontierEngine(self.spark, self.pages, state,
                       self.policy()).bootstrap_from_df(self.seeds_df)

    def run_round(self, state: str, r: int):
        from nipper_spark.crawl.frontier import FrontierEngine
        eng = FrontierEngine(self.spark, self.pages, state, self.policy())
        nxt = eng.resume_round()
        if nxt != r:
            raise RuntimeError(f"resume_round gave {nxt}, expected {r}")
        return eng.run_round(nxt)


# ----------------------------------------------------------------------
# extract

EXTRACT_PAGES = 1500
EXTRACT_FILES = 8  # as a distributed fetcher leaves it: more files than cores
ROW_SELECTOR = ".item"
FIELDS = {"title": ("a.t", "text", None), "href": ("a.t", "attr", "href"),
          "score": (".s", "text", None)}


def _h48(s: str) -> int:
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:12], 16)


def _digest_col(cols):
    from pyspark.sql import functions as F
    return F.sum(F.conv(F.substring(F.md5(F.concat_ws("\x1f", *cols)),
                                    1, 12), 16, 10).cast("long"))


def expected_digests(rows) -> tuple[tuple, tuple]:
    """Single-threaded twin of one extract pass over ``rows``: the same
    digests computed from ``extract_text_and_links`` and
    ``Document.select``."""
    from nipper_spark import Document
    from nipper_spark.functions.html_udfs import extract_text_and_links
    n = nodes = anchors = h = 0
    rn = rh = 0
    for url, html in rows:
        text, links, nn, na = extract_text_and_links(url, html)
        n += 1
        nodes += nn
        anchors += na
        h += _h48("\x1f".join((url, text, "\x1e".join(links))))
        doc = Document.from_html(html)
        for seq, row in enumerate(doc.select(ROW_SELECTOR).iter()):
            vals = [url, str(seq)]
            for _, (sel, op, arg) in sorted(FIELDS.items()):
                sub = row.select(sel)
                vals.append(sub.text() if op == "text" else sub.attr(arg))
            rn += 1
            rh += _h48("\x1f".join(v for v in vals if v is not None))
    return (n, nodes, anchors, h), (rn, rh)


class Extract:
    """``extract_pages`` plus ``extract_records`` over a pages table with
    a stated class mix and share of byte-identical refetches."""

    name = "extract"

    def __init__(self, spark, seed: int, work: str) -> None:
        self.spark, self.seed, self.work = spark, seed, work

    def rows(self):
        return [(u, h) for u, _, h in gen.extract_rows(self.seed,
                                                        EXTRACT_PAGES)]

    def generate(self, d: str) -> None:
        rows = self.rows()
        _write(os.path.join(d, "pages.parquet"),
               {"url": [u for u, _ in rows],
                "html": [h.encode() for _, h in rows]}, EXTRACT_FILES)

    def open(self, d: str) -> None:
        self.pages = self.spark.read.parquet(os.path.join(d, "pages.parquet"))
        self.n_pages = self.pages.count()

    def _pages_digest(self):
        from pyspark.sql import functions as F
        from nipper_spark.functions.html_udfs import extract_pages
        r = extract_pages(self.pages).agg(
            F.count("*"), F.sum("n_nodes"), F.sum("n_anchors"),
            _digest_col(["url", "text", F.array_join("outlinks", "\x1e")])
        ).collect()[0]
        return tuple(int(x or 0) for x in r)

    def _records_digest(self):
        from pyspark.sql import functions as F
        from nipper_spark.functions.html_udfs import extract_records
        cols = ["url", F.col("seq").cast("string")] + sorted(FIELDS)
        r = extract_records(self.pages, ROW_SELECTOR, FIELDS).agg(
            F.count("*"), _digest_col(cols)).collect()[0]
        return tuple(int(x or 0) for x in r)

    def warm(self) -> None:
        self._pages_digest()
        self._records_digest()

    def rewind(self) -> None:
        pass

    def at_boundary(self) -> bool:
        return True

    def call(self, tracer):
        with tracer.span("extract_pages", kind="call"):
            t0 = time.perf_counter()
            p = self._pages_digest()
            t1 = time.perf_counter()
        with tracer.span("extract_records", kind="call"):
            t2 = time.perf_counter()
            r = self._records_digest()
            t3 = time.perf_counter()
        return (t1 - t0) + (t3 - t2), self.n_pages, (p, r)

    def check_all(self, outputs) -> list[bool]:
        rows = self.rows()
        k = 4
        parts = in_processes(expected_digests,
                             [(rows[i::k],) for i in range(k)], self.work, k)
        p = tuple(sum(x[0][i] for x in parts) for i in range(4))
        r = tuple(sum(x[1][i] for x in parts) for i in range(2))
        return [o == (p, r) for o in outputs]

    def layers(self, tracer, store, kernel: dict) -> dict:
        kernel_ms_per_page = kernel["functions.extract_ms_per_page"]
        per: dict[str, list[float]] = {}
        for c in tracer.calls("extract_pages"):
            stages = tracer.stages_of(c)
            run_s = sum(s["run_s"] for s in stages)
            per.setdefault("extract.task_s", []).append(run_s)
            per.setdefault("extract.task_cpu_s", []).append(
                sum(s["cpu_s"] for s in stages))
            per.setdefault("extract.tasks", []).append(
                sum(s["tasks"] for s in stages))
            big = max(stages, key=lambda s: s["run_s"], default=None)
            if big is not None:
                per.setdefault("extract.task_skew", []).append(skew(
                    store.task_seconds(big["stage_id"], big["attempt"])))
            if run_s:
                per.setdefault("extract.boundary_share", []).append(
                    1.0 - self.n_pages * kernel_ms_per_page / 1e3 / run_s)
        out = {k: median(v) for k, v in per.items()}
        # the input property a parse memo depends on, as measured
        dups, adjacent = gen.duplicate_counts(gen.extract_rows(
            self.seed, EXTRACT_PAGES))
        out["input.dup_row_share"] = dups / self.n_pages
        out["input.adjacent_dup_row_share"] = adjacent / self.n_pages
        return out


# ----------------------------------------------------------------------
# curate

# label, documents, embedding vectors, calls. "full" is one parquet file
# of 8192 rows: ensure_min_parallelism spreads it over the k cores as
# Arrow batches of 8192/k rows (2731 on 3 cores, above the sketch
# kernels' 1024-row batch threshold) and it runs every call; "small"
# gives 1024/k-row batches, which keep the sketch kernels on their
# scalar path; "warm" only pays first-call costs in set-up.
CURATE_CALLS = ("dedup_exact", "minhash_lsh_pairs", "near_dup_survivors",
                "simhash_near_dups", "with_text_features",
                "curate_web_corpus", "ann_brute_topk")
CURATE_INPUTS = (("full", 8192, 4096, CURATE_CALLS),
                 ("small", 1024, 256,
                  ("minhash_lsh_pairs", "simhash_near_dups")))
CURATE_WARM = ("warm", 128, 128, CURATE_CALLS)
MINHASH = dict(num_perm=64, bands=16, ngram=3, threshold=0.8, max_bucket=64)
TOKEN_BUDGET = 200_000
ANN_QUERIES = 8
ANN_K = 10


class Curate:
    """The curation calls on two inputs: a generated documents table big
    enough for the batch sketch kernels and a small one whose batches
    stay on the scalar kernels."""

    name = "curate"

    def __init__(self, spark, seed: int, work: str) -> None:
        self.spark, self.seed, self.work = spark, seed, work
        self.rows: dict = {}

    def generate(self, d: str) -> None:
        for label, n_docs, n_vecs, _ in (CURATE_WARM,) + CURATE_INPUTS:
            s = self.seed * 31 + n_docs
            docs, vecs = gen.documents(s, n_docs), gen.embeddings(s, n_vecs)
            self.rows[label] = (docs, vecs)
            _write(os.path.join(d, f"docs-{label}.parquet"), {
                "doc_id": [i for i, _, _, _ in docs],
                "text": [t for _, t, _, _ in docs],
                "lang": [x for _, _, x, _ in docs],
                "source": [s for _, _, _, s in docs],
                "n_chars": [len(t) for _, t, _, _ in docs]})
            _write(os.path.join(d, f"emb-{label}.parquet"), {
                "vec_id": [i for i, _, _ in vecs],
                "embedding": pa.array([v for _, v, _ in vecs],
                                      pa.list_(pa.float32())),
                "label": pa.array([x for _, _, x in vecs], pa.int32())})

    def open(self, d: str) -> None:
        self.tables = []
        for label, n_docs, _, calls in (CURATE_WARM,) + CURATE_INPUTS:
            docs = self.spark.read.parquet(
                os.path.join(d, f"docs-{label}.parquet"))
            emb = self.spark.read.parquet(
                os.path.join(d, f"emb-{label}.parquet"))
            queries = [(r["vec_id"], list(r["embedding"])) for r in
                       emb.orderBy("vec_id").limit(ANN_QUERIES).collect()]
            self.tables.append((label, n_docs, docs, emb, queries, calls))
        self.n_docs = sum(t[1] for t in self.tables[1:])

    def _pass(self, tracer, tables):
        """Every call on each input → (seconds, outputs)."""
        from pyspark.sql import functions as F
        from nipper_spark.functions.curate import curate_web_corpus
        from nipper_spark.functions.dedup import (
            dedup_exact, minhash_lsh_pairs, near_dup_survivors,
            simhash_near_dups)
        from nipper_spark.functions.similarity import ann_brute_topk
        from nipper_spark.functions.text_udfs import with_text_features

        spent, outs = 0.0, {}
        for label, _, docs, emb, queries, calls in tables:
            steps = (
                ("dedup_exact", lambda: sorted(
                    r[0] for r in dedup_exact(docs).select("doc_id")
                    .collect())),
                ("minhash_lsh_pairs", lambda: sorted(
                    (r[0], r[1]) for r in minhash_lsh_pairs(
                        docs, **MINHASH).select("id_a", "id_b").collect())),
                ("near_dup_survivors", lambda: sorted(
                    r[0] for r in near_dup_survivors(
                        docs, self.spark.createDataFrame(
                            outs[(label, "minhash_lsh_pairs")],
                            "id_a long, id_b long"))
                    .select("doc_id").collect())),
                ("simhash_near_dups", lambda: sorted(
                    (r[0], r[1]) for r in simhash_near_dups(docs)
                    .select("id_a", "id_b").collect())),
                ("with_text_features", lambda: tuple(
                    with_text_features(docs).agg(
                        F.count("*"),
                        F.sum(F.col("fingerprint") % 1000003)).collect()[0])),
                ("curate_web_corpus", lambda: sorted(
                    tuple(r) for r in curate_web_corpus(
                        docs, token_budget=TOKEN_BUDGET).collect())),
                ("ann_brute_topk", lambda: sorted(
                    (r["query_id"], r["rank"], r["vec_id"], r["cosine"])
                    for r in ann_brute_topk(emb, queries, k=ANN_K)
                    .collect())),
            )
            for name, fn in steps:
                if name not in calls:
                    continue
                with tracer.span(name, kind="call", input=label):
                    t0 = time.perf_counter()
                    outs[(label, name)] = fn()
                    spent += time.perf_counter() - t0
        return spent, outs

    def warm(self) -> None:
        self._pass(Tracer(False), self.tables[:1])

    def rewind(self) -> None:
        pass

    def at_boundary(self) -> bool:
        return True

    def call(self, tracer):
        dt, outs = self._pass(tracer, self.tables[1:])
        self.last_outputs = outs
        return dt, self.n_docs, outs

    def check_all(self, outputs) -> list[bool]:
        tasks = [(label, group, self.rows[label])
                 for label, _, _, calls in CURATE_INPUTS
                 for group, of in _TWIN_GROUPS.items()
                 if set(of) & set(calls)]
        want = {}
        for part in in_processes(_curate_twin, tasks, self.work):
            want.update(part)
        return [all(_ann_ok(got, want[key]) if key[1] == "ann_brute_topk"
                    else got == want[key] for key, got in outs.items())
                for outs in outputs]

    def layers(self, tracer, store, kernel: dict) -> dict:
        from nipper_spark.functions.dedup import minhash_lsh_candidates
        per: dict[str, float] = {}
        took: dict[tuple, list[float]] = {}
        for c in tracer.calls():
            took.setdefault((c["name"], c["input"]), []).append(
                c["end"] - c["start"])
        for name in CURATE_CALLS:
            per[f"curate.step_s.{name}"] = sum(
                median(v) for (n, _), v in took.items() if n == name)
        cand = ver = 0
        for label, _, docs, _, _, _ in self.tables[1:]:
            cand += minhash_lsh_candidates(
                docs, num_perm=MINHASH["num_perm"], bands=MINHASH["bands"],
                ngram=MINHASH["ngram"],
                max_bucket=MINHASH["max_bucket"]).count()
            ver += len(self.last_outputs[(label, "minhash_lsh_pairs")])
        per["curate.candidate_pairs"] = float(cand)
        per["curate.verified_pairs"] = float(ver)
        per["curate.verify_yield"] = ver / cand if cand else 0.0
        return per


# ---- pure-Python twins of the curate calls, from the package's kernels

_TWIN_GROUPS = {"dedup": ("dedup_exact",),
                "minhash": ("minhash_lsh_pairs", "near_dup_survivors"),
                "simhash": ("simhash_near_dups",),
                "features": ("with_text_features",),
                "corpus": ("curate_web_corpus",),
                "ann": ("ann_brute_topk",)}


def _norm_text(t: str) -> str:
    """dedup_exact's equivalence key: trim spaces, collapse whitespace,
    lower-case."""
    import re
    return re.sub(r"\s+", " ", t.strip(" ")).lower()


def _bucket_pairs(ids, keys_of) -> set:
    from nipper_spark.functions.dedup import bucket_candidate_pairs
    buckets: dict = {}
    for k, i in enumerate(ids):
        for key in keys_of(k):
            buckets.setdefault(key, []).append(i)
    out = set()
    for members in buckets.values():
        out.update(bucket_candidate_pairs(members, MINHASH["max_bucket"]))
    return out


def _survivors(ids, pairs) -> list:
    """Min id of each connected component (union-find)."""
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return sorted(i for i in ids if find(i) == i)


def _curate_twin(label: str, group: str, rows) -> dict:
    from nipper_spark.functions.curate import curate_web_corpus_oracle
    from nipper_spark.functions.dedup import (
        minhash_signatures_batch, ngram_jaccard, simhash_batch)
    from nipper_spark.functions.text_udfs import fingerprint_batch
    docs, vecs = rows
    ids = [i for i, _, _, _ in docs]  # gen.documents: id == row position
    texts = [t for _, t, _, _ in docs]
    if group == "dedup":
        first: dict = {}
        for i, t in zip(ids, texts):
            first.setdefault(hashlib.md5(_norm_text(t).encode()).hexdigest(),
                             i)
        return {(label, "dedup_exact"): sorted(first.values())}
    if group == "minhash":
        sigs = minhash_signatures_batch(texts, MINHASH["num_perm"],
                                        MINHASH["ngram"], None, {})
        w = MINHASH["num_perm"] // MINHASH["bands"]
        pairs = _bucket_pairs(ids, lambda k: [
            (b, tuple(sigs[k][b * w:(b + 1) * w]))
            for b in range(MINHASH["bands"])])
        cache: dict = {}
        mh = sorted(p for p in pairs if ngram_jaccard(
            texts[p[0]], texts[p[1]], MINHASH["ngram"], cache)
            >= MINHASH["threshold"])
        return {(label, "minhash_lsh_pairs"): mh,
                (label, "near_dup_survivors"): _survivors(ids, mh)}
    if group == "simhash":
        sims = [int(x) & ((1 << 64) - 1) for x in simhash_batch(texts, 2, {})]
        cand = _bucket_pairs(ids, lambda k: [
            (c, (sims[k] >> (16 * c)) & 0xFFFF) for c in range(4)])
        return {(label, "simhash_near_dups"): sorted(
            p for p in cand if bin(sims[p[0]] ^ sims[p[1]]).count("1") <= 3)}
    if group == "features":
        fps = fingerprint_batch(texts)
        return {(label, "with_text_features"): (
            len(ids), int(sum(int(f) % 1000003 for f in fps)))}
    if group == "corpus":
        return {(label, "curate_web_corpus"): sorted(
            curate_web_corpus_oracle(list(zip(ids, texts)),
                                     token_budget=TOKEN_BUDGET))}
    return {(label, "ann_brute_topk"): _ann_twin(vecs)}


def _ann_twin(vecs) -> dict:
    """Exact cosines of every vector against each query → {query_id:
    {vec_id: cosine}}, in float64."""
    ids = [i for i, _, _ in vecs]
    m = np.asarray([v for _, v, _ in vecs], dtype=np.float32).astype(float)
    m = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-30)
    qrows = sorted(range(len(ids)), key=lambda r: ids[r])[:ANN_QUERIES]
    sims = m @ m[qrows].T
    return {ids[q]: dict(zip(ids, sims[:, j].tolist()))
            for j, q in enumerate(qrows)}


def _ann_ok(got, want, tol: float = 1e-4) -> bool:
    """The engine's top-k per query agrees with exact cosines: reported
    cosines match, ranks run 1..k in non-increasing cosine, and nothing
    left out scores above the k-th by more than float32 noise."""
    by_q: dict = {}
    for qid, rank, vid, cos in got:
        by_q.setdefault(qid, []).append((rank, vid, cos))
    if sorted(by_q) != sorted(want):
        return False
    for qid, rows in by_q.items():
        rows.sort()
        exact = want[qid]
        if [r for r, _, _ in rows] != list(range(1, ANN_K + 1)):
            return False
        if any(abs(exact[v] - c) > tol for _, v, c in rows):
            return False
        if any(rows[i][2] < rows[i + 1][2] for i in range(len(rows) - 1)):
            return False
        chosen = {v for _, v, _ in rows}
        best_left = max(c for v, c in exact.items() if v not in chosen)
        if best_left > rows[-1][2] + tol:
            return False
    return True

WORKLOADS = {w.name: w for w in (Crawl, Recrawl, Extract, Curate)}
