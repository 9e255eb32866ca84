#!/usr/bin/env python3
"""Benchmark of the nipper_spark engine: one workload per run.

    python3 perfbench/run.py --workload crawl --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The run builds a Spark ``local[k]``
session (k = CPUs - 1, at most 4), generates its inputs from ``--seed``,
measures whole calls until ``--seconds`` have passed, checks every
output outside the timer, and prints one JSON object as its last line:
the end-to-end metrics with ``--trace 0``; with ``--trace 1`` an
untraced pass, then a traced pass, and the per-layer metrics. A line
before it lists every metric by name, for people. Everything it writes
goes under ``.perfbench/`` in the checkout. Exits non-zero, printing no
result, when the engine cannot be imported or a run cannot finish.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
SETUP_REPEATS = 3
HEAP = "2g"

# the names each workload's items and calls carry in the summary line
ITEM_NAMES = {"crawl": ("urls_per_s", "round_s"),
              "recrawl": ("urls_per_s", "round_s"),
              "extract": ("pages_per_s", "pass_s"),
              "curate": ("docs_per_s", "pass_s")}


def _units(kind: str) -> dict:
    """Metric name → unit for ``end_to_end`` or ``per_layer``, in the
    order BENCHMARK.json lists them."""
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def _session(work: str, cores: int, trace: bool):
    # Spark's scratch space and every temp file stay inside the checkout
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["NIPPER_DRIVER_MEM"] = HEAP  # the machine may be shared
    # a heap of fixed size, touched at start: with a growable heap the
    # JVM's resident size differed by up to 280 MB from run to run
    confs = ["spark.ui.showConsoleProgress=false",
             f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp}"
             f" -XX:-UsePerfData -Xms{HEAP} -XX:+AlwaysPreTouch"]
    if trace:
        # keep every job, stage and task of the run in the status store;
        # past these limits Spark drops the oldest, and the collector
        # refuses a store with gaps
        confs += [f"spark.ui.{k}=1000000" for k in
                  ("retainedJobs", "retainedStages", "retainedTasks")]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(c)}" for c in confs) + " pyspark-shell"
    from nipper_spark.session import build_session
    spark = build_session("perfbench", master=f"local[{cores}]",
                          shuffle_partitions=cores)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark) -> None:
    """Stop Spark (``spark`` is None if the session failed to start),
    then wait for the JVM and every other process this one started, the
    JVM's Python workers among them."""
    from pyspark import SparkContext
    from tracing import descendants, wait_gone
    started = descendants(os.getpid())
    gateway = SparkContext._gateway
    try:
        if spark is not None:
            spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        wait_gone(started)
        if gateway is not None:
            gateway.proc.wait()


def _measure(wl, tracer, seconds: float = 0.0, calls: int = 0):
    """Closed loop: whole calls, one at a time, until ``seconds`` of
    call time have passed and the workload is between units of work, or
    until ``calls`` calls were made. → (times, items, outputs, failed)"""
    times, items, outputs, failed = [], 0, [], 0
    while (sum(times) < seconds or not wl.at_boundary()) if seconds \
            else len(times) < calls:
        try:
            dt, n, out = wl.call(tracer)
        except Exception as e:  # noqa: BLE001 — a failed call is counted
            print(f"perfbench: call failed: {e!r}", file=sys.stderr)
            failed += 1
            break
        times.append(dt)
        items += n
        outputs.append(out)
    return times, items, outputs, failed


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    sys.path[:0] = [HERE, root]
    try:
        import nipper_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {root}: {e}",
              file=sys.stderr)
        return 2
    import metrics
    from tracing import RssSampler, StatusStore, Tracer
    from workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        ap.error(f"--workload must be one of {sorted(WORKLOADS)}")

    work = os.path.join(root, ".perfbench",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    kernel = {}
    if args.trace:
        import kernels
        kernel = kernels.time_kernels(args.seed)
    # one CPU stays free for the driver, the JVM's own threads and the
    # Python side of the loop, which otherwise preempt tasks that a round
    # waits on; crawl rounds, bound by orchestration, run as fast on 3
    # task slots of a 4-CPU box as on 4
    cores = max(1, min(4, len(os.sched_getaffinity(0)) - 1))

    with RssSampler() as rss:
        spark = None
        try:
            t0 = time.perf_counter()
            spark = _session(work, cores, bool(args.trace))
            session_s = time.perf_counter() - t0
            wl = WORKLOADS[args.workload](spark, args.seed, work)
            gen_s = []
            for i in range(SETUP_REPEATS):
                d = os.path.join(work, f"inputs-{i}")
                os.makedirs(d)
                t = time.perf_counter()
                wl.generate(d)
                gen_s.append(time.perf_counter() - t)
            t = time.perf_counter()
            wl.open(os.path.join(work, "inputs-0"))
            wl.warm()
            warm_s = time.perf_counter() - t
            times, items, outputs, failed = _measure(
                wl, Tracer(False), seconds=args.seconds)
            if args.trace:
                # the same calls again, traced: the ratio of the two
                # passes' call time is the cost of tracing
                wl.rewind()
                tracer = Tracer(True)
                t_times, _, t_out, t_failed = _measure(
                    wl, tracer, calls=len(times))
                outputs += t_out
                failed += t_failed
            peak_mb = rss.peak_mb
            ok = wl.check_all(outputs) if not failed else []
            layers = {}
            if args.trace and not failed:
                store = StatusStore(spark)
                tracer.attach_spark(store.jobs(), *store.stages())
                layers = wl.layers(tracer, store, kernel)
                tracer.write(os.path.join(
                    root, ".perfbench", "traces",
                    f"{args.workload}-seed{args.seed}.json"))
        finally:
            _stop(spark)

    attempted = len(times) + (len(t_times) if args.trace else 0) + failed
    failed += sum(1 for x in ok if not x)
    items_per_s = items / sum(times) if sum(times) else 0.0
    e2e = {
        "setup_s": session_s + metrics.median(gen_s) + warm_s,
        "items_per_s": items_per_s,
        "call_s_p50": metrics.median(times),
        "peak_rss_mb": peak_mb,
    }
    item_name, call_name = ITEM_NAMES[args.workload]
    tail = metrics.tail_percentile(times)
    summary = {
        "workload": args.workload, "seed": args.seed, "calls": len(times),
        item_name: [items_per_s, "1/s"],
        f"{call_name}_p50": [e2e["call_s_p50"], "s"],
        f"{call_name}_tail": ([tail[1], "s", f"p{tail[0]:.0f}"] if tail
                              else "fewer than 11 calls"),
        "setup_s": [e2e["setup_s"], "s"], "peak_rss_mb": [peak_mb, "MB"],
        "error_rate": [failed / max(attempted, 1), "ratio"]}
    if args.trace:
        layers.update(kernel)
        layers["trace.overhead_share"] = (
            sum(t_times) / sum(times) - 1.0 if sum(times) else 0.0)
        summary["layers"] = layers
    print("perfbench " + json.dumps(summary))

    if args.trace:
        # a layer this workload does not run reads 0
        result = {n: {"value": float(layers.get(n, 0.0)), "unit": u}
                  for n, u in _units("per_layer").items()}
    else:
        result = {n: {"value": e2e[n], "unit": u}
                  for n, u in _units("end_to_end").items()}
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": result}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
