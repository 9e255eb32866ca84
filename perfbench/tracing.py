"""Tracing from outside the program: spans around public calls, Spark's
status store read back after the run, and a /proc memory sampler.

Nothing here asks the engine for help. A span is recorded by the
benchmark around each public call it makes; Spark jobs and stages are
read from the driver's live status store (works with
``spark.ui.enabled=false``: no UI, no REST, no extra Spark jobs) and
hung under the call whose interval contains the job's submission.
Job groups cannot do this: ``run_round``'s state writes run on driver
threads that do not inherit them.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager

from metrics import attribute, missing_ids, self_times, sustained_peak


class Tracer:
    """Spans kept in memory, written out once when the run ends. A
    disabled tracer records nothing; callers time their calls
    themselves either way."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {"id": sid, "parent": self._stack[-1] if self._stack else None,
               "name": name, "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def calls(self, name: str | None = None) -> list[dict]:
        return [s for s in self.spans if s.get("kind") == "call"
                and (name is None or s["name"] == name)]

    def attach_spark(self, jobs: list[dict], stages: dict,
                     listed: set) -> None:
        """Hang each Spark job under the call span whose interval holds
        its submission time, and each stage the job ran under it. A job
        also lists the shuffle stages it reused from an earlier job; those
        were submitted before it and stay with the job that ran them.
        ``listed`` holds every stage id the store knows, skipped ones
        too. Raises if the store dropped a stage of an attributed job,
        which it does past its retention limit: the per-round figures
        would drift unseen."""
        calls = [(s["id"], s["start"], s["end"]) for s in self.calls()]
        owner = attribute(((j["jobId"], j["submitted"]) for j in jobs), calls)
        by_id = {j["jobId"]: j for j in jobs}
        lost = {sid for job_ids in owner.values() for jid in job_ids
                for sid in by_id[jid]["stageIds"] if sid not in listed}
        if lost:
            raise RuntimeError(f"status store dropped {len(lost)} stages")
        for cid, job_ids in owner.items():
            for jid in sorted(job_ids):
                j = by_id[jid]
                jspan = {"id": len(self.spans), "parent": cid,
                         "name": f"job {jid}", "kind": "job",
                         "start": j["submitted"],
                         "end": j["completed"] or j["submitted"],
                         "description": j["description"]}
                self.spans.append(jspan)
                for sid in j["stageIds"]:
                    st = stages.get(sid)
                    if st is None or st["submitted"] < j["submitted"]:
                        continue
                    self.spans.append({
                        "id": len(self.spans), "parent": jspan["id"],
                        "name": f"stage {sid}", "kind": "stage",
                        "stage_id": sid, "attempt": st["attempt"],
                        "start": st["submitted"], "end": st["completed"],
                        **{k: st[k] for k in ("tasks", "run_s", "cpu_s",
                                              "shuffle_bytes")}})

    def children(self, sid: int, kind: str) -> list[dict]:
        return [s for s in self.spans
                if s["parent"] == sid and s.get("kind") == kind]

    def stages_of(self, call: dict) -> list[dict]:
        return [st for j in self.children(call["id"], "job")
                for st in self.children(j["id"], "stage")]

    def write(self, path: str) -> None:
        selft = self_times(self.spans)
        for s in self.spans:
            s["self_s"] = selft[s["id"]]
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


class StatusStore:
    """Reads jobs, stages and tasks from the driver's status store as
    JSON, one py4j call per list."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        jvm = sc._jvm
        self._gw = sc._gateway
        self._store = sc._jsc.sc().statusStore()
        self._json = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala = jvm.com.fasterxml.jackson.module.scala
        self._json.registerModule(
            getattr(getattr(scala, "DefaultScalaModule$"), "MODULE$"))

    def _load(self, obj) -> list[dict]:
        return json.loads(self._json.writeValueAsString(obj))

    def jobs(self) -> list[dict]:
        """Jobs with a submission time. Raises if the store dropped any
        job, as it does past its retention limit."""
        listed = self._load(self._store.jobsList(None))
        lost = missing_ids(j["jobId"] for j in listed)
        if lost:
            raise RuntimeError(f"status store dropped {len(lost)} jobs")
        out = []
        for j in listed:
            if j.get("submissionTime") is None:
                continue
            out.append({"jobId": j["jobId"],
                        "submitted": j["submissionTime"] / 1000.0,
                        "completed": (j["completionTime"] / 1000.0
                                      if j.get("completionTime") else None),
                        "description": j.get("description") or "",
                        "stageIds": j["stageIds"]})
        return out

    def stages(self) -> tuple[dict, set]:
        """→ (the stages that ran, the ids of every stage listed).
        Skipped stages are listed with no submission time."""
        empty = self._gw.new_array(self._gw.jvm.double, 0)
        out, listed = {}, set()
        for s in self._load(self._store.stageList(None, False, False,
                                                  empty, None)):
            listed.add(s["stageId"])
            if s.get("submissionTime") is None or \
                    s.get("completionTime") is None:
                continue
            out[s["stageId"]] = {
                "attempt": s["attemptId"],
                "submitted": s["submissionTime"] / 1000.0,
                "completed": s["completionTime"] / 1000.0,
                "tasks": s["numCompleteTasks"],
                "run_s": s["executorRunTime"] / 1000.0,
                "cpu_s": s["executorCpuTime"] / 1e9,
                "shuffle_bytes": s["shuffleWriteBytes"]}
        return out, listed

    def task_seconds(self, stage_id: int, attempt: int) -> list[float]:
        return [t["duration"] / 1000.0 for t in self._load(
            self._store.taskList(stage_id, attempt, 1 << 30))
            if t.get("duration") is not None]


def _proc_table() -> tuple[dict[int, list[int]], dict[int, int]]:
    """→ (child pids by parent pid, RSS in kB by pid), from /proc."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
            ppid = int(stat[stat.rindex(")") + 2:].split()[1])
            with open(f"/proc/{name}/statm") as f:
                pages = int(f.read().split()[1])
        except (OSError, ValueError, IndexError):
            continue  # the process ended while we looked
        pid = int(name)
        children.setdefault(ppid, []).append(pid)
        rss[pid] = pages * os.sysconf("SC_PAGE_SIZE") // 1024
    return children, rss


def _tree(root: int, children: dict[int, list[int]]) -> list[int]:
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _tree_rss_kb(root: int) -> int:
    """RSS of ``root`` and all its descendants, from /proc."""
    children, rss = _proc_table()
    return sum(rss.get(pid, 0) for pid in _tree(root, children))


def descendants(root: int) -> list[int]:
    """The pids of every descendant of ``root``, from /proc."""
    return _tree(root, _proc_table()[0])[1:]


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


def wait_gone(pids: list[int], timeout_s: float = 60.0) -> None:
    """Wait until every process of ``pids`` has ended (a zombie counts as
    ended); kill those still running after ``timeout_s`` and wait for
    them as long again. They need not be children of this process: a
    JVM's Python workers outlive it briefly."""
    import signal
    left = list(pids)
    for kill in (False, True):
        deadline = time.monotonic() + timeout_s
        while True:
            left = [p for p in left if _alive(p)]
            if not left or time.monotonic() > deadline:
                break
            time.sleep(0.05)
        if not left or kill:
            return
        for p in left:
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass


class RssSampler:
    """Peak summed RSS of this process tree (driver, JVM, Python
    workers), sampled on a daemon thread; see ``sustained_peak``."""

    def __init__(self, interval_s: float = 0.1) -> None:
        self.samples_kb: list[int] = []
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.samples_kb.append(_tree_rss_kb(me))
            self._stop.wait(self._interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return sustained_peak(self.samples_kb) / 1024.0
