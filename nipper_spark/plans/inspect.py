"""Physical-plan inspection helpers.

The engine's scale claims are plan properties, not hopes; these helpers
make them assertable in tests:

- column pruning reaches the parquet scan (`ReadSchema` narrow),
- predicate pushdown happens before any Python UDF (`PushedFilters`),
- the fetch join broadcasts the wave (BroadcastHashJoin, pages side
  never shuffled),
- whole-stage codegen spans exist around native expressions.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted")


def plan_string(df: DataFrame, mode: str = "formatted") -> str:
    try:
        return formatted_plan(df) if mode == "formatted" else \
            df._jdf.queryExecution().toString()
    except Exception:  # noqa: BLE001 — fall back to captured explain
        import contextlib
        import io
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain(mode=mode)
        return buf.getvalue()


def read_schema_columns(df: DataFrame) -> list[list[str]]:
    """Column lists of every parquet `ReadSchema:` in the plan."""
    plan = plan_string(df)
    out = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        cols = [c.split(":")[0].strip() for c in m.group(1).split(",") if c]
        out.append(cols)
    return out


def pushed_filters(df: DataFrame) -> list[str]:
    plan = plan_string(df)
    out = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", plan):
        out.extend(f.strip() for f in m.group(1).split(",") if f.strip())
    return out


def has_broadcast_hash_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in plan_string(df)

def has_sort_merge_join(df: DataFrame) -> bool:
    return "SortMergeJoin" in plan_string(df)


def exchange_input_columns(df: DataFrame) -> list[list[str]]:
    """Column-name lists flowing INTO every Exchange (shuffle) in the
    formatted plan — the assertable form of 'the text/vectors never
    ride the candidate-generation shuffle'."""
    plan = plan_string(df)
    out = []
    for m in re.finditer(
            r"\(\d+\) Exchange\b.*?\nInput \[\d+\]: \[([^\]]*)\]",
            plan, re.DOTALL):
        cols = [c.strip().split("#")[0] for c in m.group(1).split(",")
                if c.strip()]
        out.append(cols)
    return out


def codegen_stage_count(df: DataFrame) -> int:
    return len(re.findall(r"WholeStageCodegen", plan_string(df)))


def python_eval_count(df: DataFrame) -> int:
    """Number of Python-worker boundary operators in the plan (each is
    an Arrow round-trip; pipelines should fuse to few)."""
    plan = plan_string(df)
    names = (r"ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas|"
             r"FlatMapCoGroupsInPandas")
    # formatted plans list each operator twice (tree + numbered detail);
    # count the numbered detail headers when present
    detail = re.findall(r"\(\d+\) (?:%s)" % names, plan)
    if detail:
        return len(detail)
    return len(re.findall(names, plan))


def shuffle_bytes(spark) -> tuple[int, int]:
    """Cumulative (shuffle_read_bytes, shuffle_write_bytes) across all
    executors of this session, from the JVM AppStatusStore (the same
    store the Spark UI reads — works with spark.ui.enabled=false).

    Diff two snapshots around a job to get that job's shuffle volume.
    This is the box-independent scale-invariance metric: wall-clock on
    a one-box local[N] pair is memory-bus-bound, but bytes shuffled
    per URL is a property of the PLAN and carries to a real cluster.
    """
    store = spark.sparkContext._jsc.sc().statusStore()
    it = store.executorList(False).iterator()
    read = write = 0
    while it.hasNext():
        e = it.next()
        read += e.totalShuffleRead()
        write += e.totalShuffleWrite()
    return read, write


def sql_executions(spark, after: int = -1) -> list[tuple[int, str, str]]:
    """``(execution id, description, physical plan text)`` of every SQL
    execution with an id above ``after``, read from the SQL status store
    (kept with the UI off) — the plans a call really ran, with the
    final adaptive plan once AQE re-planned them."""
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    out = []
    for i in range(execs.size()):
        e = execs.apply(i)
        if e.executionId() > after:
            out.append((e.executionId(), e.description() or "",
                        e.physicalPlanDescription()))
    return out


def plan_graph(spark, execution_id: int
               ) -> tuple[dict[int, str], dict[int, list[int]]]:
    """An execution's plan graph as ``({node id: name}, {node id:
    [child node ids]})`` — cached relations' plans included."""
    g = spark._jsparkSession.sharedState().statusStore() \
        .planGraph(execution_id)
    names: dict[int, str] = {}
    it = g.allNodes().iterator()
    while it.hasNext():
        n = it.next()
        names[n.id()] = n.name()
    children: dict[int, list[int]] = {}
    it = g.edges().iterator()
    while it.hasNext():
        e = it.next()
        children.setdefault(e.toId(), []).append(e.fromId())
    return names, children
