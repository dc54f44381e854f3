"""Structured reports over Spark physical plans.

``plan_report(df)`` parses ``explain("formatted")`` into the facts a
scale review needs:

- which filters were pushed into each parquet scan (``PushedFilters``);
- which columns each scan actually reads (``ReadSchema`` — column
  pruning evidence: a 2-column projection must not scan 16 columns);
- join strategies chosen (broadcast-hash vs sort-merge vs shuffled-hash
  vs nested-loop) and how many exchanges (shuffles) the plan contains;
- whole-stage-codegen coverage (how many codegen'd spans vs interpreted
  operators).

This is the feedback loop the build rule demands: after each operator
works, ``.explain`` the plan and iterate until it's the plan you'd want
on a 1000-executor cluster — tests/test_plans.py pins the results.
"""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout
from dataclasses import dataclass, field

from pyspark.sql import DataFrame


def explain_text(df: DataFrame, mode: str = "formatted") -> str:
    """The explain output as a string (df.explain prints to stdout)."""
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


@dataclass
class ScanInfo:
    location: str
    pushed_filters: list[str]
    read_columns: list[str]


@dataclass
class PlanReport:
    scans: list[ScanInfo] = field(default_factory=list)
    joins: list[str] = field(default_factory=list)  # physical join node names
    n_exchanges: int = 0
    n_broadcast_exchanges: int = 0
    codegen_stages: int = 0
    aqe: bool = False
    text: str = ""

    @property
    def join_strategies(self) -> set[str]:
        return {j.split(" ")[0] for j in self.joins}

    def scan_for(self, path_fragment: str) -> ScanInfo | None:
        for s in self.scans:
            if path_fragment in s.location:
                return s
        return None


_SCAN_RE = re.compile(r"Scan parquet.*?\n", re.IGNORECASE)
_JOIN_NODES = (
    "BroadcastHashJoin",
    "SortMergeJoin",
    "ShuffledHashJoin",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
)


def plan_report(df: DataFrame, *, execute: bool = False) -> PlanReport:
    """With ``execute=True`` the query is drained first so the report
    reflects the AQE *final* plan (runtime-chosen join strategies,
    coalesced partitions, codegen ids) — pre-execution adaptive plans
    carry ``isFinalPlan=false`` and no codegen annotations."""
    if execute:
        # collect() (not count()) — count() builds a *different* query
        # execution, leaving this DataFrame's adaptive plan unfinalized
        df.collect()
    text = explain_text(df, "formatted")
    rep = PlanReport(text=text)
    rep.aqe = "AdaptiveSparkPlan" in text

    # formatted mode lists operators, then per-operator detail blocks like
    # "(1) Scan parquet \n Location: ... \n PushedFilters: ... \n ReadSchema: ..."
    blocks = re.split(r"\n\(\d+\) ", "\n" + text)
    for b in blocks:
        header = b.split("\n", 1)[0]
        if header.startswith("Scan parquet"):
            loc = _first_group(r"Location:.*?\[(.*?)\]", b) or _first_group(
                r"Location: (\S+)", b
            ) or ""
            pushed_raw = _first_group(r"PushedFilters: \[(.*?)\]", b) or ""
            read_schema = _first_group(r"ReadSchema: struct<(.*?)>", b) or ""
            cols = [
                c.split(":")[0].strip()
                for c in _split_top_level(read_schema)
                if c.strip()
            ]
            pushed = [p.strip() for p in pushed_raw.split(",") if p.strip()]
            rep.scans.append(ScanInfo(loc, pushed, cols))
        for node in _JOIN_NODES:
            if header.startswith(node):
                rep.joins.append(header.strip())
        if header.startswith("Exchange"):
            rep.n_exchanges += 1
            if "broadcast" in header.lower() or "Broadcast" in b.split("\n")[0]:
                rep.n_broadcast_exchanges += 1
        if header.startswith("BroadcastExchange"):
            rep.n_broadcast_exchanges += 1

    rep.codegen_stages = len(
        set(re.findall(r"\[codegen id : (\d+)\]", text))
        | set(re.findall(r"WholeStageCodegen \((\d+)\)", text))
    )
    return rep


_AGG_NODES = ("HashAggregate", "SortAggregate", "ObjectHashAggregate")
_LIMIT_NODES = ("CollectLimit", "GlobalLimit", "LocalLimit", "TakeOrderedAndProject")
_TABLE_RE = re.compile(r"(\w+)\.parquet")


def forced_broadcast_tables(df: DataFrame) -> set[str]:
    """Tables scanned under a *planned* BroadcastExchange with nothing
    bounding their cardinality on the way up.

    Reads ``queryExecution().executedPlan()`` BEFORE any job runs — the
    static plan with exchanges inserted but AQE re-planning not yet
    applied (``isFinalPlan=false``), so with
    ``spark.sql.autoBroadcastJoinThreshold=-1`` every BroadcastExchange
    in it can only come from an explicit ``F.broadcast()`` / SQL hint
    (AQE runtime conversions never appear here; ``sparkPlan()`` is too
    early — EnsureRequirements hasn't inserted exchange nodes yet, so a
    hinted broadcast is invisible in its text). A broadcast subtree is
    *bounded* — and therefore scale-safe regardless of what it scans —
    if an Aggregate or Limit sits between the exchange and the scan
    (scalar/constant-group aggregates, top-k seeds). Anything else that
    scans an SF-proportional table is a forced broadcast that OOMs the
    driver at the 100 TB design point; this returns those table names
    so tests can pin the set empty.
    """
    text = df._jdf.queryExecution().executedPlan().toString()
    lines = []
    for raw in text.splitlines():
        # depth = tree-drawing prefix ONLY. A WholeStageCodegen
        # annotation ('*(4) HashAggregate...') must be stripped from the
        # CONTENT but not counted in the depth — lstrip'ing '*(4) ' as
        # depth chars shifted annotated siblings deeper than an adjacent
        # BroadcastExchange, swallowing them into its subtree and letting
        # their Aggregate/Limit falsely mark the broadcast as bounded.
        m = re.match(r"^([ :+\-]*)(?:\*\(\d+\)\s*)?(.*)$", raw)
        lines.append((len(m.group(1)), m.group(2)))
    # Broadcasts FROZEN inside a cached plan are runtime decisions, not
    # hints: `.persist()` snapshots whatever physical plan (including
    # auto-broadcasts chosen under the session threshold at cache time)
    # and re-prints it beneath the InMemoryRelation node on every later
    # build — same legitimacy class as an AQE runtime conversion, so the
    # "only a hint can put a BroadcastExchange here" premise doesn't
    # apply below that boundary. (Caveat: a *hinted* broadcast inside an
    # already-cached subtree is also skipped — the first, uncached build
    # of the same query is where this check catches it.)
    ancestors: list[tuple[int, str]] = []
    offenders: set[str] = set()
    for i, (depth, content) in enumerate(lines):
        while ancestors and ancestors[-1][0] >= depth:
            ancestors.pop()
        in_cached = any(
            a_content.startswith("InMemoryRelation")
            for _, a_content in ancestors
        )
        ancestors.append((depth, content))
        if not content.startswith("BroadcastExchange") or in_cached:
            continue
        subtree = []
        for d2, c2 in lines[i + 1:]:
            if d2 <= depth:
                break
            subtree.append(c2)
        bounded = any(
            c.startswith(_AGG_NODES) or c.startswith(_LIMIT_NODES) for c in subtree
        )
        if bounded:
            continue
        for c in subtree:
            offenders.update(_TABLE_RE.findall(c))
    return offenders


# Logical node classes whose re-execution does real work: a join,
# aggregate, window, explode, union, sort, expand, dedup, shuffle or
# Python map. Matched as class-name prefixes (WindowGroupLimit is a
# Window, FlatMapGroupsInPandasWithState a FlatMapGroupsInPandas).
_COSTLY_PLAN_NODES = (
    "Join",
    "Aggregate",
    "Window",
    "Generate",
    "Union",
    "Sort",
    "Expand",
    "Deduplicate",
    "RepartitionByExpression",
    "Repartition",
    "FlatMapGroupsInPandas",
    "MapInPandas",
    "MapInArrow",
    "CoGroup",
)


def is_costly_lineage(df: DataFrame) -> bool:
    """True iff the optimized logical plan of ``df`` holds a costly node
    (``_COSTLY_PLAN_NODES``) anywhere, subquery plans included. Walks
    node classes, not the printed plan. A cached relation or a
    checkpoint is a leaf: it is read, not re-executed. Driver-only
    (analysis and optimization, no job)."""
    stack = [df._jdf.queryExecution().optimizedPlan()]
    while stack:
        node = stack.pop()
        if node.getClass().getSimpleName().startswith(_COSTLY_PLAN_NODES):
            return True
        for seq in (node.children(), node.subqueries()):
            stack.extend(seq.apply(i) for i in range(seq.size()))
    return False


def _first_group(pattern: str, s: str) -> str | None:
    m = re.search(pattern, s, re.DOTALL)
    return m.group(1) if m else None


def _split_top_level(s: str) -> list[str]:
    """Split a struct<...> field list on commas not nested in <> brackets."""
    out, depth, cur = [], 0, []
    for ch in s:
        if ch == "<":
            depth += 1
        elif ch == ">":
            depth -= 1
        if ch == "," and depth == 0:
            out.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    if cur:
        out.append("".join(cur))
    return out
