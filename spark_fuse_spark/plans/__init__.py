"""Physical-plan introspection: make "is this the plan I'd want at 100 TB?"
a checkable assertion instead of a code-review opinion.

Spark's declarative API means the *logical* plan is what we author and the
*physical* plan is what actually runs.  These helpers parse
``EXPLAIN FORMATTED`` output so tests (``tests/test_plans.py``) can pin the
properties that matter at scale:

* **pushdown** — filters reach the parquet scan (``PushedFilters``);
* **pruning** — the scan reads only referenced columns (``ReadSchema``);
* **join strategy** — dimension joins broadcast instead of shuffling the
  fact table (``BroadcastHashJoin`` vs ``SortMergeJoin``);
* **shuffle budget** — the number of ``Exchange`` nodes stays what the
  query semantically requires;
* **partial aggregation** — grouped aggs have a map-side
  ``partial_*`` HashAggregate before the exchange;
* **codegen** — hot operators sit inside WholeStageCodegen spans.

The reference delegates all of this to Catalyst implicitly (SURVEY.md §4.2:
no custom rules anywhere, ``src/spark_fuse/`` is pure DataFrame-API client
code); the one explicit physical choice it demonstrates is the broadcast
hint (``notebooks/tutorials/05_spark_dataframe_joins.ipynb`` cell 12,
``F.broadcast`` + ``explain(mode='formatted')``) — this module turns that
notebook practice into an enforced contract.

Session compatibility: on classic (py4j) sessions plan text comes from
``QueryExecution.explainString`` and tree checks walk the JVM plan —
full fidelity, nothing executes.  On sessions without a JVM handle
(Spark Connect, or py4j surface drift) every TEXT-based helper — and
therefore the core catalog gates: no-cartesian, broadcast-join
presence, exchange budgets, pushdown/pruning — still works by
capturing ``df.explain`` output; :func:`unbounded_global_windows`
re-derives the same subtree-scoped verdict from the formatted tree
diagram, and only the post-execution metrics readers
(:func:`executed_metrics`, :func:`shuffle_summary`) require py4j and
raise with guidance.
"""

from __future__ import annotations

import contextlib
import io
import re
import warnings
from dataclasses import dataclass, field

from pyspark.sql import DataFrame

try:  # pragma: no cover - py4j ships with classic pyspark
    from py4j.protocol import Py4JError
except ImportError:  # Connect-only installs have no py4j

    class Py4JError(Exception):
        pass


_warned_explain_fallback = False

__all__ = [
    "physical_plan",
    "scan_summaries",
    "pushed_filter_names",
    "join_strategies",
    "exchange_count",
    "has_partial_aggregate",
    "codegen_span_count",
    "PlanExpectation",
    "check_plan",
    "unbounded_global_windows",
    "count_jobs",
]


def physical_plan(df: DataFrame, mode: str = "formatted") -> str:
    """Return the explain string without printing (modes: simple, extended,
    codegen, cost, formatted).

    Prefers the JVM ``QueryExecution.explainString`` handle; where none
    exists (Spark Connect) or the py4j surface drifted, falls back to
    capturing ``df.explain`` output — same text, protocol-agnostic, so
    every downstream text parser keeps working on Connect sessions.
    """
    jdf = getattr(df, "_jdf", None)
    if jdf is not None:
        # Only surface-drift errors fall through to the capture path; a
        # genuine plan failure (analysis error, py4j crash mid-explain)
        # must not be silently re-raised as different text downstream.
        try:
            jqe = jdf.queryExecution()
            jmode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                mode
            )
            return jqe.explainString(jmode)
        except (AttributeError, Py4JError) as exc:
            global _warned_explain_fallback
            if not _warned_explain_fallback:  # once per process, not per query
                _warned_explain_fallback = True
                warnings.warn(
                    f"physical_plan: JVM explainString path failed despite a "
                    f"present _jdf ({type(exc).__name__}: {exc}); falling back "
                    f"to df.explain capture",
                    RuntimeWarning,
                    stacklevel=2,
                )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


@dataclass
class ScanSummary:
    location: str
    read_columns: list[str]
    pushed_filters: list[str]
    partition_filters: list[str] = field(default_factory=list)


_SCAN_RE = re.compile(r"\(\d+\) Scan parquet ?\n(.*?)(?:\n\n|\Z)", re.DOTALL)


def scan_summaries(df: DataFrame) -> list[ScanSummary]:
    """One summary per parquet scan in the formatted plan."""
    out = []
    for block in _SCAN_RE.findall(physical_plan(df)):
        loc = re.search(r"Location: \S+ \[(.*?)\]", block)
        schema = re.search(r"ReadSchema: struct<(.*?)>\s*$", block, re.MULTILINE)
        pushed = re.search(r"PushedFilters: \[(.*?)\]", block)
        part = re.search(r"PartitionFilters: \[(.*?)\]", block)
        cols = []
        if schema and schema.group(1):
            cols = [f.split(":", 1)[0] for f in schema.group(1).split(",") if ":" in f]
        out.append(
            ScanSummary(
                location=loc.group(1) if loc else "",
                read_columns=cols,
                pushed_filters=[p.strip() for p in pushed.group(1).split(",") if p.strip()]
                if pushed and pushed.group(1)
                else [],
                partition_filters=[p.strip() for p in part.group(1).split(",") if p.strip()]
                if part and part.group(1)
                else [],
            )
        )
    return out


def pushed_filter_names(df: DataFrame, table: str | None = None) -> set[str]:
    """Column names that appear in any pushed filter (optionally restricted
    to scans whose file location contains ``table``)."""
    names: set[str] = set()
    for scan in scan_summaries(df):
        if table and table not in scan.location:
            continue
        for f in scan.pushed_filters:
            m = re.search(r"\(([A-Za-z_][A-Za-z0-9_]*)", f)
            if m:
                names.add(m.group(1))
    return names


def join_strategies(df: DataFrame) -> dict[str, int]:
    """Count physical join nodes by strategy, e.g.
    ``{"BroadcastHashJoin": 4, "SortMergeJoin": 1}``."""
    plan = physical_plan(df)
    counts: dict[str, int] = {}
    for kind in (
        "BroadcastHashJoin",
        "SortMergeJoin",
        "ShuffledHashJoin",
        "BroadcastNestedLoopJoin",
        "CartesianProduct",
    ):
        n = len(re.findall(rf"\(\d+\) {kind}", plan))
        if n:
            counts[kind] = n
    return counts


def exchange_count(df: DataFrame) -> int:
    """Number of shuffle ``Exchange`` nodes (BroadcastExchange excluded —
    broadcasts move only the small side and are the *goal*, not a cost)."""
    plan = physical_plan(df)
    return len(re.findall(r"\(\d+\) Exchange\b", plan))


def has_partial_aggregate(df: DataFrame) -> bool:
    """True when at least one HashAggregate runs partial (map-side) functions
    — the ``partial_sum``/``partial_count`` combine step that keeps grouped
    aggregation shuffle-light at scale."""
    return "partial_" in physical_plan(df)


def codegen_span_count(df: DataFrame, execute: bool = False) -> int:
    """Number of WholeStageCodegen subtrees (``EXPLAIN CODEGEN``).

    Under AQE the pre-execution plan is an unfinalized ``AdaptiveSparkPlan``
    that reports zero subtrees; pass ``execute=True`` to run the query first
    (intended for tests on small data) so the count reflects the final
    adaptive plan."""
    if execute:
        df.collect()
    text = physical_plan(df, "codegen")
    m = re.search(r"Found (\d+) WholeStageCodegen subtrees", text)
    return int(m.group(1)) if m else len(re.findall(r"WholeStageCodegen", text))


@dataclass
class PlanExpectation:
    """Declarative plan contract, checked by :func:`check_plan`.

    Only set the fields you want enforced; ``None`` means "don't care".
    """

    min_broadcast_joins: int | None = None
    max_shuffle_joins: int | None = None  # SortMerge + ShuffledHash
    max_exchanges: int | None = None
    pushed_filters_include: dict[str, set[str]] = field(default_factory=dict)
    # table -> columns that must NOT be read (pruning proof)
    pruned_columns: dict[str, set[str]] = field(default_factory=dict)
    require_partial_agg: bool = False


def check_plan(df: DataFrame, exp: PlanExpectation) -> list[str]:
    """Return a list of violations (empty = plan meets the contract)."""
    problems: list[str] = []
    joins = join_strategies(df)
    if exp.min_broadcast_joins is not None:
        got = joins.get("BroadcastHashJoin", 0)
        if got < exp.min_broadcast_joins:
            problems.append(
                f"expected >= {exp.min_broadcast_joins} BroadcastHashJoin, got {got} ({joins})"
            )
    if exp.max_shuffle_joins is not None:
        got = joins.get("SortMergeJoin", 0) + joins.get("ShuffledHashJoin", 0)
        if got > exp.max_shuffle_joins:
            problems.append(
                f"expected <= {exp.max_shuffle_joins} shuffle joins, got {got} ({joins})"
            )
    if exp.max_exchanges is not None:
        got = exchange_count(df)
        if got > exp.max_exchanges:
            problems.append(f"expected <= {exp.max_exchanges} Exchange nodes, got {got}")
    for table, cols in exp.pushed_filters_include.items():
        got_names = pushed_filter_names(df, table)
        missing = cols - got_names
        if missing:
            problems.append(
                f"filters on {sorted(missing)} not pushed to {table} scan (pushed: {sorted(got_names)})"
            )
    for table, cols in exp.pruned_columns.items():
        for scan in scan_summaries(df):
            if table not in scan.location:
                continue
            leaked = cols & set(scan.read_columns)
            if leaked:
                problems.append(
                    f"{table} scan reads {sorted(leaked)} — should be pruned "
                    f"(ReadSchema: {scan.read_columns})"
                )
    if exp.require_partial_agg and not has_partial_aggregate(df):
        problems.append("no partial (map-side) aggregate in plan")
    return problems


_WINDOW_BOUNDING_NODES = ("TakeOrderedAndProject", "GlobalLimit", "CollectLimit")
_AGG_NODES = ("HashAggregate", "SortAggregate", "ObjectHashAggregate")


def _walk_plan(n):
    yield n
    it = n.children().iterator()
    while it.hasNext():
        yield from _walk_plan(it.next())


def unbounded_global_windows(df: DataFrame) -> list[str]:
    """Window nodes with an EMPTY partition spec whose input subtree has no
    bounding node — the single-task scale-killer class (every row funnels
    into ONE partition to be sorted by ONE task).

    A global window is considered BOUNDED (fine at any scale) when its
    input subtree contains:

    * ``TakeOrderedAndProject`` / ``GlobalLimit`` / ``CollectLimit`` — a
      constant-k top-k/limit, so the window sees ≤ k rows (the
      ``orderBy().limit(k)``-then-rank pattern); or
    * an aggregate grouped on ``__pid`` (``spark_partition_id``) — the
      two-phase prefix-scan offsets table, ≤ num_partitions rows by
      construction (``operators/packing.with_prefix_sum/max``).

    Anything else is returned as a violation string.  Static check only —
    reads the pre-execution ``sparkPlan``, nothing executes.

    Without a JVM handle (Spark Connect) the check runs
    :func:`_unbounded_global_windows_from_text` — the same subtree-scoped
    verdict recovered from the formatted explain's tree diagram (a limit
    on an unrelated branch does NOT mask a violation).  The one fidelity
    gap is ``ReusedExchange`` subtree references, which the text parse
    treats conservatively; run the py4j path in CI.
    """
    out: list[str] = []
    jdf = getattr(df, "_jdf", None)
    if jdf is None:
        return _unbounded_global_windows_from_text(physical_plan(df))
    root = jdf.queryExecution().sparkPlan()
    for n in _walk_plan(root):
        if n.nodeName() != "Window" or not n.partitionSpec().isEmpty():
            continue
        bounded = False
        cit = n.children().iterator()
        while cit.hasNext():
            for c in _walk_plan(cit.next()):
                nm = c.nodeName()
                if any(nm.startswith(b) for b in _WINDOW_BOUNDING_NODES):
                    bounded = True
                elif nm in _AGG_NODES and "__pid" in c.simpleString(30):
                    bounded = True
        if not bounded:
            out.append(n.simpleString(10))
    return out


def _top_level_bracket_groups(s: str) -> "list[str]":
    """Split ``[a], [b, [c]], [d]`` into its top-level ``[...]`` groups."""
    groups, depth, start = [], 0, -1
    for i, ch in enumerate(s):
        if ch == "[":
            if depth == 0:
                start = i
            depth += 1
        elif ch == "]":
            depth -= 1
            if depth == 0 and start >= 0:
                groups.append(s[start + 1 : i])
                start = -1
    return groups


# formatted-explain tree line: indentation art, then `NodeName (id)`.
# Names can carry suffix words (`BroadcastNestedLoopJoin Cross BuildRight`).
_TREE_NODE_RE = re.compile(
    r"^([\s:+*\-]*)([A-Za-z]\w*(?: [A-Za-z]\w*)*) \((\d+)\)\s*$"
)


def _formatted_tree_nodes(plan_text: str) -> "tuple[list[tuple[int, str, str]], dict[str, str]]":
    """Parse a formatted explain into ``(tree, details)``:

    * ``tree`` — ``[(indent, first_name_token, node_id), ...]`` in
      pre-order (the indented diagram at the top; indent is the column
      the node name starts at, children sit 3 columns deeper);
    * ``details`` — ``node_id -> detail block text`` (the numbered
      ``(N) NodeName`` sections below the diagram).

    When AQE prints both ``== Final Plan ==`` and ``== Initial Plan ==``
    only the final tree is kept (the initial one is the pre-adaptive
    duplicate of the same query).
    """
    detail_start = re.search(r"^\(\d+\) ", plan_text, re.M)
    tree_text = plan_text[: detail_start.start()] if detail_start else plan_text
    init = tree_text.find("== Initial Plan ==")
    if init != -1:
        tree_text = tree_text[:init]
    tree: list[tuple[int, str, str]] = []
    for line in tree_text.splitlines():
        m = _TREE_NODE_RE.match(line)
        if m:
            tree.append((len(m.group(1)), m.group(2).split(" ", 1)[0], m.group(3)))
    details: dict[str, str] = {}
    if detail_start:
        for m in re.finditer(
            r"^\((\d+)\) ([^\n]+)\n(.*?)(?=\n\(\d+\) |\Z)",
            plan_text[detail_start.start() :],
            re.M | re.DOTALL,
        ):
            details[m.group(1)] = m.group(2) + "\n" + m.group(3)
    return tree, details


def _unbounded_global_windows_from_text(plan_text: str) -> "list[str]":
    """Text-parse fallback for :func:`unbounded_global_windows` (Connect).

    Same subtree scoping as the JVM walker, recovered from the formatted
    explain's tree diagram: a ``Window`` node's input subtree is the run
    of tree lines below it with strictly greater indentation.  A window
    is global when its detail block's Arguments line carries ≤ 2
    top-level bracket groups (partitioned windows carry 3 — [exprs],
    [partitionSpec], [orderSpec]); it is bounded only when a
    TakeOrderedAndProject/GlobalLimit/CollectLimit node or a
    ``__pid``-keyed aggregate (the two-phase prefix-scan offsets table)
    appears INSIDE that subtree — a limit on an unrelated plan branch no
    longer masks a violation.  Remaining fidelity gap vs the JVM walker:
    a ``ReusedExchange`` leaf refers to a subtree printed elsewhere,
    which this parse does not chase (conservative: such a window is
    reported unless its own subtree carries the bounding node).
    """
    tree, details = _formatted_tree_nodes(plan_text)
    out: list[str] = []
    for i, (indent, name, nid) in enumerate(tree):
        if name != "Window":
            continue
        block = details.get(nid, "")
        am = re.search(r"^Arguments: (.*)$", block, re.M)
        args_line = am.group(1) if am else ""
        if len(_top_level_bracket_groups(args_line)) > 2:
            continue  # partitioned window — fine at any scale
        bounded = False
        for sub_indent, sub_name, sub_id in tree[i + 1 :]:
            if sub_indent <= indent:
                break  # left the window's input subtree
            if any(sub_name.startswith(b) for b in _WINDOW_BOUNDING_NODES):
                bounded = True
                break
            if sub_name in _AGG_NODES and "__pid" in details.get(sub_id, ""):
                bounded = True
                break
        if not bounded:
            out.append(
                f"Window (global, text-detected, node {nid}): {args_line[:160]}"
            )
    return out


def _unwrap_exec_node(n):
    """Peel AQE wrappers (AdaptiveSparkPlan → final plan, QueryStage /
    InputAdapter / WholeStageCodegen shells → inner plan)."""
    name = n.nodeName()
    if name == "AdaptiveSparkPlan":
        return _unwrap_exec_node(n.executedPlan())
    if name.endswith("QueryStage"):
        try:
            return _unwrap_exec_node(n.plan())
        except Exception:
            return n
    return n


def executed_metrics(df: DataFrame) -> "list[dict]":
    """Post-execution SQL metrics per physical node (run an action first).

    The measured half of the plan-contract story: static contracts pin
    the SHAPE (exchange counts, broadcast hints, partial aggregation);
    this reads what actually happened — shuffle bytes/records written,
    scan rows and file counts, per-operator output rows — so
    map-side-combine claims become numbers ("6000 scanned rows entered
    the exchange as 3 records").  Returns ``[{depth, node, metrics}]``
    in pre-order; metrics with value 0 are kept (a zero shuffle is
    information).
    """
    out: list[dict] = []
    jdf = getattr(df, "_jdf", None)
    if jdf is None:
        raise RuntimeError(
            "executed_metrics requires a JVM plan handle (classic py4j "
            "session); Spark Connect exposes no per-node SQL metrics — use "
            "df.observe()/progress.observe_rows for Connect-safe counters, "
            "and the text-based plan gates (physical_plan/check_plan/"
            "unbounded_global_windows) for shape contracts"
        )

    def walk(n, depth: int) -> None:
        n = _unwrap_exec_node(n)
        md = {}
        it = n.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            md[kv._1()] = kv._2().value()
        out.append({"depth": depth, "node": n.nodeName(), "metrics": md})
        cit = n.children().iterator()
        while cit.hasNext():
            walk(cit.next(), depth + 1)

    walk(jdf.queryExecution().executedPlan(), 0)
    return out


def shuffle_summary(df: DataFrame) -> dict:
    """Roll the executed metrics up to the four numbers a scale review
    asks for: rows scanned, rows entering shuffles, shuffle bytes
    written, rows returned."""
    nodes = executed_metrics(df)
    scanned = sum(
        n["metrics"].get("numOutputRows", 0)
        for n in nodes
        if n["node"].startswith("Scan")
    )
    shuffle_records = sum(
        n["metrics"].get("shuffleRecordsWritten", 0)
        for n in nodes
        if n["node"] == "Exchange"
    )
    shuffle_bytes = sum(
        n["metrics"].get("shuffleBytesWritten", 0)
        for n in nodes
        if n["node"] == "Exchange"
    )
    top = next((n for n in nodes if n["metrics"].get("numOutputRows") is not None), None)
    return {
        "rows_scanned": scanned,
        "shuffle_records": shuffle_records,
        "shuffle_bytes": shuffle_bytes,
        "rows_out": top["metrics"]["numOutputRows"] if top else None,
    }


def count_jobs(spark, group: str, thunk):
    """Run ``thunk()`` under the Spark job group ``group`` and return
    ``(result, jobs, stages)``: the number of jobs it fired (AQE
    query-stage jobs included) and of distinct stages those jobs list
    (skipped stages included).  The counts come from the status tracker,
    so they need no UI.  Use a fresh ``group`` per call: the tracker
    counts every retained job ever run under it."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        result = thunk()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    job_ids = tracker.getJobIdsForGroup(group)
    stages: set[int] = set()
    for job_id in job_ids:
        info = tracker.getJobInfo(job_id)
        if info is not None:
            stages.update(info.stageIds)
    return result, len(job_ids), len(stages)
