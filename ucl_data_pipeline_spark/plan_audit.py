"""Physical-plan auditing: the one walker over Spark's JVM plan trees.

Every plan-shape check — the CI gates in tests/test_plans.py and the
``tools/plan_audit.py`` subcommands — walks plans through ``children``/
``walk`` here, so the gate and the census tools cannot drift apart
(round-9 advisor finding) and no audit can silently see nothing (the
first static-broadcast audit reported 0 findings suite-wide because its
walker stopped at the AdaptiveSparkPlan leaf).

``children`` unwraps an AdaptiveSparkPlan to its ``initialPlan`` — the
static physical plan AQE starts from, with the Exchanges EnsureRequirements
inserted (``inputPlan`` has none; ``sparkPlan()`` is pre-EnsureRequirements
too). It is the plan ``executedPlan()`` returns before execution, and it
does not change when the frame runs, so a check over it gives the same
answer before and after a query executes. With ``cached`` it also
descends from an InMemoryTableScan into the cached relation's plan:
``persist()`` hides the cached lineage there, and Catalyst derives the
cached relation's size estimate from the same child stats. It also
returns the plans of the node's subquery expressions (scalar and IN
subqueries), which are not tree children but run as part of the query.

With ``final`` the walker follows the plan as it ran instead (the
AQE-final plan, query stages unwrapped, reused nodes and already
walked cached plans not re-entered); bench.py's per-query plan
counters count node names over that walk.

Three classifiers sit on the walker: ``single_partition_windows`` (the
CI gate's detector), ``bnlj_findings`` and ``broadcast_findings``.
"""

from __future__ import annotations


def physical_plan(df):
    """The query's physical plan root (an AdaptiveSparkPlan under AQE)."""
    return df._jdf.queryExecution().executedPlan()


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def children(node, cached: bool = True, final: bool = False) -> list:
    """Child plan nodes of ``node``, then its subquery plans; see the
    module docstring for the AdaptiveSparkPlan and InMemoryTableScan
    descents.

    ``final`` walks the plan as it ran: an AdaptiveSparkPlan unwraps to
    its ``executedPlan()`` (the AQE-final plan once the frame has run),
    a query stage to the plan it materialized, and a ``Reused*`` node
    has no children (its plan is walked where it first appears)."""
    name = node.nodeName()
    if name == "AdaptiveSparkPlan":
        return [node.executedPlan() if final else node.initialPlan()]
    if final:
        if name.startswith("Reused"):
            return []
        if name.endswith("QueryStage"):
            return [node.plan()]
    kids = []
    if cached and name == "InMemoryTableScan":
        kids.append(node.relation().cachedPlan())
    return kids + _seq(node.children()) + _seq(node.subqueries())


def walk(node, cached: bool = True, final: bool = False):
    """Every node under ``node`` (itself included), pre-order. In
    ``final`` mode a cached plan is entered once, at its first scan:
    it ran once however many scans read it (an iterative query's
    checkpoint chain would otherwise be walked once per path to it)."""
    stack = [node]
    entered: set[int] = set()
    while stack:
        cur = stack.pop()
        yield cur
        kids = children(cur, cached, final)
        if final and cached and cur.nodeName() == "InMemoryTableScan":
            plan_id = kids[0].id()
            if plan_id in entered:
                kids = kids[1:]
            entered.add(plan_id)
        stack.extend(reversed(kids))


def single_partition_windows(df) -> int:
    """Count Window nodes fed (through a single-child chain) by an
    Exchange — or a ReusedExchange, which re-emits a planned exchange's
    output and has ZERO children, so a duplicated offending site would
    otherwise be invisible — with SinglePartition output partitioning.

    An unpartitioned ranking/cumulative window over a fact/corpus-grain
    input is the one-task-sorts-everything scale killer; every site
    that legitimately remains (bounded day/bucket/cell/top-k grains) is
    declared in the gate's allowlist. Bounded top-k via
    TakeOrderedAndProject needs no Exchange and is invisible here by
    construction. Stacked windows over one exchange count once per
    Window group (the chain breaks at an inner Window, which is counted
    on its own visit). Subquery plans are walked; cached plans are
    not."""
    n_hits = 0
    for node in walk(physical_plan(df), cached=False):
        if node.nodeName() != "Window":
            continue
        kids = _seq(node.children())
        cur = kids[0] if kids else None
        while cur is not None:
            name = cur.nodeName()
            if name in ("Exchange", "ReusedExchange"):
                if "SinglePartition" in cur.outputPartitioning().toString():
                    n_hits += 1
                break
            if name == "Window":
                break
            ck = _seq(cur.children())
            cur = ck[0] if len(ck) == 1 else None
    return n_hits


def _build_side(join) -> tuple[str, object]:
    """(build side, build child) of a broadcast join node."""
    side = str(join.buildSide())
    return side, join.right() if side == "BuildRight" else join.left()


# ---------------------------------------------------------------------------
# BroadcastNestedLoopJoin build-side census
# ---------------------------------------------------------------------------

_LIMIT_TOKENS = ("GlobalLimit", "TakeOrderedAndProject", "WindowGroupLimit")
_AGG_TOKENS = ("HashAggregate", "SortAggregate", "ObjectHashAggregate")


def _is_scalar_agg(node) -> bool:
    if not any(t in node.nodeName() for t in _AGG_TOKENS):
        return False
    return "keys=[]" in node.simpleString(120)


def classify_build(node) -> tuple[str, list[str]]:
    """Classify a BNLJ build subtree; returns (verdict, sorted op names).

    - ``literal``      — no Scan source at all (literal frames,
                         ``spark.range`` grids): bounded by construction.
    - ``scalar-gated`` — every path from the join to a scan passes
                         through a grouping-key-free aggregate
                         (``keys=[]``): ≤1 row regardless of input size.
    - ``limit-gated``  — a GlobalLimit / TakeOrderedAndProject / top-k
                         WindowGroupLimit bounds every scan path.
    - ``UNBOUNDED?``   — a scan reaches the build side ungated.
      ``Scan ExistingRDD`` (createDataFrame literals) counts as a scan:
      the classifier cannot see that those frames are literal.
    """
    names = sorted({n.nodeName() for n in walk(node)})

    def gated(n) -> bool:
        name = n.nodeName()
        if _is_scalar_agg(n) or any(t in name for t in _LIMIT_TOKENS):
            return True  # everything below is bounded by this gate
        if name.startswith("Scan"):
            return False
        return all(gated(k) for k in children(n))  # Range/literal leaves pass

    if not any(n.startswith("Scan") for n in names):
        return "literal", names
    if not gated(node):
        return "UNBOUNDED?", names
    if any(a in n for n in names for a in _AGG_TOKENS):
        return "scalar-gated", names
    return "limit-gated", names


def bnlj_findings(df) -> list[dict]:
    """One {build_side, verdict, build_subtree_ops} per BNLJ in the plan."""
    findings = []
    for node in walk(physical_plan(df)):
        if node.nodeName() == "BroadcastNestedLoopJoin":
            side, build = _build_side(node)
            verdict, ops = classify_build(build)
            findings.append(
                {"build_side": side, "verdict": verdict, "build_subtree_ops": ops}
            )
    return findings


# ---------------------------------------------------------------------------
# Estimate-blind static broadcasts
# ---------------------------------------------------------------------------

_FLAG_TOKENS = ("Generate", "Window")


def broadcast_findings(df) -> list[dict]:
    """Broadcast*Join nodes whose build subtree holds a Generate/Window.

    Catalyst's static size estimates cannot see through Generate
    (explode): an explode-fed aggregate or window looks tiny on paper
    however big it really is, so the static planner may broadcast a
    corpus-growing build side, and a BroadcastExchange is not a
    re-plannable shuffle stage. A finding is a candidate for a human
    to adjudicate (SCALE_NOTES round 12), not automatically a bug.
    BroadcastNestedLoopJoin counts too: its build side also broadcasts.
    """
    findings = []
    for node in walk(physical_plan(df)):
        name = node.nodeName()
        if not (name.startswith("Broadcast") and "Join" in name):
            continue
        side, build = _build_side(node)
        ops = [n.nodeName() for n in walk(build)]
        hits = sorted({n for n in ops if any(t in n for t in _FLAG_TOKENS)})
        if hits:
            findings.append(
                {
                    "join": name,
                    "build_side": side,
                    "flagged_ops": hits,
                    "build_subtree_ops": sorted(set(ops)),
                }
            )
    return findings
