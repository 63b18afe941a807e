"""Physical-plan skeleton extraction — the drift-detection layer under
``plans.lock.json``.

`tests/test_plans.py` pins plan *budgets* (shuffle counts, no cartesian,
BNLJ allowlist), which catches plans getting *bigger* but not plans
changing *shape* inside the budget — e.g. a SortMergeJoin flipping to
BroadcastNestedLoopJoin under a future Spark upgrade, a lost
partial-aggregation stage, or a window silently gaining an extra sort.
The skeleton is the ordered list of physical operator tokens (operator
name, qualified where the flavor matters: exchange partitioning, join
strategy + join type, scan format) with every volatile detail (expression
ids, paths, plan ids, codegen stage numbers, statistics) stripped, so it
is stable across sessions and runs at a fixed fixture yet changes the
moment the physical strategy does.

`scripts/gen_planlock.py` renders every registered query's skeleton into
`plans.lock.json`; `tests/test_plans.py::test_plan_skeleton_lock` fails
on any drift, forcing plan changes to be explicit, reviewed commits.

A query that materializes eagerly returns a bare ``Scan ExistingRDD``
stub over its checkpoint. Every eager materialization goes through
``memo.checkpoint``, and ``record_checkpoints`` registers a hook there
that records the plan each checkpoint executes. The gates, the lock and
``python -m khose_spark explain`` read the final one as the query's
interior, after ``INTERIOR_MARK``.
"""

from __future__ import annotations

import re
from typing import Callable

from pyspark.sql import DataFrame

from khose_spark import memo

# Join types as they appear inline in plan lines.
_JOIN_TYPES = re.compile(
    r"\b(Inner|FullOuter|LeftOuter|RightOuter|LeftSemi|LeftAnti|Cross|"
    r"ExistenceJoin)\b"
)
_PARTITIONINGS = re.compile(
    r"\b(hashpartitioning|rangepartitioning|SinglePartition|"
    r"RoundRobinPartitioning)\b"
)
_TREE_GLYPHS = re.compile(r"^[\s:+\-]*")
_CODEGEN_MARK = re.compile(r"^\*\(\d+\)\s*")
_OP_NAME = re.compile(r"[A-Za-z][A-Za-z0-9_]*")


def _token(line: str) -> str | None:
    """One canonical token for a physical-plan line, or None to skip."""
    line = _TREE_GLYPHS.sub("", line)
    line = _CODEGEN_MARK.sub("", line)
    if not line or line.startswith("=="):
        return None
    m = _OP_NAME.match(line)
    if not m:
        return None
    op = m.group(0)
    if op in ("Exchange", "AQEShuffleRead"):
        p = _PARTITIONINGS.search(line)
        return f"{op}:{p.group(1)}" if p else op
    if op.endswith("Join"):
        jt = _JOIN_TYPES.search(line)
        return f"{op}:{jt.group(1)}" if jt else op
    if op == "FileScan":
        fmt = line.split()[1] if len(line.split()) > 1 else ""
        fmt = re.sub(r"[^A-Za-z0-9]", "", fmt)
        return f"FileScan:{fmt}"
    if op == "Scan":  # Scan ExistingRDD / Scan parquet …
        kind = _OP_NAME.match(line[len("Scan") :].lstrip())
        return f"Scan:{kind.group(0)}" if kind else op
    return op


def reset_plan_state(spark) -> None:
    """Make the next plan render session-state-independent: drop every
    SQL-cache entry and every session memo (khose_spark.memo). A
    memoized relation changes a consumer's plan depending on whether
    some EARLIER query built it (fresh build persists inside the plan →
    InMemoryRelation; a reused memo after clearCache inlines the raw
    subtree), so both the lock generator and the drift gate reset them
    before every key."""
    spark.catalog.clearCache()
    memo.release_all()


def skeleton_tokens(plan: str) -> list[str]:
    """Ordered operator-token skeleton of a physical-plan string."""
    toks = []
    for line in plan.splitlines():
        tok = _token(line)
        if tok is not None:
            toks.append(tok)
    return toks


def skeleton(df: DataFrame) -> list[str]:
    """Ordered operator-token skeleton of ``df``'s executed plan
    (initial AQE plan — rendered before execution, so deterministic at a
    fixed fixture)."""
    return skeleton_tokens(executed_plan(df))


# Separator between a query's returned skeleton and the recorded
# interior (the plan its final checkpoint actually executed) in
# plans.lock.json entries.
INTERIOR_MARK = "@checkpoint-interior"


def executed_plan(df: DataFrame) -> str:
    """``df``'s executed-plan string: the initial AQE plan when rendered
    before execution, so deterministic at a fixed fixture."""
    return df._jdf.queryExecution().executedPlan().toString()


def formatted_plan(df: DataFrame) -> str:
    """``df``'s plan as ``df.explain("formatted")`` prints it."""
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


class record_checkpoints:
    """Context manager that records, for every ``memo.checkpoint`` run
    inside the block, ``render(df)`` of the DataFrame being checkpointed.

    The hook renders BEFORE the checkpoint executes, while the query's
    caches are still live and spliced in: that is the plan the
    checkpoint actually runs. Rendering after the query returns would
    re-inline lineage the release pattern has already unpersisted, and
    after execution AQE renders its final plan instead of the initial
    one plans.lock.json pins.

    ``.plans`` holds one rendering per checkpoint, in order; ``.last``
    the final one (None if the block never checkpointed). The hook is
    unregistered on exit, also when the block raises.
    """

    def __init__(self, render: Callable[[DataFrame], str] = executed_plan):
        self._render = render
        self.plans: list[str] = []

    @property
    def last(self) -> str | None:
        return self.plans[-1] if self.plans else None

    def _record(self, df: DataFrame) -> None:
        self.plans.append(self._render(df))

    def __enter__(self):
        memo.CHECKPOINT_HOOKS.append(self._record)
        return self

    def __exit__(self, *exc):
        memo.CHECKPOINT_HOOKS.remove(self._record)
        return False


def audited_plan(spark, fn, sf_dir: str) -> tuple[str, str | None]:
    """Build ``fn``'s plan from a reset session and return
    ``(returned_plan, interior_plan_or_None)`` — the pair every plan
    gate audits. The interior is the final checkpoint's pre-execution
    plan; without it, checkpoint-final queries would audit as a bare
    ``Scan ExistingRDD`` and checkpoint-plus-trailing-op queries would
    audit only the trailing stub (ADVICE r06 item 3)."""
    reset_plan_state(spark)
    with record_checkpoints() as rec:
        df = fn(spark, sf_dir)
    return executed_plan(df), rec.last


def full_skeleton(returned: str, interior: str | None) -> list[str]:
    """Lockable skeleton covering BOTH the returned plan and the final
    checkpoint interior (separated by INTERIOR_MARK)."""
    toks = skeleton_tokens(returned)
    if interior is not None:
        toks = toks + [INTERIOR_MARK] + skeleton_tokens(interior)
    return toks
