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
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

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
    from khose_spark import memo

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
    return skeleton_tokens(df._jdf.queryExecution().executedPlan().toString())


# Separator between a query's returned skeleton and the recorded
# interior (the plan its final localCheckpoint actually executed) in
# plans.lock.json entries.
INTERIOR_MARK = "@checkpoint-interior"


class record_checkpoints:
    """Context manager that patches ``DataFrame.localCheckpoint`` to
    snapshot the executed-plan string of each checkpointed DataFrame —
    rendered AT checkpoint time, while the query's caches are still
    live and spliced in, i.e. the plan the checkpoint actually executes
    (rendering after the query returns would re-inline the lineage the
    release pattern has already unpersisted).

    ``.last`` holds the final recorded plan string (None if the query
    never checkpointed). Only the concrete ``classic`` DataFrame class
    is patched — it OVERRIDES the base class in Spark 4, so patching
    the base alone silently no-ops. The patch passes ``*args/**kwargs``
    through so Spark 4's ``storageLevel`` parameter survives (ADVICE
    r06 item 2), and is restored on exit even when the query raises.
    """

    def __enter__(self):
        try:
            from pyspark.sql.classic.dataframe import DataFrame as _CDF
        except ImportError:  # pragma: no cover - older layout
            from pyspark.sql import DataFrame as _CDF
        self._cls = _CDF
        self._orig = _CDF.localCheckpoint
        self.last: str | None = None
        rec, orig = self, self._orig

        def recording(df_self, *args, **kwargs):
            rec.last = (
                df_self._jdf.queryExecution().executedPlan().toString()
            )
            return orig(df_self, *args, **kwargs)

        _CDF.localCheckpoint = recording  # type: ignore[assignment]
        return self

    def __exit__(self, *exc):
        self._cls.localCheckpoint = self._orig  # type: ignore[assignment]
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
    return df._jdf.queryExecution().executedPlan().toString(), rec.last


def full_skeleton(returned: str, interior: str | None) -> list[str]:
    """Lockable skeleton covering BOTH the returned plan and the final
    checkpoint interior (separated by INTERIOR_MARK)."""
    toks = skeleton_tokens(returned)
    if interior is not None:
        toks = toks + [INTERIOR_MARK] + skeleton_tokens(interior)
    return toks
