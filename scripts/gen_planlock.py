"""Regenerate plans.lock.json: the canonical physical-plan skeleton of
every registered query at the test fixture (sf0.001), as extracted by
khose_spark.plancheck.skeleton.

tests/test_plans.py::test_plan_skeleton_lock fails when a query's
current skeleton differs from the locked one — so a physical-strategy
change (join flip, lost partial agg, extra shuffle) only lands as an
explicit, reviewed regeneration of this file:

    python scripts/gen_planlock.py          # rewrite plans.lock.json
    git diff plans.lock.json                # review the drift

Queries whose registered function materializes eagerly (checkpointing
operators) lock BOTH halves of their shape: the returned (post-
checkpoint) plan, then an ``@checkpoint-interior`` marker, then the
skeleton of the plan the final ``memo.checkpoint`` actually executed —
recorded by a ``plancheck.record_checkpoints`` hook before the
checkpoint ran, while the query's caches were live. So the drift gate
covers the interior of every checkpointed operator, not just its
`Scan ExistingRDD` stub (ADVICE r06 item 3).
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from khose_spark import registry  # noqa: E402
from khose_spark.plancheck import audited_plan, full_skeleton  # noqa: E402
from khose_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"
LOCK = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "plans.lock.json",
)


def main() -> None:
    registry.load_all()
    spark = get_spark("khose-planlock")
    # Subset mode (round 8): `gen_planlock.py key …` re-audits only the
    # named keys and merges their skeletons into the existing lock —
    # a single-operator plan change no longer churns 300+ entries.
    wanted = [a for a in sys.argv[1:] if not a.startswith("-")]
    lock: dict[str, list[str]] = {}
    if wanted:
        with open(LOCK) as f:
            lock = json.load(f)
        unknown = [k for k in wanted if k not in registry.QUERIES]
        assert not unknown, f"unknown keys: {unknown}"
    for key in wanted or sorted(registry.QUERIES):
        # audited_plan resets SQL cache + cross-query memos before every
        # key (skeletons are otherwise order-dependent) and records the
        # final checkpoint's interior plan.
        returned, interior = audited_plan(
            spark, registry.QUERIES[key], SF_DIR
        )
        lock[key] = full_skeleton(returned, interior)
        print(f"{key}: {len(lock[key])} ops", file=sys.stderr)
    with open(LOCK, "w") as f:
        json.dump(lock, f, indent=0, sort_keys=True)
        f.write("\n")
    print(f"wrote {LOCK} ({len(lock)} queries)", file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
