"""Plan accumulation hook for iterative operators.

Operators that cut lineage through lineage.py (``materialize`` —
PageRank rounds, k-core peels, the text-classifier feature table,
shared CTEs — and ``checkpoint`` — recursive fixpoints, connected
components, small per-round state) truncate their plan on purpose: the
final DataFrame's plan shows only the last read, so a plan report that
inspects just the returned plan under-counts the real shuffle/join work
by everything that ran inside those steps.

tools/plan_report.py (and the benchmark's traced run) sets ``ACTIVE``
to a list before running a query; every lineage cut then appends its
step's physical plan, and the report sums exchanges/joins across
(steps + final plan). Inactive (the normal path), ``record`` is a
no-op — zero overhead in production runs.
"""

from __future__ import annotations

#: When a list, lineage.materialize / lineage.checkpoint append each
#: step's physical plan string. None (default) disables recording.
ACTIVE: list[str] | None = None


def record(df) -> None:
    """Append ``df``'s physical plan to the active accumulator."""
    if ACTIVE is None:
        return
    try:
        ACTIVE.append(df._jdf.queryExecution().executedPlan().toString())
    except Exception:
        # plan stringification must never break the actual computation
        pass
