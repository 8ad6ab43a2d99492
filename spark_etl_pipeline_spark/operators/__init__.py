"""Engine extension operators: dedup, similarity, text, multimodal, as-of.

One join-strategy rule is shared by the iterative operators (connected
components, incremental dedup, BFS): a side read back from a
``localCheckpoint`` carries no size statistics, so neither Spark's
auto-broadcast nor AQE's plan-time conversion can pick a broadcast for
it. The operator passes a row count it already has for that side to
:func:`broadcast_if_fits`, which hints a broadcast hash join at or under
:data:`BROADCAST_MAX_ROWS` and otherwise leaves the join to the planner
(sort-merge). Sides whose size is not known this way (e.g. the LSH
candidate pairs) carry no hint, and AQE picks from runtime sizes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Row cap for a hinted broadcast: 2M rows ≈ 128 MB at a conservative
#: 64 B per (id, label) row — well under executor memory, far above
#: Spark's 10 MB auto-broadcast cutoff. Read at call time, so a
#: deployment changes the policy with one module-level assignment.
BROADCAST_MAX_ROWS = 2_000_000


def broadcast_if_fits(df: DataFrame, n_rows: int) -> DataFrame:
    """``df`` with a broadcast hint when ``n_rows`` — an exact row count
    the caller has (or an upper bound on it) — is at most
    :data:`BROADCAST_MAX_ROWS`; ``df`` unchanged otherwise."""
    return F.broadcast(df) if n_rows <= BROADCAST_MAX_ROWS else df
