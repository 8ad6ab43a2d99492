"""Engine extension operators: dedup, similarity, text, multimodal, as-of.

Every iterative operator runs its rounds through :func:`rounds`.
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

from collections.abc import Callable

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


class RoundsExhausted(RuntimeError):
    """A :func:`rounds` loop ran its ``n`` rounds without meeting ``until``."""


def rounds(
    state: DataFrame, step: Callable[[DataFrame], DataFrame], n: int, until=None
) -> DataFrame:
    """``state`` after up to ``n`` applications of ``step``: the round
    loop of every iterative operator.

    Lineage: each round's result is ``localCheckpoint``-ed lazily, so
    the next round plans against leaf scans and the returned plan holds
    at most one live round, whatever ``n`` is. The one exception is the
    last round of a fixed-count loop (no ``until``): its only consumer
    is the caller, and a checkpoint there would only stall the driver.
    "Lazy" does not mean "no job": ``Dataset.localCheckpoint`` calls
    ``queryExecution.toRdd``, and under AQE that runs the round's
    shuffle stages at the call, while the plan is being built.

    Convergence: with ``until``, the loop stops at the first round whose
    checkpointed state satisfies ``until(state)`` (a scalar action there
    materializes the round and tests it in one job). If ``n`` rounds
    pass without it, :class:`RoundsExhausted` is raised: a loop proves
    it converged, or fails, and never returns a partial state.

    Durability (deliberate tradeoff, ARCHITECTURE.md "localCheckpoint
    durability"): the checkpoints are EXECUTOR-LOCAL — memory-speed
    rounds, but an executor loss on a real cluster deletes them with no
    recompute path. The recovery unit is restart-the-query: rounds are
    seconds and every input re-derives from parquet. A deployment whose
    loops run for hours swaps in reliable ``checkpoint()`` (plus
    ``setCheckpointDir``) here and pays one store write per round.
    """
    for i in range(1, n + 1):
        state = step(state)
        if until is not None or i < n:
            state = state.localCheckpoint(eager=False)
        if until is not None and until(state):
            return state
    if until is not None:
        raise RoundsExhausted(f"no fixpoint within {n} rounds")
    return state
