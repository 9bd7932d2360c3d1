"""Fixed-round driver shared by the iterative graph loops.

The reference has no iteration at all (its one job is a single
map→shuffle→reduce pass, mr/coordinator.go:120-140); this is where the
engine's loops decide how to cut lineage.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame

__all__ = ["fixed_rounds"]


def fixed_rounds(
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    rounds: int,
    *,
    every: int = 1,
) -> DataFrame:
    """Apply ``step`` to ``state`` ``rounds`` times — no convergence
    action, deterministic output — with a lazy ``localCheckpoint``
    every ``every`` rounds and after the last one, so the returned
    frame's plan starts at a checkpoint.

    Invariant of every lazy checkpoint (these and the loops' own edge
    layouts): the FIRST action on the frame must compute all of its
    partitions. The checkpoint materializes inside that action's job,
    so a partial action (``limit``, ``isEmpty``, ``first`` on a
    partitioned frame) would cut the lineage before the other
    partitions exist. Joins, aggregates and writes satisfy it.
    """
    for i in range(1, rounds + 1):
        state = step(state)
        if i % every == 0 or i == rounds:
            state = state.localCheckpoint(eager=False)
    return state
