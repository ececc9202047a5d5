"""Checkpointed rounds: the one driver loop of the iterative kernels
(PageRank, the connected-components operators, LPA, k-core, random
walks, BPE training, IVF k-means, power iteration).

``for state in checkpointed_rounds(seed, step, rounds)`` yields, for
``r = 1..rounds``, ``materialize(step(prev, r), SMALL)``, where ``prev``
is the seed in round 1 and the previous round after that. Every round
state is therefore ``SMALL`` (``session_cache``'s size classes): it is
computed once and its lineage is cut. Without the cut every round's
plan nests all earlier rounds, and Catalyst planning time grows
super-linearly with the round count. A state that grows with the
corpus does not belong in this loop.

Release contract (``session_cache.release``):

- Round ``r - 1`` is released when the consumer asks for round
  ``r + 1`` or leaves the loop (``break``, an exception in the loop
  body). Inside the loop body, round ``r`` and the round it was
  computed from are therefore both readable, so a body can compare two
  consecutive states.
- If ``step`` (or its checkpoint) raises, the round it was given is
  released before the exception propagates: the loop is over and the
  failure reaches the caller instead of a result.
- Otherwise the last round yielded is never released: it is the
  caller's result, and the caller frees it when it is done with it.
- The seed is never released. The caller owns it, and it is often a
  lazy projection over a session cache's checkpoint or a persisted
  frame: ``release`` frees every checkpoint a plan reads, so releasing
  the seed would free the cache's blocks under its other readers.

There is no convergence parameter: early stop is ``break``,
non-convergence is the caller's ``for … else``, and per-round driver
reads (a survivor count, an arg-max row) stay in the loop body.
"""

from __future__ import annotations

from typing import Callable, Iterator

from pyspark.sql import DataFrame

from .session_cache import SMALL, materialize, release


def checkpointed_rounds(
    seed: DataFrame,
    step: Callable[[DataFrame, int], DataFrame],
    rounds: int,
) -> Iterator[DataFrame]:
    """Yield ``rounds`` checkpointed states, ``step(prev, r)`` for
    ``r = 1..rounds``, freeing each superseded round; see the module
    docstring."""
    prev = seed
    try:
        for r in range(1, rounds + 1):
            state = materialize(step(prev, r), SMALL)
            yield state
            if prev is not seed:
                release(prev)
            prev = state
    except BaseException:  # a failing step, or the consumer left the loop
        if prev is not seed:
            release(prev)
        raise
