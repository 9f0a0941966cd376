"""The lineage cut every iterative operator applies to its loop state.

Each iteration of a Pregel-as-joins loop (graph.py, dedup.dedup_clusters)
stacks one more join/aggregate on the previous state, so the state is
``localCheckpoint``'d every iteration to stop plan and lineage growth.
One policy decides how:

- when the loop needs values from the new state on the driver (a
  normalizer, a dangling mass, a changed-count), they are ``observe``d on
  the EAGER checkpoint job itself, so reading them costs no extra job;
- otherwise the cut is lazy: the next iteration's first job materializes
  it, and nothing runs early.

Exactness of the observed values: metrics that are decimal sums are
order-insensitive, and the observe node executes inside the checkpoint
job's RESULT stage, where the scheduler ignores duplicate completions of
an already-finished result partition (speculative or retried result
tasks update accumulators at most once per partition; the SQL-metrics
double-count caveat of shuffle-map stages does not apply). A value fed
into the next iteration as a literal is therefore bit-equal to the same
aggregate computed in-plan.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column, DataFrame, Observation


def cut(state: DataFrame, **metrics: Column) -> "tuple[DataFrame, dict[str, Any]]":
    """Cut ``state``'s lineage; returns ``(checkpointed state, values)``.

    With ``metrics`` (name -> aggregate Column over ``state``), the cut is
    eager and ``values`` maps each name to its observed value. Without,
    the cut is lazy and ``values`` is empty."""
    if not metrics:
        return state.localCheckpoint(eager=False), {}
    obs = Observation()
    state = state.observe(
        obs, *[c.alias(name) for name, c in metrics.items()]
    ).localCheckpoint(eager=True)
    return state, obs.get
