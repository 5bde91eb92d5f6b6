"""One driver for every iterative fixpoint in the engine.

sameAs components (:mod:`.linking`), transitive closure and RDFS
saturation (:mod:`.reasoner`), ``path+``/``path*`` (:mod:`.paths`) and
DESCRIBE (:mod:`.describe`) differ only in their step; the driver owns
the three decisions they share:

- **Lineage cut.** Every round's output goes through :func:`cut`, a lazy
  ``localCheckpoint(eager=False)``, so round k's plan reads the cut
  frames of round k-1 instead of replaying k rounds of joins.
- **Convergence.** Each round costs ONE Spark action: an aggregate over
  the cut frame.  It materializes the cut (an aggregate scans every
  partition, so every checkpoint block lands) and returns what the step
  needs to decide whether anything changed; a step may add columns to
  it (the rdfs schema rows, the components signature).  One action
  per round rather than checkpoint + probe matters because each action
  is a driver barrier, and barrier latency grows on a busy cluster.
- **Termination.** Loop until the step reports no change.  Every step
  is monotone over a finite domain (component edges only contract,
  reached sets only grow), so there is no round cap and a partial
  fixpoint is never returned.

Executor loss: a local checkpoint keeps its blocks only in executor
storage and drops the lineage behind them, so losing an executor fails
the job at a local cut instead of recomputing the lost partitions.
"""

from __future__ import annotations

from typing import Any, Callable, List, Optional, Tuple

from pyspark.sql import Column, DataFrame, Row

#: ``step(state)`` → (round output, aggregate columns, advance), where
#: ``advance(cut_output, aggregate_row)`` is the next state, or None
#: when the round changed nothing.
Step = Callable[
    [Any], Tuple[DataFrame, List[Column], Callable[[DataFrame, Row], Optional[Any]]]
]


def cut(df: DataFrame) -> DataFrame:
    """Lazy lineage cut: materialized by the first action that reads it."""
    return df.localCheckpoint(eager=False)


def fixpoint(step: Step, state: Any, stats: dict | None = None) -> Any:
    """Run ``step`` from ``state`` until a round changes nothing; return
    the last state.  ``stats["iterations"]`` receives the number of
    rounds run, the final no-change round included."""
    rounds = 0
    while True:
        rounds += 1
        out, aggs, advance = step(state)
        out = cut(out)
        nxt = advance(out, out.agg(*aggs).first())
        if nxt is None:
            break
        state = nxt
    if stats is not None:
        stats["iterations"] = rounds
    return state
