"""One eager materialization for every operator checkpoint.

:func:`materialize` takes the eager ``localCheckpoint`` an operator needs
anyway and evaluates the aggregates that size its next decision inside
that same job, through an ``Observation``, so a sizing number costs no
job of its own.  :func:`observe` attaches aggregates deeper in a plan,
e.g. upstream of a filter, for :func:`materialize` to read.  Observed
metrics take plain aggregates (``count_if``, ``sum``, ``min``/``max``,
``any_value``, ``collect_set``); Spark rejects DISTINCT ones there.  The
checkpoint block is freed by the ContextCleaner when the returned
DataFrame is garbage-collected.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame, Observation


def observe(df: DataFrame, **aggs: Column) -> tuple[DataFrame, Callable]:
    """``df`` with the named aggregates attached, and the probe that reads
    them once a job has run a plan holding ``df``."""
    obs = Observation()

    def probe() -> dict:
        # no job ran the observed subtree (the optimizer pruned it, e.g. a
        # join whose other side is empty): its metrics row is empty, and
        # PySpark 4.1's Observation.get asserts a schema on an empty row
        # instead of returning {}, so the row size is read off the JVM
        if not obs._jo.getRow().size():
            return dict.fromkeys(aggs)
        return obs.get

    return df.observe(obs, *[c.alias(n) for n, c in aggs.items()]), probe


def materialize(df: DataFrame, *probes: Callable,
                **aggs: Column) -> tuple[DataFrame, dict]:
    """Eager ``localCheckpoint`` of ``df`` and ``{name: value}`` of the
    named aggregates, evaluated in the checkpoint's own job, plus those of
    ``probes`` attached upstream in ``df`` (None where no job ran their
    subtree).  Without aggregates no Observation is attached, so the
    checkpointed plan is the plain one."""
    if aggs:
        df, top = observe(df, **aggs)
        probes += (top,)
    out = df.localCheckpoint(eager=True)
    return out, {k: v for p in probes for k, v in p().items()}
