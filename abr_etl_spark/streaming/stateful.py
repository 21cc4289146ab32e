"""Custom stateful streaming operators (applyInPandasWithState).

The engine's escape hatch for semantics windowed aggs can't express --
here: per-user running event counts with session-style state. State is
one small pandas row per key; Arrow moves batches, the JVM owns the
shuffle. This is the pattern the reference's empty TransformLocation stub
(transform.go:3) would grow into for incremental transforms.
"""

from __future__ import annotations

from typing import Any, Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StructField,
    StructType,
)

OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events_total", LongType()),
    ]
)
STATE_SCHEMA = StructType([StructField("count", LongType())])


def _update_counts(
    key: tuple[Any, ...],
    pdfs: Iterable[pd.DataFrame],
    state: GroupState,
) -> Iterable[pd.DataFrame]:
    (user_id,) = key
    prev = state.get[0] if state.exists else 0
    total = prev + sum(len(pdf) for pdf in pdfs)
    state.update((total,))
    yield pd.DataFrame({"user_id": [user_id], "n_events_total": [total]})


def running_counts_stateful(events: DataFrame) -> DataFrame:
    """Per-user cumulative event counts maintained in keyed state."""
    return events.groupBy("user_id").applyInPandasWithState(
        _update_counts,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# Self-contained worker pickling: these module-level functions cross the
# driver/worker boundary (Arrow/stateful UDFs). By default cloudpickle
# serializes them BY REFERENCE, so a Python worker spawned from a driver
# process with a foreign cwd (the round driver, notebooks) dies with
# ModuleNotFoundError on this package. Registering the module for
# by-value pickling ships the function bodies with the task instead --
# no sys.path assumptions on workers.
try:
    import sys as _sys

    from pyspark import cloudpickle as _cloudpickle

    _cloudpickle.register_pickle_by_value(_sys.modules[__name__])
except Exception:  # pragma: no cover - ancient cloudpickle
    pass
