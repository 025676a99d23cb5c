"""Eager pins that count themselves.

:func:`pin` pins a frame with ``localCheckpoint(eager=True)`` and returns
aggregates observed (``DataFrame.observe``) in that same pass, so a
caller that needs the pinned frame's size, key set or a flag never runs
a second query over it.  :func:`overwrite_partitions` is the one
read-your-own-overwrite routine of the ``p_part``-partitioned tables.

Observed values come from task accumulators, and a recomputed task may
add its rows twice.  So a caller acts on a value only in a way that
stays correct when it is too high: a count tested against 0, a key set,
or a size gate whose fallback is the shuffle form.
"""

from __future__ import annotations

import os
import shutil
from typing import Any, Dict, Iterable, Tuple

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F


def pin(df: DataFrame, **metrics: Column) -> Tuple[DataFrame, Dict[str, Any]]:
    """``(pinned, values)``: ``df`` checkpointed eagerly, and each named
    aggregate of ``metrics`` evaluated over its rows in the same pass."""
    obs = Observation()
    pinned = df.observe(
        obs, *(c.alias(name) for name, c in metrics.items())
    ).localCheckpoint(eager=True)
    return pinned, obs.get


def overwrite_partitions(rows: DataFrame, path: str, parts: Iterable[int]) -> None:
    """Replace partitions ``parts`` of the ``p_part``-partitioned parquet
    table at ``path`` with ``rows`` (which carry ``p_part``).

    ``rows`` is pinned first: its plan may read the very files the write
    replaces.  Dynamic partition overwrite never touches a partition
    absent from the output, so a partition of ``parts`` that ``rows``
    leaves empty would keep stale files; its directory is removed.  The
    partitions ``rows`` fills are observed during the pin."""
    pinned, seen = pin(rows, filled=F.collect_set("p_part"))
    (
        pinned.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("p_part")
        .parquet(path)
    )
    for k in set(parts) - set(seen["filled"]):
        shutil.rmtree(os.path.join(path, f"p_part={k}"), ignore_errors=True)
    pinned.unpersist()
