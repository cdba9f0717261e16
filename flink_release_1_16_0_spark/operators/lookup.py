"""Lookup (dimension-table) join — CommonExecLookupJoin semantics.

Reference: per-row point lookups against an external table with
caching/async options (RT/join/lookup/LookupJoinRunner.java,
LookupFunction.java:35, JDBC impl JdbcRowDataLookupFunction.java:54 —
SURVEY.md section 2.3).

Spark-first design: a lookup join IS a broadcast hash join against a
snapshot of the dimension relation. Batch: broadcast directly.
Streaming: each micro-batch joins the dimension's current snapshot —
the reference's processing-time lookup semantics (each batch sees the
dimension as-of its processing time; table_env strips
``FOR SYSTEM_TIME AS OF`` to this plain join); the broadcast hash
table plays the role of the lookup cache
(`lookup.cache.max-rows` et al. become moot — the whole dim ships once
per batch, which at 1000 executors is strictly cheaper than N x
per-row RPC lookups unless the dim is huge).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def lookup_join(
    fact: DataFrame,
    dim: DataFrame,
    on: Sequence[tuple[str, str]],
    how: str = "left",
) -> DataFrame:
    """Point-lookup join: every fact row fetches its dim row (or NULL).

    `on` is a list of (fact_col, dim_col) equi-pairs. The dim side is
    always broadcast — the physical shape of a lookup.
    """
    cond = None
    for fc, dc in on:
        c = fact[fc] == dim[dc]
        cond = c if cond is None else (cond & c)
    return fact.join(F.broadcast(dim), cond, how)

