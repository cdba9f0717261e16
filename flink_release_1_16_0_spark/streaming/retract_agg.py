"""Generalized unbounded retracting group aggregate
(GroupAggFunction.java:125-172 with the WithRetract accumulator
family).

`streaming_retracting_agg` (stateful.py) carries the fixed
(count, sum) pair; this operator takes an agg SPEC and adds the
retract-capable accumulators the reference implements as separate
classes:

- Max/MinWithRetractAggFunction — value->count multiset, extremum of
  live keys;
- distinct aggregates over a changelog (COUNT/SUM/AVG/MAX/MIN
  DISTINCT — the DistinctViewSpec path): the same multiset, aggregated
  over its KEYS;
- ListAggWithRetractAggFunction — an ordered LIST; accumulate appends,
  retract removes the FIRST occurrence (the reference's
  ListAggWithRetractAggFunction.retract), NULL inputs are skipped and
  an all-NULL group emits NULL;
- exact decimal SUM, integer SUM/AVG with Java truncating division.

Emission per key per micro-batch (compacted GroupAggFunction
protocol): +I on first non-empty state, -U(old)/+U(new) on change,
-D when the live row count nets to zero. State per key = one
accumulator row; one hash exchange. The accumulator (`RetractAcc`) is
shared with the group-window operator, as the reference generates one
aggs handle per agg spec for both.
"""

from __future__ import annotations

import pickle
from collections.abc import Iterator, Sequence
from decimal import Decimal

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import StringType, StructField, StructType

from flink_release_1_16_0_spark.streaming.changelog import (
    DELETE,
    INSERT,
    ROWKIND,
    UPDATE_AFTER,
    UPDATE_BEFORE,
)

_FUNCS = (
    "count_star",
    "count",
    "sum",
    "sum_int",
    "avg_int",
    "max",
    "min",
    "count_distinct",
    "sum_distinct_int",
    "avg_distinct_int",
    "max_distinct",
    "min_distinct",
    "listagg",
)

_MULTISET = (
    "max",
    "min",
    "count_distinct",
    "sum_distinct_int",
    "avg_distinct_int",
    "max_distinct",
    "min_distinct",
)


def _jdiv(a: int, b: int) -> int:
    """Java integer division (truncates toward zero)."""
    q = abs(a) // abs(b)
    return q if (a >= 0) == (b >= 0) else -q


class RetractAcc:
    """Retractable accumulator: one cell per agg spec + net row count.

    Serves this module's unbounded group agg and the group-window
    operator (streaming/group_window.py); each operator validates its
    own func subset. Specs are (out_name, func, col, out_type[, extra]);
    ``weighted_avg`` takes col=(value_col, weight_col) and ``listagg``
    reads its delimiter from spec[4] (default ',').
    """

    __slots__ = ("n", "cells")

    def __init__(self, nspecs: int):
        self.n = 0
        self.cells = [None] * nspecs

    def add(self, specs, row, sign: int, tup=None, col_pos=None) -> None:
        """``row`` is a dict, or pass positional ``tup``+``col_pos``
        (itertuples hot path — no per-row dict allocation)."""
        self.n += sign
        for i, spec in enumerate(specs):
            func, col = spec[1], spec[2]
            if col is None or func == "count_star":
                v = None
            else:
                c0 = col[0] if isinstance(col, tuple) else col
                v = tup[col_pos[c0]] if tup is not None else row[c0]
            if v is not None and isinstance(v, float) and v != v:
                v = None
            c = self.cells[i]
            if func == "count_star":
                self.cells[i] = (c or 0) + sign
            elif func == "weighted_avg":
                w = tup[col_pos[col[1]]] if tup is not None else row[col[1]]
                if v is None or w is None:
                    continue
                s, ws = c if c is not None else (0, 0)
                self.cells[i] = (s + sign * int(v) * int(w), ws + sign * int(w))
            elif v is None:
                continue
            elif func == "count":
                self.cells[i] = (c or 0) + sign
            elif func == "sum":
                s, k = c if c is not None else (Decimal(0), 0)
                self.cells[i] = (s + sign * Decimal(str(v)), k + sign)
            elif func in ("sum_int", "avg_int"):
                s, k = c if c is not None else (0, 0)
                self.cells[i] = (s + sign * int(v), k + sign)
            elif func in _MULTISET:
                d = c if c is not None else {}
                d[v] = d.get(v, 0) + sign
                if d[v] == 0:
                    del d[v]
                self.cells[i] = d
            elif func == "listagg":  # ordered; retract removes FIRST occurrence
                lst = c if c is not None else []
                if sign > 0:
                    lst.append(v)
                else:
                    try:
                        lst.remove(v)
                    except ValueError:
                        pass  # the reference logs and continues
                self.cells[i] = lst
            else:  # concat_distinct — append-only, insertion-ordered dict
                # keys (O(1) membership vs O(d) list `not in`; mirrors the
                # reference's MapView distinct accumulator).
                if sign < 0:
                    raise ValueError("concat_distinct cannot retract")
                if c is None:
                    self.cells[i] = {v: True}
                else:
                    c.setdefault(v, True)

    def merge(self, specs, other: "RetractAcc") -> None:
        """Session-merge ``other`` into self (MergingWindowSet merge)."""
        self.n += other.n
        for i, spec in enumerate(specs):
            func = spec[1]
            o = other.cells[i]
            if o is None:
                continue
            c = self.cells[i]
            if func in ("count_star", "count"):
                self.cells[i] = (c or 0) + o
            elif func in ("sum", "sum_int", "avg_int", "weighted_avg"):
                if c is None:
                    self.cells[i] = o
                else:
                    self.cells[i] = (c[0] + o[0], c[1] + o[1])
            elif func in _MULTISET:
                d = c if c is not None else {}
                for v, k in o.items():
                    d[v] = d.get(v, 0) + k
                    if d[v] == 0:
                        del d[v]
                self.cells[i] = d
            else:
                # dict.update: existing keys keep position, new ones append
                # — "self's items then other's new".
                if c is None:
                    self.cells[i] = dict(o)
                else:
                    c.update(o)

    def emit(self, specs) -> tuple:
        out = []
        for i, spec in enumerate(specs):
            func = spec[1]
            c = self.cells[i]
            if func in ("count_star", "count"):
                out.append(int(c or 0))
            elif func == "sum":
                if c is None or c[1] == 0:
                    out.append(None)
                elif isinstance(spec[3], StringType):
                    out.append(str(c[0]))
                else:
                    out.append(float(c[0]))
            elif func == "sum_int":
                out.append(None if c is None or c[1] == 0 else int(c[0]))
            elif func in ("avg_int", "weighted_avg"):
                out.append(None if c is None or c[1] == 0 else _jdiv(c[0], c[1]))
            elif func == "count_distinct":
                out.append(0 if c is None else len(c))
            elif func == "sum_distinct_int":
                out.append(None if not c else sum(int(v) for v in c))
            elif func == "avg_distinct_int":
                out.append(
                    None if not c else _jdiv(sum(int(v) for v in c), len(c))
                )
            elif func in ("max", "max_distinct"):
                out.append(max(c) if c else None)
            elif func in ("min", "min_distinct"):
                out.append(min(c) if c else None)
            elif func == "listagg":
                delim = spec[4] if len(spec) > 4 else ","
                out.append(delim.join(str(v) for v in c) if c else None)
            else:  # concat_distinct
                out.append(None if c is None else "|".join(str(v) for v in c))
        return tuple(out)


def streaming_retracting_multi_agg(
    stream: DataFrame,
    keys: Sequence[str],
    aggs: Sequence[tuple],
    *,
    rowkind_col: str | None = None,
    seq_col: str | None = None,
) -> DataFrame:
    """Unbounded retracting group agg over an append or changelog
    input. ``aggs``: (out_name, func, col, out_type[, listagg_delim]).
    Output: __rowkind + keys + agg columns; declare SUM as StringType
    to receive its exact decimal value as a string (cast downstream).
    """
    for a in aggs:
        if a[1] not in _FUNCS:
            raise ValueError(f"unsupported retract agg func {a[1]!r}")
    key_fields = [stream.schema[k] for k in keys]
    out_schema = StructType(
        [
            StructField(ROWKIND, StringType()),
            *key_fields,
            *[StructField(a[0], a[3]) for a in aggs],
        ]
    )
    out_cols = [f.name for f in out_schema.fields]
    nspecs = len(aggs)

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            acc, emitted = pickle.loads(state.get[0])
        else:
            acc, emitted = RetractAcc(nspecs), None
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            if seq_col is not None:
                pdf = pdf.sort_values(seq_col, kind="mergesort")
            # positional itertuples: no per-row dict allocation in the
            # unbounded-agg hot loop (same treatment as the window agg).
            col_pos = {c: j for j, c in enumerate(pdf.columns)}
            rk_pos = None if rowkind_col is None else col_pos[rowkind_col]
            for tup in pdf.itertuples(index=False, name=None):
                sign = 1
                if rk_pos is not None:
                    sign = -1 if tup[rk_pos] in (UPDATE_BEFORE, DELETE) else 1
                acc.add(aggs, None, sign, tup=tup, col_pos=col_pos)
        out: list[tuple] = []
        if acc.n <= 0:
            if emitted is not None:
                out.append((DELETE, *key, *emitted))
            if state.exists:
                state.remove()
        else:
            vals = acc.emit(aggs)
            if emitted is None:
                out.append((INSERT, *key, *vals))
            elif vals != emitted:
                out.append((UPDATE_BEFORE, *key, *emitted))
                out.append((UPDATE_AFTER, *key, *vals))
            state.update((pickle.dumps((acc, vals)),))
        if out:
            yield pd.DataFrame(out, columns=out_cols)

    return stream.groupBy(*keys).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType="blob BINARY",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
