"""The one NFA walk (operators/cep.nfa_walk) that MATCH_RECOGNIZE, the
streaming CEP tiers and the DataStream Pattern API all run on.

The pure-Python cases drive the walk directly and assert exact
``(end, bindings)`` sequences; the Spark cases pin the SQL-tier
behaviour the walk must keep (empty completions are no match) and the
streaming tier's logical-offset measures against the batch tier.
"""

from __future__ import annotations

import datetime as dt

import pandas as pd
import pytest

from flink_release_1_16_0_spark.operators.cep import (
    NONEMPTY,
    match_nfa,
    nfa_timed_out_partial,
    nfa_walk,
)
from flink_release_1_16_0_spark.streaming.core import run_to_table

T0 = pd.Timestamp("2024-01-01")


def _rows(values, gaps=None):
    gaps = gaps or [1] * len(values)
    out, t = [], 0
    for v, g in zip(values, gaps):
        out.append({"__ts": T0 + pd.Timedelta(minutes=t), "v": v})
        t += g
    return out


def _walk(rows, steps, defines, multi=frozenset(), start=0, within_ms=None):
    return list(nfa_walk(rows, start, steps, defines, within_ms, multi))


def _rising(var):
    # reads the variable's OWN rows taken so far in the current run
    return lambda r, c: not c[var] or r["v"] > c[var][-1]["v"]


def test_relaxed_loop_reads_own_ctx_on_the_enumerating_path():
    """``+~`` steps over rows failing the loop condition; the predicate
    sees exactly the rows taken so far (incremental ctx sync)."""
    rows = _rows([1, 0, 2, 5, 3])
    defines = {"A": _rising("A")}
    assert _walk(rows, [("A", "+~")], defines, frozenset({"A"})) == [
        (1, {"A": [0]}),
        (3, {"A": [0, 2]}),
        (4, {"A": [0, 2, 3]}),
    ]
    # deterministic (greedy) walk: the longest run only
    assert _walk(rows, [("A", "+~")], defines) == [(4, {"A": [0, 2, 3]})]


def test_relaxed_loop_ctx_includes_earlier_variables():
    """ctx carries every bound variable next to the loop's own run: S
    bounds the loop from below, the loop rises from its own last row."""
    rows = _rows([2, 3, 1, 4, 2, 5])
    defines = {
        "S": lambda r, c: r["v"] == 2,
        "A": lambda r, c: r["v"] > c["S"][0]["v"]
        and (not c["A"] or r["v"] > c["A"][-1]["v"]),
    }
    steps = [("S", "1"), ("A", "+~")]
    assert _walk(rows, steps, defines, frozenset({"A"})) == [
        (2, {"S": [0], "A": [1]}),
        (4, {"S": [0], "A": [1, 3]}),
        (6, {"S": [0], "A": [1, 3, 5]}),
    ]


def test_allow_combinations_loop_reads_own_ctx():
    """``+~c`` forks every in-order subset that keeps the first
    repetition; each branch's predicate sees its own chosen prefix."""
    rows = _rows([1, 3, 2, 4])
    got = _walk(rows, [("A", "+~c")], {"A": _rising("A")}, frozenset({"A"}))
    assert got == [
        (1, {"A": [0]}),
        (2, {"A": [0, 1]}),
        (4, {"A": [0, 1, 3]}),
        (3, {"A": [0, 2]}),
        (4, {"A": [0, 2, 3]}),
        (4, {"A": [0, 3]}),
    ]


def test_empty_completion_is_yielded_unless_guarded():
    """A completion that binds no row is yielded like any other (the
    SQL tiers treat it as no match at the anchor); NONEMPTY backtracks
    past it to the taken branch (the Pattern API, whose reference never
    emits an empty match)."""
    rows = _rows([7, 7])
    defines = {"A": lambda r, c: r["v"] == 7}
    for q in ("??", "*?", "?<"):
        assert next(nfa_walk(rows, 0, [("A", q)], defines, None)) == (0, {})
    assert next(nfa_walk(rows, 0, [("A", "??"), NONEMPTY], defines, None)) == (
        1,
        {"A": [0]},
    )


def test_sql_optional_and_relaxed_entry_optional_are_distinct_tokens():
    """``?<`` is the Flink-SQL optional (strict, earliest completion
    wins); ``?e`` is the Pattern API's optional behind a followedBy
    (its row may sit past non-matching rows)."""
    rows = _rows([0, 7, 9])
    defines = {"A": lambda r, c: r["v"] == 7, "B": lambda r, c: r["v"] == 9}
    assert _walk(rows, [("A", "?<"), ("B", "1")], defines, start=1) == [
        (3, {"A": [1], "B": [2]})
    ]
    # row 0 does not match A: the SQL optional skips, then B fails
    assert _walk(rows, [("A", "?<"), ("B", "1")], defines) == []
    assert _walk(rows, [("A", "?e"), ("B", "1")], defines) == [
        (3, {"A": [1], "B": [2]})
    ]


def test_sql_optional_prefers_the_earlier_completion():
    """``?<``: both branches live; skipping wins when it completes
    earlier (MatchRecognizeITCase.testAggregates' countD = 0 shape)."""
    rows = _rows([5, 5, 9])
    defines = {"D": lambda r, c: r["v"] == 5, "E": lambda r, c: r["v"] in (5, 9)}
    assert _walk(rows, [("D", "?<"), ("E", "1")], defines)[0] == (1, {"E": [0]})
    # a tie keeps the take
    rows = _rows([5, 9])
    assert _walk(rows, [("D", "?<"), ("E", "+")], defines)[0] == (
        2,
        {"D": [0], "E": [1]},
    )


def test_possessive_loop_never_yields_rows_back():
    rows = _rows([1, 1, 1])
    defines = {"A": lambda r, c: r["v"] == 1, "B": lambda r, c: r["v"] == 1}
    assert _walk(rows, [("A", "+"), ("B", "1")], defines) == [
        (3, {"A": [0, 1], "B": [2]})
    ]
    assert _walk(rows, [("A", "+g"), ("B", "1")], defines) == []
    assert _walk(rows, [("A", "?g"), ("B", "1")], defines) == [
        (2, {"A": [0], "B": [1]})
    ]


def test_timed_out_partial_is_the_longest_matching_prefix():
    rows = _rows([1, 1, 2, 0])
    defines = {
        "A": lambda r, c: r["v"] == 1,
        "B": lambda r, c: r["v"] == 2,
        "C": lambda r, c: r["v"] == 3,
    }
    steps = [("A", "+"), ("B", "1"), ("C", "1")]
    assert nfa_timed_out_partial(rows, 0, steps, defines, 600_000) == {
        "A": [0, 1],
        "B": [2],
    }
    # nothing binds at this anchor: no computation started
    assert nfa_timed_out_partial(rows, 3, steps, defines, 600_000) is None


def test_unknown_quantifier_raises():
    with pytest.raises(ValueError, match="unknown quantifier"):
        _walk(_rows([1]), [("A", "?x")], {})


def _seq_df(spark, rows):
    data = [
        (1, dt.datetime(2024, 1, 1, 10, m), i, et, float(v))
        for i, (m, et, v) in enumerate(rows)
    ]
    return spark.createDataFrame(
        data, "k long, ts timestamp, event_id long, event_type string, value double"
    )


def test_match_nfa_empty_completion_is_no_match(spark):
    """SQL tier: a pattern whose preferred completion binds no row has
    no match at that anchor — the reluctant / SQL-optional zero branch
    commits rather than backtracking to a row-binding branch."""
    df = _seq_df(spark, [(0, "a", 1), (1, "a", 2), (2, "b", 3)])
    common = dict(
        keys=["k"],
        ts_col="ts",
        id_col="event_id",
        defines={"A": lambda r, c: r["event_type"] == "a"},
        measures={"n": ("A", "count", "event_id", "bigint")},
        value_cols=["event_type"],
    )
    for q in ("??", "*?", "?<"):
        assert match_nfa(df, steps=[("A", q)], **common).count() == 0, q
    # the possessive star binds the maximal run instead
    assert [r.n for r in match_nfa(df, steps=[("A", "*g")], **common).collect()] == [2]


def test_streaming_nfa_logical_offset_measure_matches_batch(spark, tmp_path_factory):
    """``first:N`` / ``last:N`` measures (SQL FIRST(V.col, N)) run on the
    streaming NFA tier and equal the batch match_nfa over the same rows."""
    from flink_release_1_16_0_spark.streaming.cep_stream import (
        streaming_cep_nfa_within,
    )

    def t(minute):
        return dt.datetime(2024, 1, 1, 10, minute)

    rows = [
        (1, t(0), 10, "click", 1.0),
        (1, t(1), 11, "click", 2.0),
        (1, t(2), 12, "purchase", 9.0),
        (1, t(30), 13, "view", 0.0),  # advances the watermark only
        (2, t(0), 20, "click", 3.0),
        (2, t(1), 21, "purchase", 4.0),
        (2, t(30), 22, "view", 0.0),
    ]
    schema = "user_id INT, ts TIMESTAMP, event_id BIGINT, event_type STRING, value DOUBLE"
    df = spark.createDataFrame(rows, schema)
    path = str(tmp_path_factory.mktemp("cep_offsets"))
    df.coalesce(1).write.mode("overwrite").parquet(path)
    stream = spark.readStream.schema(df.schema).parquet(path).withWatermark("ts", "0 seconds")
    common = dict(
        keys=["user_id"],
        ts_col="ts",
        id_col="event_id",
        steps=[("A", "+"), ("B", "1")],
        defines={
            "A": lambda r, c: r["event_type"] == "click",
            "B": lambda r, c: r["event_type"] == "purchase",
        },
        measures={
            "second_click": ("A", "first:1", "value", "double"),
            "prev_click": ("A", "last:1", "event_id", "bigint"),
            "b_id": ("B", "first", "event_id", "bigint"),
        },
        within_ms=5 * 60 * 1000,
        value_cols=["event_type", "value"],
    )
    got = run_to_table(streaming_cep_nfa_within(stream, **common), "update")
    want = match_nfa(df, **common)
    cols = ["user_id", "match_no", "second_click", "prev_click", "b_id"]
    got_rows = sorted(tuple(r) for r in got.select(*cols).collect())
    assert got_rows == sorted(tuple(r) for r in want.select(*cols).collect())
    assert got_rows == [(1, 0, 2.0, 10, 12), (2, 0, None, None, 21)]
    # FIRST/LAST only: an offset on another aggregate still raises
    with pytest.raises(ValueError, match="logical offset"):
        streaming_cep_nfa_within(
            stream, **{**common, "measures": {"x": ("A", "sum:1", "value", "double")}}
        )
