"""flink-cep negative / advanced Pattern conformance, ported from the
reference's NFA test corpus:

- flink-libraries/flink-cep/src/test/java/.../nfa/NotPatternITCase.java
  (notNext, notFollowedBy mid-pattern, notFollowedBy at the end with
  within under both WithinType anchorings, notFollowedBy before a
  bounded loop)
- .../nfa/UntilConditionITCase.java (until stop condition on
  oneOrMore / zeroOrMore)
- .../nfa/TimesOrMoreITCase.java (timesOrMore + allowCombinations)
- Pattern.followedByAny (Pattern.java:343) — every later candidate
  matches, not just the first

Each case replays the reference's event log through the real
DataStream CEP facade (datastream/cep.py -> operators/cep.py
nfa_walk) and asserts the exact match set.
"""

from __future__ import annotations

import datetime
import sys

import pytest
from pyspark import cloudpickle

cloudpickle.register_pickle_by_value(sys.modules[__name__])

from flink_release_1_16_0_spark.datastream import (  # noqa: E402
    CEP,
    Pattern,
    StreamExecutionEnvironment,
    WatermarkStrategy,
)
from flink_release_1_16_0_spark.datastream.cep import WithinType  # noqa: E402

BASE = datetime.datetime(2024, 1, 1)


def _events(env, rows):
    """rows: (ts_ms, name, price). One key; arrival order preserved
    via the id tiebreaker."""
    recs = [
        {
            "k": "K",
            "ts": BASE + datetime.timedelta(milliseconds=ms),
            "name": n,
            "price": float(p),
            "id": i,
        }
        for i, (ms, n, p) in enumerate(rows)
    ]
    s = env.from_collection(recs, "k STRING, ts TIMESTAMP, name STRING, price DOUBLE, id BIGINT")
    return s.assign_timestamps_and_watermarks(
        WatermarkStrategy.for_monotonous_timestamps().with_timestamp_assigner("ts")
    ).key_by("k")


def _matches(keyed, pat, vars_):
    out = CEP.pattern(keyed, pat).select(
        lambda m: {
            "m": "|".join(
                f"{r['name']}{r['price']:g}" for v in vars_ for r in m.get(v, [])
            )
        },
        "m STRING",
    )
    return sorted(r.m for r in out.to_data_frame().collect())


@pytest.fixture(scope="module")
def env(spark):
    return StreamExecutionEnvironment.get_execution_environment(spark)


def name_is(x):
    return lambda r: r["name"] == x


def test_not_next(env):
    """NotPatternITCase.testNotNext (NotPatternITCase.java:46):
    a notNext(b) followedByAny(c) followedBy(d) over a,c,b,c,d —
    both c candidates match (followedByAny), the b right after a
    would have killed it but c sits in between."""
    keyed = _events(
        env, [(1, "a", 1), (2, "c", 2), (3, "b", 3), (4, "c", 4), (5, "d", 4.5)]
    )
    pat = (
        Pattern.begin("start").where(name_is("a"))
        .not_next("notPattern").where(name_is("b"))
        .followed_by_any("middle").where(name_is("c"))
        .followed_by("end").where(name_is("d"))
    )
    assert _matches(keyed, pat, ["start", "middle", "end"]) == [
        "a1|c2|d4.5",
        "a1|c4|d4.5",
    ]


def test_not_next_no_matches(env):
    """NotPatternITCase.testNotNextNoMatches (NotPatternITCase.java
    :118): b immediately after a kills every branch."""
    keyed = _events(
        env, [(1, "a", 1), (2, "b", 3), (3, "c", 2), (4, "c", 4), (5, "d", 4.5)]
    )
    pat = (
        Pattern.begin("start").where(name_is("a"))
        .not_next("notPattern").where(name_is("b"))
        .followed_by_any("middle").where(name_is("c"))
        .followed_by("end").where(name_is("d"))
    )
    assert _matches(keyed, pat, ["start", "middle", "end"]) == []


def test_not_followed_by(env):
    """NotPatternITCase.testNotFollowedBy (NotPatternITCase.java:256):
    the b between a and the second c kills that branch — only
    [a, c1, d] survives."""
    keyed = _events(
        env, [(1, "a", 1), (2, "c", 2), (3, "b", 3), (4, "c", 4), (5, "d", 4.5)]
    )
    pat = (
        Pattern.begin("start").where(name_is("a"))
        .not_followed_by("notPattern").where(name_is("b"))
        .followed_by_any("middle").where(name_is("c"))
        .followed_by("end").where(name_is("d"))
    )
    assert _matches(keyed, pat, ["start", "middle", "end"]) == ["a1|c2|d4.5"]


@pytest.mark.parametrize(
    "within_type", [WithinType.FIRST_AND_LAST, WithinType.PREVIOUS_AND_CURRENT]
)
def test_not_followed_by_within_at_end(env, within_type):
    """NotPatternITCase.testNotFollowedByWithinAtEnd (NotPatternITCase
    .java:1525, both WithinType anchorings): `a notFollowedBy b
    within 3ms` — only the a with no b inside its window matches."""
    keyed = _events(
        env,
        [
            (1, "a", 1), (2, "b", 2), (4, "a", 3), (5, "c", 4),
            (10, "b", 5), (11, "a", 7), (13, "b", 8),
        ],
    )
    pat = (
        Pattern.begin("a").where(name_is("a"))
        .not_followed_by("b").where(name_is("b"))
        .within(3, within_type)
    )
    assert _matches(keyed, pat, ["a"]) == ["a3"]


def test_not_followed_by_before_times_within(env):
    """NotPatternITCase.testNotFollowByBeforeTimesWithin (NotPattern
    ITCase.java:1573): `a notFollowedBy b followedBy c.times(0,2)
    within 3ms` — zero-count branches complete BEFORE the absence
    condition can kill them ([a1] matches though b follows), longer
    branches cannot scan past a b or the window."""
    keyed = _events(
        env,
        [
            (1, "a", 1), (2, "b", 2), (10, "a", 3), (11, "c", 4),
            (12, "c", 5), (20, "a", 7), (21, "c", 8), (24, "c", 8.5),
        ],
    )
    pat = (
        Pattern.begin("a").where(name_is("a"))
        .not_followed_by("b").where(name_is("b"))
        .followed_by("c").where(name_is("c")).times(0, 2)
        .within(3)
    )
    assert _matches(keyed, pat, ["a", "c"]) == sorted(
        ["a1", "a3", "a3|c4", "a3|c4|c5", "a7", "a7|c8"]
    )


def test_until_condition_followed_by_one_or_more(env):
    """UntilConditionITCase.testUntilConditionFollowedByOneOrMore
    (UntilConditionITCase.java:55): the loop stops BEFORE the first
    price==5 event (excluded from the loop, taken by `end`)."""
    keyed = _events(
        env, [(1, "c", 1), (3, "a", 2), (4, "a", 3), (6, "a", 5), (7, "a", 6)]
    )
    until = lambda r: r["price"] == 5.0  # noqa: E731
    pat = (
        Pattern.begin("start").where(name_is("c"))
        .followed_by("middle").where(name_is("a")).one_or_more().until(until)
        .followed_by("end").where(until)
    )
    assert _matches(keyed, pat, ["start", "middle", "end"]) == sorted(
        ["c1|a2|a3|a5", "c1|a2|a5"]
    )


def test_until_condition_followed_by_zero_or_more(env):
    """UntilConditionITCase.testUntilConditionFollowedByZeroOrMore
    (UntilConditionITCase.java:305): oneOrMore().optional() adds the
    zero-repetition branch [c, 5]."""
    keyed = _events(
        env, [(1, "c", 1), (3, "a", 2), (4, "a", 3), (6, "a", 5), (7, "a", 6)]
    )
    until = lambda r: r["price"] == 5.0  # noqa: E731
    pat = (
        Pattern.begin("start").where(name_is("c"))
        .followed_by("middle").where(name_is("a"))
        .one_or_more().optional().until(until)
        .followed_by("end").where(until)
    )
    assert _matches(keyed, pat, ["start", "middle", "end"]) == sorted(
        ["c1|a2|a3|a5", "c1|a2|a5", "c1|a5"]
    )


def test_times_or_more_combinations(env):
    """TimesOrMoreITCase.testTimesOrMore (TimesOrMoreITCase.java:55):
    c a{2,} b with allowCombinations — the first repetition anchors,
    later ones may be skipped."""
    keyed = _events(
        env, [(1, "c", 1), (2, "a", 2), (3, "a", 3), (4, "a", 4), (6, "b", 5)]
    )
    pat = (
        Pattern.begin("start").where(name_is("c"))
        .followed_by("middle").where(name_is("a"))
        .times_or_more(2).allow_combinations()
        .followed_by("end1").where(name_is("b"))
    )
    assert _matches(keyed, pat, ["start", "middle", "end1"]) == sorted(
        ["c1|a2|a3|a4|b5", "c1|a2|a3|b5", "c1|a2|a4|b5"]
    )


def test_times_or_more_eager(env):
    """timesOrMore without allowCombinations (Pattern.timesOrMore:482,
    relaxed EAGER contiguity): every prefix count >= n emits, no
    skipping of matching events."""
    keyed = _events(
        env, [(1, "c", 1), (2, "a", 2), (3, "a", 3), (4, "a", 4), (6, "b", 5)]
    )
    pat = (
        Pattern.begin("start").where(name_is("c"))
        .followed_by("middle").where(name_is("a")).times_or_more(2)
        .followed_by("end1").where(name_is("b"))
    )
    assert _matches(keyed, pat, ["start", "middle", "end1"]) == sorted(
        ["c1|a2|a3|a4|b5", "c1|a2|a3|b5"]
    )


def test_followed_by_any_every_candidate(env):
    """Pattern.followedByAny (Pattern.java:343): a followedByAny b
    pairs a with EVERY subsequent b — plain followedBy stops at the
    first."""
    keyed = _events(env, [(1, "a", 1), (2, "b", 2), (3, "c", 3), (4, "b", 4)])
    pat_any = (
        Pattern.begin("a").where(name_is("a"))
        .followed_by_any("b").where(name_is("b"))
    )
    assert _matches(keyed, pat_any, ["a", "b"]) == ["a1|b2", "a1|b4"]
    pat_first = (
        Pattern.begin("a").where(name_is("a"))
        .followed_by("b").where(name_is("b"))
    )
    assert _matches(keyed, pat_first, ["a", "b"]) == ["a1|b2"]


def test_not_pattern_validation():
    """NOT patterns reject quantifiers and require conditions; a
    terminal notFollowedBy requires within (the reference's
    MalformedPatternException family)."""
    with pytest.raises(ValueError):
        Pattern.begin("a").not_next("b").one_or_more()
    with pytest.raises(ValueError):
        (
            Pattern.begin("a").where(name_is("a"))
            .not_followed_by("b").where(name_is("b"))
        )._compile()  # terminal notFollowedBy without within
    with pytest.raises(ValueError):
        (
            Pattern.begin("a").where(name_is("a"))
            .not_followed_by("b").where(name_is("b"))
            .next("c").where(name_is("c"))
        )._compile()  # notFollowedBy directly before next()
    with pytest.raises(ValueError):
        (
            Pattern.begin("a").where(name_is("a"))
            .not_next("b")
            .followed_by("c").where(name_is("c"))
        )._compile()  # NOT pattern without a condition
