"""MATCH_RECOGNIZE-lite: sequence pattern matching over keyed streams.

Reference: StreamExecMatch.java:59 driving the CEP NFA
(flink-libraries/flink-cep/.../operator/CepOperator.java:82,
nfa/NFA.java — SURVEY.md section 2.9). Three tiers here:

- **fixed-length patterns** (A then B then C on consecutive rows):
  pure window functions — LEAD the symbol k-1 times and filter. This is
  how the batch planner would lower a quantifier-free pattern; stays
  fully in Catalyst/WSCG and scales as one window scan per key.
- **regex patterns with quantifiers** (A+ B? C): per-key symbol string
  + Python regex over match spans inside applyInPandas — the NFA
  equivalent for bounded keys. Partitioned by key: state is one
  document per key, the 100 TB behavior matches CepOperator's keyed
  NFA state.
- **the NFA** (:func:`nfa_walk`, cross-variable DEFINE predicates):
  one backtracking walk shared by the SQL batch tier (match_nfa), the
  streaming tier (streaming/cep_stream.py) and the DataStream Pattern
  API (datastream/cep.py).
"""

from __future__ import annotations

import functools
import re
from collections.abc import Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def classify(symbol_exprs: dict[str, Column], default: str = "-") -> Column:
    """Map each row to a 1-char pattern symbol (first matching wins)."""
    expr = F.lit(default)
    for sym, cond in reversed(list(symbol_exprs.items())):
        if len(sym) != 1:
            raise ValueError("symbols must be single characters")
        expr = F.when(cond, F.lit(sym)).otherwise(expr)
    return expr


def _apply_per_key(df: DataFrame, keys: Sequence[str], fn, schema: str) -> DataFrame:
    """``groupBy(keys).applyInPandas(fn, schema)`` with the per-key
    Python invocation amortized: lowered through
    ``datastream.stream._grouped_apply`` (one shuffle on ``keys`` + a
    mapInPandas group walk). ``applyInPandas`` calls the Python worker
    once PER KEY — ~4 ms of Arrow+invoke overhead each, measured to
    dominate many-small-keys CEP inputs (sf0.1 events: 1500 user
    groups cost ~6 s of pure per-group floor vs ~0.9 s walked inside
    batches; a trivial fn times 5.1/0.9/0.6 s at 1500/64/8 groups).
    ``fn`` keeps the exact applyInPandas contract: it receives one
    key's rows, key columns included, and returns a result frame."""
    from pyspark.sql.types import StructType

    from flink_release_1_16_0_spark.datastream.stream import _grouped_apply

    return _grouped_apply(df, list(keys), lambda _key, g: fn(g), StructType.fromDDL(schema))


def match_fixed_pattern(
    df: DataFrame,
    keys: Sequence[str],
    order_cols: Sequence[str],
    symbol: Column,
    pattern: str,
) -> DataFrame:
    """Rows starting a consecutive-row match of `pattern` (no
    quantifiers). Adds `__sym{i}` symbol lookahead columns and filters;
    returns the first row of each match."""
    if not re.fullmatch(r"[A-Za-z]+", pattern):
        raise ValueError("fixed pattern must be plain symbols")
    w = Window.partitionBy(*keys).orderBy(*order_cols)
    out = df.withColumn("__sym", symbol)
    # project the lookahead symbols first: window functions are not
    # allowed directly inside a filter
    lead_cols = [
        F.lead("__sym", i).over(w).alias(f"__sym{i}")
        for i in range(1, len(pattern))
    ]
    out = out.select("*", *lead_cols)
    cond = F.col("__sym") == pattern[0]
    for i, ch in enumerate(pattern[1:], start=1):
        cond = cond & (F.col(f"__sym{i}") == ch)
    drop = ["__sym"] + [f"__sym{i}" for i in range(1, len(pattern))]
    return out.filter(cond).drop(*drop)


def match_regex_pattern(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    symbol: Column,
    pattern: str,
    id_col: str,
    within_ms: int | None = None,
    skip: str = "past_last_row",
) -> DataFrame:
    """Regex pattern matching per key (the NFA tier).

    Emits one row per match: (keys..., match_no, start_id, end_id,
    n_rows). Rows are ordered by (ts, id) within the key; matches are
    leftmost-greedy.

    ``skip`` selects the AFTER MATCH strategy
    (AfterMatchSkipStrategy, flink-cep; MATCH_RECOGNIZE AFTER MATCH
    SKIP ...): ``'past_last_row'`` (the default — non-overlapping,
    resume after the match) or ``'to_next_row'`` (resume one row after
    the match's START, so overlapping matches from later rows are also
    reported).

    ``within_ms`` implements the MATCH_RECOGNIZE ``WITHIN`` clause
    (Pattern.within, flink-cep NFA time-out pruning): a match must
    complete within the interval measured from its FIRST row. Emulated
    by truncating the anchored-match window to the rows inside the
    interval — exactly "greedy among the assignments that fit", which
    is what the NFA's branch pruning converges to. A start whose
    greedy match times out does not kill later, shorter starts (the
    anchored scan advances one row and retries, mirroring the NFA
    starting a fresh partial match at every event).
    """
    tagged = df.select(*keys, F.col(ts_col).alias("__ts"), F.col(id_col).alias("__id"), symbol.alias("__sym"))
    out_fields = ", ".join(f"{k} {dict(tagged.dtypes)[k]}" for k in keys)
    schema = (
        f"{out_fields}, match_no int, start_id long, end_id long, n_rows int"
    )
    rx = re.compile(pattern)
    _check_skip(skip)

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["__ts", "__id"], kind="mergesort")
        sym = "".join(pdf["__sym"].tolist())
        ids = pdf["__id"].tolist()
        rows = []
        keyvals = [pdf.iloc[0][k] for k in keys]
        for m_no, m in enumerate(
            _scan_matches(rx, sym, pdf["__ts"], within_ms, skip)
        ):
            ms, me = m.start(), m.end()
            rows.append((*keyvals, m_no, ids[ms], ids[me - 1], me - ms))
        return pd.DataFrame(
            rows, columns=[*keys, "match_no", "start_id", "end_id", "n_rows"]
        )

    return _apply_per_key(tagged, keys, fn, schema)


def _check_skip(skip) -> None:
    if isinstance(skip, tuple):
        if len(skip) != 2 or skip[0] not in ("to_first", "to_last"):
            raise ValueError(f"unsupported AFTER MATCH skip strategy {skip!r}")
    elif skip not in ("past_last_row", "to_next_row"):
        raise ValueError(f"unsupported AFTER MATCH skip strategy {skip!r}")


def _scan_matches(rx, sym, ts_series, within_ms, skip="past_last_row"):
    """Anchored leftmost-greedy match scan shared by the regex tiers.

    Yields re.Match objects (spans index into the full symbol string).
    ``within_ms`` truncates each anchored attempt's window to the rows
    inside the WITHIN interval from the start row (NFA timeout pruning);
    ``skip`` selects the AFTER MATCH strategy
    (AfterMatchSkipStrategy): ``"past_last_row"`` (default),
    ``"to_next_row"``, or ``("to_first"|"to_last", var)`` — resume at
    the first/last row the named pattern variable matched. Resuming at
    (or before) the match's own start would loop forever; the reference
    throws FlinkRuntimeException there, mirrored here.
    """
    if within_ms is None:
        ts_ns = bound_ns = None
    else:
        # normalize to int64 ns regardless of pandas unit/tz flavor
        ts_ns = ts_series.to_numpy(dtype="datetime64[ns]").astype("int64")
        bound_ns = within_ms * 1_000_000

    s = 0
    while s < len(sym):
        if ts_ns is None:
            m = rx.match(sym, s)
        else:
            # rows strictly inside the window: Flink's NFA times a
            # partial match out when ts - start >= within, so the row AT
            # the boundary is excluded ("left"); endpos truncates the
            # match window without copying the symbol string
            e_max = int(ts_ns.searchsorted(ts_ns[s] + bound_ns, "left"))
            m = rx.match(sym, s, e_max)
        if m and m.end() > m.start():
            yield m
            if skip == "past_last_row":
                s = m.end()
            elif skip == "to_next_row":
                s = s + 1
            else:
                mode, var = skip
                vs, ve = m.span(var)
                target = vs if mode == "to_first" else ve - 1
                if vs < 0 or target <= m.start():
                    # unbound variable, or resuming at/before the start
                    # of the match it came from -> infinite loop
                    raise ValueError(
                        f"AFTER MATCH SKIP {mode} {var!r} would not "
                        "advance past the match start (the reference "
                        "raises here too)"
                    )
                s = target
        else:
            s += 1


# ---------------------------------------------------------------------------
# MEASURES (per pattern variable) and DEFINE (cross-variable predicates)
# ---------------------------------------------------------------------------

_AGGS = ("first", "last", "sum", "count", "min", "max", "avg")


def _sort_spec(order_spec):
    """(columns, ascending-flags) for the per-key sort; order_spec is
    the ORDER BY tail as (internal col, asc) pairs, default
    (__ts, __id) ascending."""
    spec = list(order_spec) if order_spec else [("__ts", True), ("__id", True)]
    return [c for c, _ in spec], [a for _, a in spec]


def _check_agg(alias: str, agg: str) -> None:
    base = agg.split(":", 1)[0]
    if base not in _AGGS:
        raise ValueError(f"{alias}: unsupported agg {agg}")
    if ":" in agg and base not in ("first", "last"):
        raise ValueError(f"{alias}: logical offset only on FIRST/LAST, got {agg}")


def _measure_value(slice_df: pd.DataFrame, agg: str, col: str, grid_scale):
    """One MEASURES value over a variable's matched rows. ``agg`` may
    carry a logical offset as ``first:N`` / ``last:N`` (SQL
    ``FIRST(V.col, N)`` navigation — MatchCodeGenerator's
    LogicalNavigation); out-of-range offsets are NULL, the reference's
    behavior. ``col == "*"`` with count is ``COUNT(*)`` (all rows);
    otherwise COUNT skips NULLs per SQL."""
    agg, _, off = agg.partition(":")
    offset = int(off) if off else 0
    if agg == "count":
        # COUNT over an unbound variable is 0, not NULL
        if col == "*":
            return len(slice_df)
        return int(slice_df[col].notna().sum()) if len(slice_df) else 0
    if len(slice_df) == 0:
        return None
    if agg == "first":
        return slice_df.iloc[offset][col] if offset < len(slice_df) else None
    if agg == "last":
        return (
            slice_df.iloc[-1 - offset][col] if offset < len(slice_df) else None
        )
    if agg == "sum":
        if slice_df[col].isna().all():
            return None  # SQL SUM over all-NULL is NULL
        if grid_scale is not None:
            # exact grid arithmetic (same device as the streaming
            # over-agg): sum integer grid units, never accumulate floats
            q = 10 ** grid_scale
            return float((slice_df[col] * q).round().astype("int64").sum()) / q
        return slice_df[col].sum()
    if agg == "avg":
        return None if slice_df[col].isna().all() else slice_df[col].mean()
    if agg == "min":
        return slice_df[col].min()
    if agg == "max":
        return slice_df[col].max()
    raise ValueError(f"unsupported agg {agg} (one of {_AGGS})")


def match_regex_measures(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    symbol: Column,
    pattern: str,
    id_col: str,
    measures: dict[str, tuple[str, str, str, str]],
    value_cols: Sequence[str] = (),
    grid_scale: int | None = None,
    within_ms: int | None = None,
    skip: str = "past_last_row",
    order_spec: Sequence[tuple[str, bool]] | None = None,
) -> DataFrame:
    """Regex-tier pattern matching with per-variable MEASURES
    (StreamExecMatch.java MEASURES clause; MATCH_RECOGNIZE
    FIRST/LAST/SUM/COUNT/MIN/MAX/AVG over a pattern variable's rows,
    with logical offsets ``first:N``/``last:N`` and the universal
    variable ``"*"`` = the whole match).

    Pattern variables are regex *named groups* — quantifiers go inside
    the group (``(?P<C>c+)(?P<P>p)``), so each group's span covers the
    variable's full matched run. ``measures`` maps output alias ->
    (group, agg, column, spark_type); ``column`` must be ``ts_col``,
    ``id_col`` or listed in ``value_cols``. ``grid_scale`` makes SUM
    exact on a fixed decimal grid (events.value is scale 2) so results
    are engine-portable. ``order_spec`` generalizes the sort to the SQL
    ORDER BY list as (internal column, ascending) pairs (the
    reference's RowtimeComparator + secondary orders); default
    (__ts, __id) ascending. Matches are leftmost, non-overlapping
    (AFTER MATCH SKIP PAST LAST ROW). One shuffle on the key; per-key
    work is linear in rows, the CepOperator cost model.
    """
    _check_skip(skip)
    for alias, (var, agg, col, _t) in measures.items():
        _check_agg(alias, agg)
    tagged = df.select(
        *keys,
        F.col(ts_col).alias("__ts"),
        F.col(id_col).alias("__id"),
        *value_cols,
        symbol.alias("__sym"),
    )
    key_types = dict(tagged.dtypes)
    out_fields = ", ".join(f"{k} {key_types[k]}" for k in keys)
    m_fields = ", ".join(f"{a} {t}" for a, (_v, _g, _c, t) in measures.items())
    schema = f"{out_fields}, match_no int, {m_fields}"
    sort_cols, sort_asc = _sort_spec(order_spec)

    def col_name(c: str) -> str:
        return "__ts" if c == ts_col else "__id" if c == id_col else c

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            sort_cols, ascending=sort_asc, kind="mergesort"
        ).reset_index(drop=True)
        sym = "".join(pdf["__sym"].tolist())
        rows = []
        keyvals = [pdf.iloc[0][k] for k in keys]
        rx = re.compile(pattern)
        for m_no, m in enumerate(
            _scan_matches(rx, sym, pdf["__ts"], within_ms, skip)
        ):
            vals = []
            for _alias, (var, agg, col, _t) in measures.items():
                s, e = m.span(0) if var == "*" else m.span(var)
                vals.append(
                    _measure_value(
                        pdf.iloc[s:e],
                        agg,
                        col if col == "*" else col_name(col),
                        grid_scale,
                    )
                )
            rows.append((*keyvals, m_no, *vals))
        return pd.DataFrame(rows, columns=[*keys, "match_no", *measures])

    return _apply_per_key(tagged, keys, fn, schema)


def match_regex_all_rows(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    symbol: Column,
    pattern: str,
    id_col: str,
    measures: dict[str, tuple[str, str, str, str]],
    value_cols: Sequence[str] = (),
    grid_scale: int | None = None,
    within_ms: int | None = None,
    skip: str = "past_last_row",
    order_spec: Sequence[tuple[str, bool]] | None = None,
) -> DataFrame:
    """ALL ROWS PER MATCH tier: one output row per matched EVENT with
    RUNNING measure semantics (CepOperator.java:82 emitting per-row,
    MatchCodeGenerator.scala's runtime-RUNNING evaluation; SQL-standard
    ALL ROWS PER MATCH).

    Output per matched row: keys, the row's own (ts, id, value_cols),
    ``match_no`` (0-based per key), ``classifier`` (the pattern variable
    the row is bound to — CLASSIFIER()), then each measure evaluated
    over the variable's rows *up to and including the current row*:
    COUNT counts the variable's rows seen so far (0 before its first),
    FIRST/LAST/SUM/MIN/MAX over that running slice (NULL while empty).
    Matches are leftmost, non-overlapping (AFTER MATCH SKIP PAST LAST
    ROW). Same scale shape as the one-row tier: one shuffle on the key,
    per-key work linear in rows x matched-span length.
    """
    _check_skip(skip)
    for alias, (_var, agg, _col, _t) in measures.items():
        _check_agg(alias, agg)
    tagged = df.select(
        *keys,
        F.col(ts_col).alias("__ts"),
        F.col(id_col).alias("__id"),
        *value_cols,
        symbol.alias("__sym"),
    )
    types = dict(tagged.dtypes)
    out_fields = ", ".join(f"{k} {types[k]}" for k in keys)
    row_fields = f"{ts_col} {types['__ts']}, {id_col} {types['__id']}"
    for c in value_cols:
        row_fields += f", {c} {types[c]}"
    m_fields = ", ".join(f"{a} {t}" for a, (_v, _g, _c, t) in measures.items())
    schema = (
        f"{out_fields}, {row_fields}, match_no int, classifier string, {m_fields}"
    )

    sort_cols, sort_asc = _sort_spec(order_spec)

    def col_name(c: str) -> str:
        return "__ts" if c == ts_col else "__id" if c == id_col else c

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            sort_cols, ascending=sort_asc, kind="mergesort"
        ).reset_index(drop=True)
        sym = "".join(pdf["__sym"].tolist())
        out = []
        keyvals = [pdf.iloc[0][k] for k in keys]
        m_no = 0
        rx = re.compile(pattern)
        for m in _scan_matches(rx, sym, pdf["__ts"], within_ms, skip):
            spans = {v: m.span(v) for v in m.re.groupindex}
            for r in range(m.start(), m.end()):
                row = pdf.iloc[r]
                classifier = next(
                    (v for v, (s, e) in spans.items() if s <= r < e), None
                )
                vals = []
                for _alias, (var, agg, col, _t) in measures.items():
                    s, e = m.span(0) if var == "*" else m.span(var)
                    hi = min(r + 1, e)
                    sl = pdf.iloc[s:hi] if 0 <= s < hi else pdf.iloc[0:0]
                    vals.append(
                        _measure_value(
                            sl,
                            agg,
                            col if col == "*" else col_name(col),
                            grid_scale,
                        )
                    )
                out.append(
                    (
                        *keyvals,
                        row["__ts"],
                        row["__id"],
                        *[row[c] for c in value_cols],
                        m_no,
                        classifier,
                        *vals,
                    )
                )
            m_no += 1
        return pd.DataFrame(
            out,
            columns=[
                *keys,
                ts_col,
                id_col,
                *value_cols,
                "match_no",
                "classifier",
                *measures,
            ],
        )

    return _apply_per_key(tagged, keys, fn, schema)


# The non-empty guard step: fails a completion that binds no row. The
# Pattern API ends every compiled pattern with it (the reference never
# emits an empty match), so the walk backtracks past an empty
# completion instead of committing to it.
NONEMPTY = ("", "!0")


@functools.lru_cache(maxsize=256)
def _parse_loop_quant(q: str):
    """Parse a loop token (grammar in :func:`nfa_walk`) into ``(min_n,
    max_n, pref, relaxed, combinations, entry)``, or None when ``q`` is
    not a loop. ``pref`` is ``""`` (greedy), ``"?"`` (reluctant) or
    ``"g"`` (possessive); ``entry`` is ``""``, ``"e"`` or ``"a"``."""
    m = re.fullmatch(r"([+*]|\{(\d+),(\d*)\})([?g]?)(~c?)?([ea]?)", q)
    if m is None:
        return None
    count, lo, hi, pref, contig, entry = m.groups()
    if count == "+":
        min_n, max_n = 1, None
    elif count == "*":
        min_n, max_n = 0, None
    else:
        min_n, max_n = int(lo), int(hi) if hi else None
    return min_n, max_n, pref, contig is not None, contig == "~c", entry


@functools.lru_cache(maxsize=256)
def _parse_one_quant(q: str) -> tuple[str, str]:
    """Split a one-row token (grammar in :func:`nfa_walk`) into ``(base,
    entry)``; unknown tokens raise."""
    base, entry = (q[:-1], q[-1]) if q.endswith(("e", "a")) else (q, "")
    if base not in ("1", "?", "??", "?g", "?<") or (
        entry == "a" and base in ("?g", "?<")
    ):
        raise ValueError(f"unknown quantifier {q!r}")
    return base, entry


def nfa_walk(
    rows: list,
    start: int,
    steps: Sequence[tuple[str, str]],
    defines: dict,
    within_ms: int | None,
    multi_vars: frozenset | set = frozenset(),
    untils: dict | None = None,
    within_type: str = "first",
    stops: dict | None = None,
):
    """The backtracking linear NFA (nfa/NFA.java's per-state predicate
    evaluation over the partial match, NFACompiler's state graph) that
    every CEP surface runs on: the SQL MATCH_RECOGNIZE tiers
    (:func:`match_nfa`, ``streaming/cep_stream.streaming_cep_nfa_within``)
    take ``next(nfa_walk(...), None)``, the DataStream Pattern API
    (``datastream/cep.py``) takes the first match or enumerates all.

    Returns an iterator over every ``(end, bindings)`` the NFA accepts
    from the anchor ``start``, in preference order; ``bindings`` maps
    var -> list of row indices. ``rows`` are dicts with ``__ts`` plus
    value columns;
    ``defines[var]`` is ``fn(row, ctx) -> bool`` where ``ctx`` maps each
    bound variable to its rows, including ``var``'s rows taken earlier
    in the current run (variables without an entry accept any row).
    ``within_ms`` prunes rows at or past ``start_ts + within`` (Flink
    times a partial match out when ``ts - start >= within``); with
    ``within_type="previous"`` (Pattern.within(d, WithinType):266) it
    bounds the gap between CONSECUTIVE matched rows instead.

    Steps are DETERMINISTIC: choices are tried in preference order and
    the first choice whose continuation yields any match commits.
    Variables in ``multi_vars`` (the Pattern API's non-greedy loops and
    optionals under AfterMatchSkipStrategy.noSkip) instead fork every
    viable choice, shortest first. ``untils[var]`` stops a loop before
    the first row it accepts (Pattern.until:228); ``stops[var]`` is a
    notFollowedBy condition no entry scan into ``var`` may step over.
    A completion binding no row is returned like any other; append
    :data:`NONEMPTY` to reject it.

    Quantifier grammar (each token has one meaning):

    - ``1`` exactly one row; ``?`` greedy optional (take first, then
      skip); ``??`` reluctant optional (skip first);
    - ``?g`` possessive optional: takes the row whenever it accepts and
      never retries the skip (the SQL ``{n,m}`` greedy tail);
    - ``?<`` the Flink-SQL optional: the reference drops the greedy
      property for optionals (CommonExecMatch.applyQuantifier), so both
      branches live and the EARLIER completion wins, ties preferring
      the take (MatchRecognizeITCase.testAggregates pins countD = 0);
    - loops ``+`` ``*`` ``{a,b}`` ``{a,}`` (Pattern.times /
      timesOrMore) followed by a preference: none = greedy
      (longest first, backtracking to shorter runs), ``?`` = reluctant
      (shortest first), ``g`` = possessive (the maximal run only; a
      failed continuation dies instead of yielding rows back — SQL
      greedy loops, pinned by MatchRecognizeITCase.testLogicalOffsets);
    - loop contiguity suffix: none = strict (the run ends at the first
      non-accepting row), ``~`` = relaxed (Pattern.java:437 — rows
      failing the loop condition may sit between repetitions), ``~c``
      = allowCombinations (Pattern.allowCombinations:452 — matching
      rows may be skipped too; the first repetition is fixed);
    - entry suffix on any one- or loop token: none = the first row must
      sit at the current position (next()), ``e`` = followedBy (the
      FIRST accepting row later on is taken; a failed continuation
      dies rather than trying a later candidate — the NFA ignore edge
      cannot skip a matching event), ``a`` = followedByAny (every
      accepting position forks); ``?g`` and ``?<`` take no ``a``;
    - non-consuming checks: ``!n`` notNext (the row at the position
      must not match), ``!f`` terminal notFollowedBy with within (no
      in-window row may match), ``!0`` the :data:`NONEMPTY` guard;
    - ``("G", substeps, quant, consecutive, entry_name, times_optional)``
      a group pattern (Pattern.begin(Pattern), Pattern.java:573): each
      repetition matches the whole sub-sequence.
    """
    # time bounds in int ns (cheaper than Timestamp arithmetic per row)
    deadline = prev_gap = None
    if within_ms is not None:
        if within_type == "first":
            deadline = pd.Timestamp(rows[start]["__ts"]).value + within_ms * 1_000_000
        elif within_type == "previous":
            prev_gap = within_ms * 1_000_000
    untils = untils or {}
    stops = stops or {}

    def in_window(i: int) -> bool:
        return i < len(rows) and (
            deadline is None or pd.Timestamp(rows[i]["__ts"]).value < deadline
        )

    def step(seq, pos: int, si: int, bound: dict, cont, out: list) -> None:
        # continuation-passing walk: ``seq`` is the (sub-)pattern being
        # matched, ``cont(pos, bound, out)`` matches the rest of the
        # ENCLOSING pattern and appends each full completion to ``out``
        # — group patterns recurse by walking the group body with a
        # continuation that matches the next repetition / outer tail
        if si == len(seq):
            cont(pos, bound, out)
            return
        var, quant = seq[si]
        if isinstance(quant, tuple):
            group_step(seq, pos, si, bound, cont, out, quant)
            return
        if quant == "!0":
            if any(bound.values()):
                step(seq, pos, si + 1, bound, cont, out)
            return
        pred = defines.get(var)

        # ctx is built at most ONCE per step invocation (``bound`` is
        # fixed for its duration) and this variable's row list is synced
        # INCREMENTALLY against cur_taken, so a loop's maximal-run scan
        # stays linear instead of rebuilding every bound row list per
        # acceptance test
        ctx = own = synced = None
        n_base = 0

        def ctx_for(cur_taken: Sequence[int]) -> dict:
            nonlocal ctx, own, synced, n_base
            if ctx is None:
                ctx = {v: [rows[j] for j in idxs] for v, idxs in bound.items()}
                own = ctx[var] = list(ctx.get(var, ()))
                n_base = len(own)
                synced = ()
            if cur_taken is not synced:
                del own[n_base:]
                if cur_taken:
                    own.extend([rows[j] for j in cur_taken])
                synced = cur_taken
            elif (n := len(own) - n_base) + 1 == len(cur_taken):
                own.append(rows[cur_taken[-1]])  # the loop scan's append
            elif n != len(cur_taken):
                # the same list changed length otherwise: a shrunk list
                # must not leave stale rows
                del own[n_base + len(cur_taken):]
                own.extend([rows[j] for j in cur_taken[n:]])
            return ctx

        def accepts(i: int, cur_taken: Sequence[int]) -> bool:
            # callers have checked in_window(i)
            if prev_gap is not None:
                last = max(
                    (j for idxs in bound.values() for j in idxs),
                    default=max(cur_taken, default=None),
                )
                if cur_taken:
                    last = max(last, cur_taken[-1]) if last is not None else cur_taken[-1]
                if last is not None and (
                    pd.Timestamp(rows[i]["__ts"]).value
                    - pd.Timestamp(rows[last]["__ts"]).value
                ) >= prev_gap:
                    return False
            if pred is None:
                return True
            return bool(pred(rows[i], ctx_for(cur_taken)))

        stop_pred = stops.get(var)

        def stopped(i: int) -> bool:
            return stop_pred is not None and bool(stop_pred(rows[i], ctx_for(())))

        def bind(idxs: list) -> dict:
            return {**bound, var: bound.get(var, []) + idxs} if idxs else bound

        # every branch below lists its choices of (next pos, bindings) in
        # preference order; ``fork`` continues ALL of them, otherwise the
        # first choice whose continuation yields any match commits
        skip = (pos, bound)
        fork = False
        if quant == "!n":
            # notNext (Pattern.notNext:294): the row AT pos must not
            # match; nothing is consumed (NFA stop state)
            choices = [] if in_window(pos) and accepts(pos, ()) else [skip]
        elif quant == "!f":
            # terminal notFollowedBy-with-within (Pattern.notFollowedBy
            # :325, FLINK-23122): no in-window row from pos on may match
            i = pos
            while in_window(i) and not accepts(i, ()):
                i += 1
            choices = [] if in_window(i) else [skip]
        elif (loop := _parse_loop_quant(quant)) is None:
            base, sfx = _parse_one_quant(quant)
            takes = []
            i = pos
            while in_window(i):
                if sfx == "a" and stopped(i):
                    break  # stop state: cannot scan past
                if accepts(i, ()):
                    takes.append((i + 1, bind([i])))
                    if sfx != "a":
                        break  # next / followedBy: the FIRST accepting row
                elif not sfx or (sfx == "e" and stopped(i)):
                    break  # strict: only the row AT pos
                i += 1
            if base == "?<":
                # both branches live: the EARLIER completion wins, a tie
                # keeps the take (listed first)
                branches = []
                for np, nb in [*takes, skip]:
                    branches.append([])
                    step(seq, np, si + 1, nb, cont, branches[-1])
                live = [(b[0][0], n) for n, b in enumerate(branches) if b]
                if live:
                    out.extend(branches[min(live)[1]])
                return
            if sfx == "a":
                # followedByAny: every accepting position forks
                choices = takes if base == "1" else [*takes, skip]
                fork = True
            elif base == "1":
                choices = takes
            elif base == "?g":
                choices = takes or [skip]
            else:
                choices = [skip, *takes] if base == "??" else [*takes, skip]
                # a non-greedy OPTIONAL under noSkip branches like a
                # {0,1} loop (the reference docs' {C B} alongside {C A1 B})
                fork = var in multi_vars
        else:
            min_n, max_n, pref, relaxed, combos, entry = loop
            if entry == "a":
                # followedByAny loop: every viable FIRST-repetition
                # position forks; each candidate runs the count scan
                # anchored there with min >= 1 (the zero-repetition
                # branch emits ONCE)
                anchored_q = (
                    f"{{{max(1, min_n)},{'' if max_n is None else max_n}}}"
                    + pref
                    + ("~c" if combos else "~" if relaxed else "")
                    + "e"
                )
                if min_n == 0:
                    step(seq, pos, si + 1, bound, cont, out)
                i = pos
                while in_window(i) and not stopped(i):
                    if accepts(i, ()):
                        step([(var, anchored_q), *seq[si + 1 :]], i, 0, bound, cont, out)
                    i += 1
                return
            # relaxed-entry loops (FOLLOWED_BY connection) find their own
            # first repetition past non-matching rows — a zero-repetition
            # success must not starve the positive branches
            first = pos
            blocked = False
            if entry:
                while in_window(first) and not accepts(first, ()):
                    if stopped(first):
                        blocked = True  # stop state: cannot scan past
                        break
                    first += 1
            fork = var in multi_vars
            if combos and fork:
                # allowCombinations: the loop's FIRST repetition is
                # fixed, then any in-order subset of later accepting rows
                # may follow; predicates re-evaluate against the actual
                # chosen prefix, so iterative conditions stay correct
                choices = [skip] if min_n == 0 else []
                if in_window(first) and accepts(first, ()):

                    def rec(chosen: list) -> None:
                        if len(chosen) >= max(min_n, 1):
                            choices.append((chosen[-1] + 1, bind(chosen)))
                        if max_n is not None and len(chosen) >= max_n:
                            return
                        for j in range(chosen[-1] + 1, len(rows)):
                            if not in_window(j):
                                break
                            if accepts(j, chosen):
                                rec(chosen + [j])

                    rec([first])
            else:
                # scan the candidate run once (prefix validity is
                # history-consistent): strict ends at the first
                # non-accepting row; relaxed steps over it but never
                # skips a matching row
                taken: list[int] = []
                i = first
                u = untils.get(var)
                while not blocked and in_window(i) and (max_n is None or len(taken) < max_n):
                    if u is not None and u(rows[i], ctx_for(taken)):
                        break  # until: stop BEFORE the matching row
                    if accepts(i, taken):
                        taken.append(i)
                    elif not relaxed or not taken:
                        break
                    i += 1
                hi = len(taken)
                if pref == "g":
                    ns = [hi] if hi >= min_n else []
                elif pref == "?" or fork:
                    ns = range(min_n, hi + 1)
                else:
                    ns = range(hi, min_n - 1, -1)
                # lazy: a committed greedy choice builds no shorter run
                choices = ((taken[n - 1] + 1, bind(taken[:n])) if n else skip for n in ns)
        for np, nb in choices:
            n_out = len(out)
            step(seq, np, si + 1, nb, cont, out)
            if len(out) > n_out and not fork:
                return

    def group_step(seq, pos, si, bound, cont, out, gspec):
        """A GROUP step: gspec = ("G", substeps, gq, consecutive,
        entry_name, times_optional). Repetitions match ALL-OR-NOTHING
        (the whole sub-sequence); between repetitions contiguity is
        relaxed unless consecutive() (Pattern.java:437 applies to group
        loops too). Counts enumerate shortest-first — the reference's
        non-greedy group loop under noSkip emits every viable count;
        exact times(n) pins one."""
        _tag, substeps, gq, consecutive, entry_name, times_opt = gspec
        if gq in ("1", "?", "??"):
            min_n, max_n = (1, 1) if gq == "1" else (0, 1)
        else:
            lp = _parse_loop_quant(gq)
            if lp is None:
                raise ValueError(f"unsupported group quantifier {gq!r}")
            min_n, max_n = lp[0], lp[1]
        gap = [] if consecutive else [(f"__gskip{si}", "*?")]
        entry_gap = [(entry_name, "*?")] if entry_name else []

        def grow(p, b, o, done):
            if done >= min_n or (done == 0 and times_opt):
                # times(n).optional(): the zero-count branch joins a
                # non-zero exact/range count (Quantifier.optional)
                step(seq, p, si + 1, b, cont, o)
            if max_n is not None and done >= max_n:
                return
            rep = [*entry_gap, *substeps] if done == 0 else [*gap, *substeps]
            step(rep, p, 0, b, lambda p2, b2, o2, _d=done: grow(p2, b2, o2, _d + 1), o)

        grow(pos, bound, out, 0)

    def done(pos, bound, out):
        out.append((pos, bound))

    # eager: a walk without forking steps has at most one completion
    # (each step commits to one choice), so the first match costs the
    # same as all of them
    out: list = []
    step(steps, start, 0, {}, done, out)
    return iter(out)


def nfa_timed_out_partial(
    rows: list,
    start: int,
    steps: Sequence[tuple[str, str]],
    defines: dict,
    within_ms: int | None,
):
    """The partial match an unmatched anchor hands to the reference's
    TimedOutPartialMatchHandler when its WITHIN horizon expires
    (CepOperator.java's timeout path; PatternStream.select's timeout
    variant): the first match of the LONGEST proper pattern prefix that
    the walk completes from ``start``, as ``var -> [row indices]`` over
    the named (non-``__``) variables — or None when no prefix binds one
    (no computation ever started at this anchor). One branch only, the
    walk's preferred one: the deterministic single-partial
    approximation of the reference's per-branch timeout emission."""
    body = [st for st in steps if st != NONEMPTY]
    for k in range(len(body) - 1, 0, -1):
        m = next(nfa_walk(rows, start, [*body[:k], NONEMPTY], defines, within_ms), None)
        if m is not None:
            named = {v: idxs for v, idxs in m[1].items() if not v.startswith("__")}
            if any(named.values()):
                return named
    return None


def match_nfa(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    id_col: str,
    steps: Sequence[tuple[str, str]],
    defines: dict,
    measures: dict[str, tuple[str, str, str, str]],
    value_cols: Sequence[str] = (),
    grid_scale: int | None = None,
    within_ms: int | None = None,
    skip: str = "past_last_row",
    all_rows: bool = False,
    order_spec: Sequence[tuple[str, bool]] | None = None,
) -> DataFrame:
    """Linear-pattern NFA with cross-variable DEFINE predicates — the
    full MATCH_RECOGNIZE DEFINE semantics the regex tier cannot
    express (CepOperator.java:82 / nfa/NFA.java: predicates evaluated
    per row against the partial match's bound rows). ``skip`` selects
    the AFTER MATCH strategy with the same matrix as the regex tiers
    (nfa/aftermatch/*Strategy.java): ``"past_last_row"`` (default),
    ``"to_next_row"``, or ``("to_first"|"to_last", var)`` — resuming at
    or before the match's own start raises, like the reference.
    ``all_rows=True`` switches to ALL ROWS PER MATCH emission (the
    ``match_regex_all_rows`` dual): one output row per BOUND event —
    keys, the row's own (ts, id, value_cols), match_no, classifier,
    then each measure with RUNNING semantics over the variable's bound
    rows up to and including the current row.

    ``steps`` is the linear pattern: (variable, quantifier) in the
    grammar of :func:`nfa_walk`, whose first match per anchor is taken
    (a completion binding no row is no match).
    ``defines[var]`` is ``fn(row, ctx) -> bool`` where ``row`` is the
    candidate row as a dict and ``ctx`` maps each variable to its
    already-bound rows in the current partial match — so a predicate
    can express ``B.value > FIRST(A.value)`` as
    ``row["value"] > ctx["A"][0]["value"]``. Variables without an entry
    accept any row. Matching is leftmost, greedy, AFTER MATCH SKIP PAST
    LAST ROW. ``measures`` as in :func:`match_regex_measures`, over the
    rows bound to each variable.

    ``within_ms`` applies the WITHIN timeout per partial match (a row
    beyond start_ts + within cannot extend the match — the NFA's
    pruning), so a timed-out greedy start still yields to later starts.

    Scale: one shuffle on the key; per-key the matcher walks the rows
    once per start position with backtracking bounded by run lengths —
    the same keyed-NFA state profile as the reference's CepOperator.
    """
    _check_skip(skip)
    for alias, (_var, agg, _col, _t) in measures.items():
        _check_agg(alias, agg)
    tagged = df.select(
        *keys,
        F.col(ts_col).alias("__ts"),
        F.col(id_col).alias("__id"),
        *value_cols,
    )
    key_types = dict(tagged.dtypes)
    out_fields = ", ".join(f"{k} {key_types[k]}" for k in keys)
    m_fields = ", ".join(f"{a} {t}" for a, (_v, _g, _c, t) in measures.items())
    if all_rows:
        row_fields = f"{ts_col} {key_types['__ts']}, {id_col} {key_types['__id']}"
        for c in value_cols:
            row_fields += f", {c} {key_types[c]}"
        schema = (
            f"{out_fields}, {row_fields}, match_no int, classifier string, "
            f"{m_fields}"
        )
        all_rows_cols = [
            *keys, ts_col, id_col, *value_cols, "match_no", "classifier",
            *measures,
        ]
    else:
        schema = f"{out_fields}, match_no int, {m_fields}"

    sort_cols, sort_asc = _sort_spec(order_spec)

    def col_name(c: str) -> str:
        return "__ts" if c == ts_col else "__id" if c == id_col else c

    def _var_idxs(bound: dict, var: str) -> list:
        if var == "*":  # universal variable: every bound row, in order
            return sorted({i for idxs in bound.values() for i in idxs})
        return bound.get(var, [])

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            sort_cols, ascending=sort_asc, kind="mergesort"
        ).reset_index(drop=True)
        rows = pdf.to_dict("records")
        out = []
        keyvals = [pdf.iloc[0][k] for k in keys]
        pos, m_no = 0, 0
        while pos < len(rows):
            res = next(nfa_walk(rows, pos, steps, defines, within_ms), None)
            if res is None or res[0] == pos:
                pos += 1
                continue
            end, bound = res
            if all_rows:
                owner = {}
                for var, idxs in bound.items():
                    for i in idxs:
                        owner.setdefault(i, var)
                for r in sorted(owner):
                    row = rows[r]
                    vals = []
                    for _alias, (var, agg, col, _t) in measures.items():
                        run = [i for i in _var_idxs(bound, var) if i <= r]
                        vals.append(
                            _measure_value(
                                pdf.iloc[run],
                                agg,
                                col if col == "*" else col_name(col),
                                grid_scale,
                            )
                        )
                    out.append(
                        (
                            *keyvals,
                            row["__ts"],
                            row["__id"],
                            *[row[c] for c in value_cols],
                            m_no,
                            owner[r],
                            *vals,
                        )
                    )
            else:
                vals = []
                for _alias, (var, agg, col, _t) in measures.items():
                    idxs = _var_idxs(bound, var)
                    vals.append(
                        _measure_value(
                            pdf.iloc[idxs],
                            agg,
                            col if col == "*" else col_name(col),
                            grid_scale,
                        )
                    )
                out.append((*keyvals, m_no, *vals))
            m_no += 1
            if skip == "past_last_row":
                pos = end
            elif skip == "to_next_row":
                pos = pos + 1
            else:
                mode, var = skip
                idxs = bound.get(var, [])
                target = -1 if not idxs else (idxs[0] if mode == "to_first" else idxs[-1])
                if not idxs or target <= pos:
                    raise ValueError(
                        f"AFTER MATCH SKIP {mode} {var!r} would not "
                        "advance past the match start (the reference "
                        "raises here too)"
                    )
                pos = target
        cols = all_rows_cols if all_rows else [*keys, "match_no", *measures]
        return pd.DataFrame(out, columns=cols)

    return _apply_per_key(tagged, keys, fn, schema)
