"""Custom stateful streaming operator via ``applyInPandasWithState``.

Beyond-reference capability (the reference has no stateful execution at
all — SURVEY.md §2.5). Pattern demonstrated: per-key state that
survives across micro-batches (running totals, transitions, DFA pattern
counts, attribution carries). No operator sets a state timeout: each
key's state is bounded by construction (a few scalars, or the touches
inside a fixed lookback), so nothing needs evicting.

State is per-key and partitioned by Spark's shuffle on the grouping key,
so the operator scales horizontally: each executor holds state only for
its key range; the state store checkpoints incrementally.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql import types as T

RUNNING_TOTALS_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("total", T.DoubleType()),
    ]
)


def _update_totals(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    n, total = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        n += int(len(pdf))
        total += float(pdf["value"].sum())
    state.update((n, total))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
    )


def _project(sdf: DataFrame, *cols: str) -> DataFrame:
    """Narrow the stream to the columns the state function actually
    reads BEFORE the groupBy: Spark cannot see inside a pandas state
    function, so without this every batch ships the full event row
    (including the wide ``props`` JSON string) through the Arrow
    JVM→Python boundary and the state-shuffle — and the parquet scan
    reads the dropped columns too (guide §4.1: pass only the columns
    the function needs). Pure column pruning: values and semantics are
    untouched."""
    return sdf.select(*cols)


def running_totals(sdf: DataFrame) -> DataFrame:
    """Per-user running (count, sum(value)) updated every micro-batch.

    Output mode must be ``update``: one refreshed row per user per batch
    in which that user appeared.
    """
    sdf = _project(sdf, "user_id", "value")
    return sdf.groupBy("user_id").applyInPandasWithState(
        _update_totals,
        outputStructType=RUNNING_TOTALS_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- per-user transition tracking (cross-batch value state) ---------------

TRANSITIONS_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("next_type", T.StringType()),
    ]
)

_LAST_TYPE_SCHEMA = T.StructType([T.StructField("t", T.StringType())])


def _update_transitions(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Emit consecutive event-type pairs per user. State holds the
    user's LAST event type so the first row of batch N pairs with the
    last row of batch N-1 — the cross-batch bridge a window function
    over one batch cannot produce. Rows sort by (ts, event_id) inside
    the batch, the identical tie-break to the batch lead() window;
    event-time order ACROSS batches is the file-source arrival order,
    the same assumption as every watermarked operator here.

    (Authored against the Spark 4 transformWithStateInPandas API first;
    this container's python worker lacks a working google.protobuf, so
    the processor runs on applyInPandasWithState — semantics are
    identical for a single value state with no timers.)
    """
    pdf = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
    types = pdf["event_type"].tolist()
    prev = ([state.get[0]] if state.exists else []) + types
    state.update((types[-1],))
    pairs = list(zip(prev[:-1], prev[1:]))
    if pairs:
        yield pd.DataFrame(
            {
                "user_id": [key[0]] * len(pairs),
                "event_type": [a for a, _ in pairs],
                "next_type": [b for _, b in pairs],
            }
        )


def stream_transitions(sdf: DataFrame) -> DataFrame:
    """(user_id, event_type, next_type) append-mode rows — each
    transition emitted exactly once, state = one string per user."""
    sdf = _project(sdf, "user_id", "ts", "event_id", "event_type")
    return sdf.groupBy("user_id").applyInPandasWithState(
        _update_transitions,
        outputStructType=TRANSITIONS_SCHEMA,
        stateStructType=_LAST_TYPE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- per-user sequence pattern matching (streaming CEP) --------------------

PATTERN_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("n_matches", T.LongType()),
    ]
)

#: (dfa_state, events_consumed, matches) — the WHOLE per-user footprint.
#: This is the CEP scaling argument: the batch twin holds each user's
#: full code string before the regex runs, the streaming matcher holds
#: a 3-integer automaton state regardless of history length.
_DFA_STATE_SCHEMA = T.StructType(
    [
        T.StructField("s", T.IntegerType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("n_matches", T.LongType()),
    ]
)

#: events consumed per user before the matcher stops — the identical
#: state-bound the batch twin (queries/windows.events_pattern_match)
#: applies via row_number, so stream == batch is exact by construction
PATTERN_EVENT_CAP = 512


def dfa_step(s: int, c: str) -> tuple[int, int]:
    """One transition of the v c* p matcher; returns (state, emitted).
    States: 0 = no pending start, 1 = seen v, 2 = seen v c+. A 'v' in
    states 1/2 RESTARTS the candidate (the leftmost scan's re-anchor),
    matching Java/RE2 non-overlapping regex semantics exactly
    (property-tested against re.findall in tests)."""
    if c == "v":
        return 1, 0
    if s in (1, 2):
        if c == "p":
            return 0, 1
        if c == "c":
            return 2, 0
    return 0, 0


def _pattern_updater(step: Callable[[int, str], tuple[int, int]], start: int):
    """The streaming half of events_pattern_match, for one DFA given by
    its ``step`` function and ``start`` state: the regex is compiled to
    an explicit DFA whose CURRENT STATE is the only thing carried across
    micro-batches — Flink-CEP's design (pattern → NFA, per-key automaton
    state), which is what makes sequence matching bounded-state at
    100 TB: no per-user history is ever stored, only (state, counters).
    Rows sort by (ts, event_id) inside the batch — the batch twin's
    exact tie-break; cross-batch event-time order is the file-source
    arrival order, as for every stateful operator here."""

    def update(
        key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        s, n_events, n_matches = state.get if state.exists else (start, 0, 0)
        pdf = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
        for c in pdf["event_type"].str[0].tolist():
            if n_events >= PATTERN_EVENT_CAP:
                break
            n_events += 1
            s, hit = step(s, c)
            n_matches += hit
        state.update((s, n_events, n_matches))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n_events],
                "n_matches": [n_matches],
            }
        )

    return update


def stream_pattern_match(sdf: DataFrame, pattern: str | None = None) -> DataFrame:
    """Per-user sequence-pattern match counts, refreshed each
    micro-batch (update mode). Counters are monotone per user, so the
    stream's final answer is max() per user over the sink — the
    consumer's last-row extraction.

    ``pattern=None`` runs the registered v→c*→p matcher (dfa_step,
    hash-matched against the regexp_count batch oracle). Any other
    pattern over the single-char event-code alphabet is COMPILED to a
    DFA driver-side (streaming/cep.py — regex → Thompson NFA → subset
    construction) and counted with earliest-end non-overlapping
    semantics; the per-user state stays the same 3 integers
    regardless of pattern complexity."""
    if pattern is None:
        update = _pattern_updater(dfa_step, 0)
    else:
        from xngin_spark.streaming.cep import CompiledPattern

        compiled = CompiledPattern(pattern)
        update = _pattern_updater(compiled.step, compiled.START)

    sdf = _project(sdf, "user_id", "ts", "event_id", "event_type")
    return sdf.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=PATTERN_SCHEMA,
        stateStructType=_DFA_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- streaming last-touch attribution ---------------------------------------

ATTRIBUTION_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("touch_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)

#: the user's current last-touch event type ("" = no touch seen yet)
#: plus the event-time HIGH WATERMARK (ns since epoch) of everything
#: consumed so far — the WHOLE per-user footprint, one short string +
#: one long regardless of how many events the user has produced. The
#: watermark makes the ordering precondition (see _update_attribution)
#: CHECKED instead of assumed: out-of-order arrival raises instead of
#: silently mis-attributing purchases (r9 ADVICE).
_LAST_TOUCH_SCHEMA = T.StructType(
    [
        T.StructField("t", T.StringType()),
        T.StructField("hw", T.LongType()),
    ]
)


def _update_attribution(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Streaming half of events_attribution: each purchase row is
    emitted ONCE (append mode) credited to the user's most recent
    preceding click/view — the carry-forward the batch twin computes
    with a strictly-before window frame. State is one string + one
    long per user (the last touch type and the event-time high
    watermark), so attribution at 100 TB holds O(users) state, never a
    per-user history. Rows sort by (ts, event_id) inside the batch —
    the batch twin's exact tie-break.

    ORDERING PRECONDITION (checked, not assumed): event-time order
    ACROSS micro-batches must follow source arrival order — for the
    file source, files must arrive (mtime order) consistent with the
    event times they carry, as the registered query's synthetic feed
    guarantees by slicing on ts. A source violating it (e.g. a
    backfill file landing late) would attribute purchases against a
    stale carry — so each batch's min ts is asserted >= the per-user
    high-watermark in state and violation RAISES, naming the
    precondition, instead of silently mis-crediting. The emitted value
    is the UNTOUCHED input double (no pandas arithmetic), so the
    consumer's decimal-sum aggregate hash-matches the batch oracle
    bit-for-bit."""
    touch, hw = state.get if state.exists else ("", None)
    pdf = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
    batch_min = int(pdf["ts"].iloc[0].value)
    if hw is not None and batch_min < hw:
        raise ValueError(
            "stream_attribution ordering precondition violated for "
            f"user {key[0]}: batch min event time {batch_min} precedes "
            f"the consumed high-watermark {hw} — micro-batch arrival "
            "order must follow event time (sort/partition the source "
            "feed by ts)"
        )
    # vectorized carry-forward (round 11): the per-event Python loop was
    # the stateful family's one measured constant-factor tax (the sf100
    # stream timeout) — last-touch is a forward-fill, so the whole batch
    # reduces to numpy masks + one pandas ffill. The emitted value stays
    # the untouched input double; the output MULTISET is loop-identical.
    et = pdf["event_type"].to_numpy()
    is_touch = (et == "click") | (et == "view")
    carried = pd.Series(np.where(is_touch, et, None)).ffill().to_numpy()
    is_p = et == "purchase"
    if is_p.any():
        touch_at_p = carried[is_p]
        fallback = touch if touch else "organic"
        touch_at_p = np.where(
            pd.isna(touch_at_p), fallback, touch_at_p
        ).astype(object)
        out = pd.DataFrame(
            {
                "user_id": np.full(int(is_p.sum()), key[0], dtype="int64"),
                "touch_type": touch_at_p,
                "value": pdf["value"].to_numpy()[is_p],
            }
        )
    else:
        out = None
    if is_touch.any():
        touch = str(et[is_touch][-1])
    batch_max = int(pdf["ts"].iloc[-1].value)
    state.update((touch, max(hw, batch_max) if hw is not None else batch_max))
    if out is not None:
        yield out


def stream_attribution(sdf: DataFrame) -> DataFrame:
    """(user_id, touch_type, value) — one append-mode row per purchase,
    credited to the carried last touch. Aggregate the sink with the
    dsum discipline to reproduce the batch attribution report."""
    sdf = _project(sdf, "user_id", "ts", "event_id", "event_type", "value")
    return sdf.groupBy("user_id").applyInPandasWithState(
        _update_attribution,
        outputStructType=ATTRIBUTION_SCHEMA,
        stateStructType=_LAST_TOUCH_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- streaming linear attribution -------------------------------------------

LINEAR_ATTRIBUTION_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("touch_type", T.StringType()),
        T.StructField("credit", T.DoubleType()),
    ]
)

#: (n_clicks, n_views, event-time high watermark in ns) — the whole
#: per-user footprint of LINEAR attribution: because the channel set is
#: {click, view}, "equal split across all preceding touches" reduces to
#: two running counts, so the streaming state is THREE integers however
#: long the user's history grows (the batch twin re-sorts full history
#: per run).
_LINEAR_STATE_SCHEMA = T.StructType(
    [
        T.StructField("nc", T.LongType()),
        T.StructField("nv", T.LongType()),
        T.StructField("hw", T.LongType()),
    ]
)


def _update_attribution_linear(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Streaming half of events_attribution_linear: each purchase emits
    its channel credits ONCE (append mode), split by the carried
    running counts. credit = value * (count / total) in python floats —
    the identical IEEE operation tree as the batch twin's Spark
    expression, so the consumer's micro-unit-truncated sum matches the
    batch report bit-for-bit. Ordering precondition checked against the
    carried high-watermark exactly as stream_attribution does."""
    nc, nv, hw = state.get if state.exists else (0, 0, None)
    pdf = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
    batch_min = int(pdf["ts"].iloc[0].value)
    if hw is not None and batch_min < hw:
        raise ValueError(
            "stream_attribution_linear ordering precondition violated "
            f"for user {key[0]}: batch min event time {batch_min} "
            f"precedes the consumed high-watermark {hw}"
        )
    # vectorized (round 11): linear attribution is two exclusive prefix
    # sums — numpy cumsum replaces the per-event loop (the r8
    # interpreted-HOF lesson applied to the stateful family). The
    # credit expression `val * (nc / tot)` is the same IEEE double
    # division + multiply elementwise, so the sink's micro-unit
    # truncated sums are bit-identical to the loop's (and the batch
    # twin's); the output multiset is loop-identical (organic rows,
    # then click/view rows per purchase, in whatever order — the
    # consumer aggregates by channel).
    et = pdf["event_type"].to_numpy()
    val = pdf["value"].to_numpy()
    is_c = et == "click"
    is_v = et == "view"
    is_p = et == "purchase"
    # clicks/views STRICTLY before each row: carried count + inclusive
    # cumsum minus the row's own contribution
    cc = nc + np.cumsum(is_c) - is_c
    cv = nv + np.cumsum(is_v) - is_v
    if is_p.any():
        pcc = cc[is_p].astype(np.float64)
        pcv = cv[is_p].astype(np.float64)
        pval = val[is_p]
        tot = pcc + pcv
        organic = tot == 0.0
        uid = key[0]
        frames = []
        if organic.any():
            frames.append(
                pd.DataFrame(
                    {
                        "user_id": np.full(int(organic.sum()), uid, "int64"),
                        "touch_type": "organic",
                        "credit": pval[organic],
                    }
                )
            )
        m_click = (~organic) & (pcc > 0)
        if m_click.any():
            frames.append(
                pd.DataFrame(
                    {
                        "user_id": np.full(int(m_click.sum()), uid, "int64"),
                        "touch_type": "click",
                        "credit": pval[m_click]
                        * (pcc[m_click] / tot[m_click]),
                    }
                )
            )
        m_view = (~organic) & (pcv > 0)
        if m_view.any():
            frames.append(
                pd.DataFrame(
                    {
                        "user_id": np.full(int(m_view.sum()), uid, "int64"),
                        "touch_type": "view",
                        "credit": pval[m_view] * (pcv[m_view] / tot[m_view]),
                    }
                )
            )
        out = pd.concat(frames, ignore_index=True) if frames else None
    else:
        out = None
    nc += int(is_c.sum())
    nv += int(is_v.sum())
    batch_max = int(pdf["ts"].iloc[-1].value)
    state.update((nc, nv, max(hw, batch_max) if hw is not None else batch_max))
    if out is not None:
        yield out


def stream_attribution_linear(sdf: DataFrame) -> DataFrame:
    """(user_id, touch_type, credit) — per-purchase channel credits in
    append mode. Aggregate the sink with the micro-unit truncation
    discipline (queries/windows._credit_musum) to reproduce the batch
    linear-attribution report."""
    sdf = _project(sdf, "user_id", "ts", "event_id", "event_type", "value")
    return sdf.groupBy("user_id").applyInPandasWithState(
        _update_attribution_linear,
        outputStructType=LINEAR_ATTRIBUTION_SCHEMA,
        stateStructType=_LINEAR_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- streaming u-shaped attribution ------------------------------------------

#: (first_touch, last_touch, hw) — u-shaped needs exactly TWO carried
#: touches per user (the position-based model only ever credits the
#: first and the most recent), so its streaming state is two short
#: strings + the checked high-watermark, independent of history length.
_USHAPED_STATE_SCHEMA = T.StructType(
    [
        T.StructField("ft", T.StringType()),
        T.StructField("lt", T.StringType()),
        T.StructField("hw", T.LongType()),
    ]
)


def _update_attribution_ushaped(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Streaming half of events_attribution_ushaped: each purchase
    splits 50/50 between the carried FIRST and LAST touch (a single
    touch earns both halves; no touch lands organic whole).
    value * 0.5 is exact IEEE halving — identical bits to the batch
    window expression — so the sink's dsum aggregate hash-matches the
    batch report. Ordering precondition checked via the carried
    high-watermark."""
    ft, lt, hw = state.get if state.exists else ("", "", None)
    pdf = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
    batch_min = int(pdf["ts"].iloc[0].value)
    if hw is not None and batch_min < hw:
        raise ValueError(
            "stream_attribution_ushaped ordering precondition violated "
            f"for user {key[0]}: batch min event time {batch_min} "
            f"precedes the consumed high-watermark {hw}"
        )
    # vectorized (round 11): u-shaped needs only FIRST and LAST touch
    # per purchase — first is a constant once known (carried ft, else
    # the first in-batch touch), last is a forward-fill; both are
    # numpy/pandas primitives. val * 0.5 stays exact IEEE halving
    # elementwise; output multiset is loop-identical (ft-half + lt-half
    # per credited purchase, organic whole otherwise).
    et = pdf["event_type"].to_numpy()
    val = pdf["value"].to_numpy()
    is_touch = (et == "click") | (et == "view")
    is_p = et == "purchase"
    if is_p.any():
        uid = key[0]
        lt_ff = pd.Series(np.where(is_touch, et, None)).ffill().to_numpy()
        idx = np.arange(len(et))
        if ft:
            ft_at_p = np.full(int(is_p.sum()), ft, dtype=object)
        elif is_touch.any():
            fp = int(is_touch.argmax())
            first_et = str(et[fp])
            ft_at_p = np.where(idx[is_p] > fp, first_et, "").astype(object)
        else:
            ft_at_p = np.full(int(is_p.sum()), "", dtype=object)
        lt_at_p = lt_ff[is_p]
        lt_at_p = np.where(
            pd.isna(lt_at_p), lt if lt else "", lt_at_p
        ).astype(object)
        pval = val[is_p]
        organic = ft_at_p == ""
        frames = []
        if organic.any():
            frames.append(
                pd.DataFrame(
                    {
                        "user_id": np.full(int(organic.sum()), uid, "int64"),
                        "touch_type": "organic",
                        "credit": pval[organic],
                    }
                )
            )
        cred = ~organic
        if cred.any():
            half = pval[cred] * 0.5
            n = int(cred.sum())
            frames.append(
                pd.DataFrame(
                    {
                        "user_id": np.full(2 * n, uid, "int64"),
                        "touch_type": np.concatenate(
                            [ft_at_p[cred], lt_at_p[cred]]
                        ),
                        "credit": np.concatenate([half, half]),
                    }
                )
            )
        out = pd.concat(frames, ignore_index=True) if frames else None
    else:
        out = None
    if is_touch.any():
        if not ft:
            ft = str(et[is_touch][0])
        lt = str(et[is_touch][-1])
    batch_max = int(pdf["ts"].iloc[-1].value)
    state.update(
        (ft, lt, max(hw, batch_max) if hw is not None else batch_max)
    )
    if out is not None:
        yield out


def stream_attribution_ushaped(sdf: DataFrame) -> DataFrame:
    """(user_id, touch_type, credit) — per-purchase half-credits in
    append mode; aggregate with the dsum discipline to reproduce the
    batch u-shaped report."""
    sdf = _project(sdf, "user_id", "ts", "event_id", "event_type", "value")
    return sdf.groupBy("user_id").applyInPandasWithState(
        _update_attribution_ushaped,
        outputStructType=LINEAR_ATTRIBUTION_SCHEMA,
        stateStructType=_USHAPED_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- streaming time-decay attribution ----------------------------------------

_TD_HALF_US = 7 * 86400 * 10**6
_TD_BUCKETS = 4

#: (touches, hw) — time-decay must remember each in-lookback touch's
#: timestamp (its weight depends on the Δ to EACH later purchase), so
#: the state is the encoded list of touches still inside the 28-day
#: lookback, pruned as the watermark advances: the prune is sound
#: because the ordering precondition makes Δ monotone — a touch older
#: than the lookback relative to the newest consumed event can never
#: earn credit again. State is O(touches per user per lookback window),
#: the same bound Flink's list-state CEP/attribution patterns carry —
#: bounded by data rate, never by history length.
_TIMEDECAY_STATE_SCHEMA = T.StructType(
    [
        T.StructField("touches", T.StringType()),
        T.StructField("hw", T.LongType()),
    ]
)


def _td_weight(delta_us: int) -> int:
    """Scaled (eighths) stepped half-life weight — EXACTLY the batch
    twin's 4*n7 + 2*n14 + n21 + n28 per-touch contribution: 8 inside
    the first half-life, halving per half-life, 0 past the lookback.
    Integer arithmetic only (the no-transcendental discipline)."""
    if delta_us < 1:
        return 0  # same-microsecond or later: outside the strict frame
    # per-bucket membership: a touch is counted in n_k iff delta < k*HALF
    return sum(
        (4, 2, 1, 1)[k - 1]
        for k in range(1, _TD_BUCKETS + 1)
        if delta_us < k * _TD_HALF_US
    )


def _update_attribution_timedecay(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Streaming half of events_attribution_timedecay: per purchase,
    the scaled channel weights are integer sums of _td_weight over the
    carried in-lookback touches — the identical integers the batch
    twin's RANGE-frame counts produce — then credit = value *
    (w/tot) in the same IEEE tree. Touches older than the lookback
    (relative to the high-watermark) are pruned every batch."""
    touches_s, hw = state.get if state.exists else ("", None)
    touches: list[tuple[str, int]] = [
        (t.split("@")[0], int(t.split("@")[1]))
        for t in touches_s.split(",")
        if t
    ]
    pdf = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
    batch_min = int(pdf["ts"].iloc[0].value)
    if hw is not None and batch_min < hw:
        raise ValueError(
            "stream_attribution_timedecay ordering precondition violated "
            f"for user {key[0]}: batch min event time {batch_min} "
            f"precedes the consumed high-watermark {hw}"
        )
    out_touch: list[str] = []
    out_credit: list[float] = []
    for et, val, ts in zip(
        pdf["event_type"].tolist(),
        pdf["value"].tolist(),
        pdf["ts"].tolist(),
    ):
        ts_us = int(ts.value) // 1000  # pandas ns -> micros (batch twin unit)
        if et == "purchase":
            wc = sum(
                _td_weight(ts_us - t_us) for c, t_us in touches if c == "click"
            )
            wv = sum(
                _td_weight(ts_us - t_us) for c, t_us in touches if c == "view"
            )
            tot = wc + wv
            if tot == 0:
                out_touch.append("organic")
                out_credit.append(val)
            else:
                if wc > 0:
                    out_touch.append("click")
                    out_credit.append(val * (wc / tot))
                if wv > 0:
                    out_touch.append("view")
                    out_credit.append(val * (wv / tot))
        elif et in ("click", "view"):
            touches.append((et, ts_us))
    batch_max = int(pdf["ts"].iloc[-1].value)
    new_hw = max(hw, batch_max) if hw is not None else batch_max
    horizon = new_hw // 1000 - _TD_BUCKETS * _TD_HALF_US
    touches = [(c, t) for c, t in touches if t > horizon]
    state.update(
        (",".join(f"{c}@{t}" for c, t in touches), new_hw)
    )
    if out_touch:
        yield pd.DataFrame(
            {
                "user_id": [key[0]] * len(out_touch),
                "touch_type": out_touch,
                "credit": out_credit,
            }
        )


def stream_attribution_timedecay(sdf: DataFrame) -> DataFrame:
    """(user_id, touch_type, credit) — per-purchase stepped-decay
    credits in append mode; aggregate with the micro-unit truncation
    discipline to reproduce the batch time-decay report."""
    sdf = _project(sdf, "user_id", "ts", "event_id", "event_type", "value")
    return sdf.groupBy("user_id").applyInPandasWithState(
        _update_attribution_timedecay,
        outputStructType=LINEAR_ATTRIBUTION_SCHEMA,
        stateStructType=_TIMEDECAY_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
