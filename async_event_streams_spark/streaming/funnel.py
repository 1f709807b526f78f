"""Streaming funnel tracking: the incremental twin of the batch
`c_funnel_steps` query (queries/relational.py).

Each user's funnel progress is ONE state tuple (the first-occurrence
timestamp of every completed step); an event advances the user at most
one stage per the strictly-after rule (step k counts only when it
happens after the user's step k-1 first-occurrence). The pipe emits a
row whenever a user ADVANCES — downstream, a running
`groupBy(stage).count()` is the live funnel dashboard, and the final
per-user stage equals the batch query's step membership exactly
(asserted in tests/test_streaming.py).

Same per-key FIFO/ordering contract and chunk handling as
streaming/scd2.py: all Arrow chunks are concatenated before sorting,
and rows at-or-behind the key's last-seen (ts, event_id) are dropped
defensively. State is O(keys): three int64 timestamps per user.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from .keyed import UNSET_US, ordered_events, ts_us

# Stateful update closures from this module are shipped to Python
# workers; register by value so a driver running outside the repo root
# doesn't need the package importable on executors (see keyed.py).
try:
    import sys as _sys

    from pyspark import cloudpickle as _cloudpickle

    _cloudpickle.register_pickle_by_value(_sys.modules[__name__])
except Exception:
    pass


FUNNEL_OUTPUT_SCHEMA = "user_id long, stage int, reached_at timestamp"
# t1/t2/t3 = first view / first strictly-later click / first strictly-
# later purchase, as int64 micros; UNSET_US = step not reached (a far-
# negative sentinel — epoch-0 and pre-epoch timestamps are ordinary
# values, not accidental sentinels). Plus the last-seen watermark pair
# for the defensive out-of-order drop.
FUNNEL_STATE_SCHEMA = (
    "t1_us long, t2_us long, t3_us long, last_us long, last_eid long"
)

_STEPS = ("view", "click", "purchase")


def _fold_events(st: tuple | None, events) -> tuple[dict, tuple]:
    """The per-key transition behind `_update`, also driven Spark-free
    by the property tests: (state tuple | None, iterable of
    (t_us, eid, etype)) →
    (stage-advance output columns, new state tuple)."""
    t1, t2, t3, last_us, last_eid = (
        st if st is not None else (UNSET_US, UNSET_US, UNSET_US, UNSET_US, -1)
    )
    out: dict[str, list] = {"stage": [], "at": []}
    for t_us, eid, etype in events:
        t_us, eid = int(t_us), int(eid)
        if (t_us, eid) <= (last_us, last_eid):
            continue  # per-key FIFO contract violation: drop
        last_us, last_eid = t_us, eid
        if etype == _STEPS[0] and t1 == UNSET_US:
            t1 = t_us
            out["stage"].append(1)
            out["at"].append(t_us)
        elif (
            etype == _STEPS[1]
            and t2 == UNSET_US
            and t1 != UNSET_US
            and t_us > t1
        ):
            t2 = t_us
            out["stage"].append(2)
            out["at"].append(t_us)
        elif (
            etype == _STEPS[2]
            and t3 == UNSET_US
            and t2 != UNSET_US
            and t_us > t2
        ):
            t3 = t_us
            out["stage"].append(3)
            out["at"].append(t_us)
    return out, (t1, t2, t3, last_us, last_eid)


def _events_from_pdf(pdf: pd.DataFrame | None):
    if pdf is None:
        return []
    return zip(ts_us(pdf["ts"]), pdf["event_id"], pdf["event_type"])


def _out_frame(key: tuple, out: dict) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "user_id": [key[0]] * len(out["stage"]),
            "stage": out["stage"],
            "reached_at": pd.to_datetime(out["at"], unit="us"),
        }
    )


def _update(
    key: tuple, pdf_iter: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """The applyInPandasWithState wrapper around `_fold_events`
    (module-level so the Spark-free property test can drive it
    against a prefix-recompute reference)."""
    pdf = ordered_events(pdf_iter)  # chunk-safe concat-then-sort
    out, new_state = _fold_events(
        tuple(state.get) if state.exists else None, _events_from_pdf(pdf)
    )
    state.update(new_state)
    if out["stage"]:
        yield _out_frame(key, out)


def funnel_stage_stream(df: DataFrame) -> DataFrame:
    """(user_id, event_type, ts, event_id) stream → one append row per
    stage ADVANCE: (user_id, stage 1..3, reached_at). A user's rows
    are strictly increasing in stage; the latest row is their current
    funnel position."""
    return df.groupBy("user_id").applyInPandasWithState(
        _update,
        outputStructType=FUNNEL_OUTPUT_SCHEMA,
        stateStructType=FUNNEL_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
