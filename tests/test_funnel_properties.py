"""Spark-free hypothesis test for the funnel state transition
(streaming/funnel._update) against a prefix-recompute reference of the
batch strictly-after rule — random event-type sequences, equal
timestamps (ties broken by event_id in the watermark but NOT counting
as strictly-after), duplicate (ts, event_id) replays, and adversarial
chunk order. The timeseries property test's discipline applied to the
second applyInPandasWithState family."""

from __future__ import annotations

import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from async_event_streams_spark.streaming.funnel import _STEPS, _update


class _FakeState:
    def __init__(self):
        self.exists = False
        self._t = None

    @property
    def get(self):
        return self._t

    def update(self, t):
        self._t = tuple(t)
        self.exists = True


def _run(events, batch_sizes):
    state = _FakeState()
    got = []
    i = 0
    cuts = list(batch_sizes) + [len(events)]
    for b in cuts:
        batch = events[i : i + b]
        i += len(batch)
        if not batch:
            continue
        half = len(batch) // 2
        chunks = [batch[half:], batch[:half]] if half else [batch]
        pdfs = [
            pd.DataFrame(
                {
                    "ts": pd.to_datetime([t for t, _, _ in c], unit="us"),
                    "event_id": [e for _, e, _ in c],
                    "event_type": [y for _, _, y in c],
                }
            )
            for c in chunks
        ]
        for pdf in _update((3,), iter(pdfs), state):
            got.extend(
                (int(r.stage), r.reached_at.value // 1000)
                for r in pdf.itertuples()
            )
        if i >= len(events):
            break
    return got


def _reference(events):
    """Batch strictly-after funnel membership over the (ts, event_id)-
    ordered prefix, replayed rows (non-increasing (ts, eid)) dropped."""
    t = [None, None, None]
    out = []
    last = None
    for ts, eid, etype in events:
        if last is not None and (ts, eid) <= last:
            continue
        last = (ts, eid)
        if etype == _STEPS[0] and t[0] is None:
            t[0] = ts
            out.append((1, ts))
        elif etype == _STEPS[1] and t[1] is None and t[0] is not None and ts > t[0]:
            t[1] = ts
            out.append((2, ts))
        elif etype == _STEPS[2] and t[2] is None and t[1] is not None and ts > t[1]:
            t[2] = ts
            out.append((3, ts))
    return out


@settings(max_examples=80, deadline=None)
@given(
    seq=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=6),  # ts (micros; many ties)
            st.sampled_from(["view", "click", "purchase", "other"]),
        ),
        min_size=1,
        max_size=30,
    ),
    batch_sizes=st.lists(st.integers(min_value=1, max_value=7), max_size=5),
)
def test_funnel_update_matches_prefix_reference(seq, batch_sizes):
    # per-key FIFO: rows arrive (ts, event_id)-ordered; duplicate
    # (ts, eid) pairs exercise the replay drop
    events = sorted(
        [(ts, i, et) for i, (ts, et) in enumerate(seq)],
        key=lambda r: (r[0], r[1]),
    )
    # inject a replay of the first row mid-stream (same ts AND eid)
    if len(events) > 2:
        events = events[:2] + [events[0]] + events[2:]
    assert _run(events, batch_sizes) == _reference(events)

