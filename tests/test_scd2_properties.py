"""Spark-free hypothesis test for the SCD2 stream state transition
(streaming/scd2._update) against a prefix-recompute reference — random
type sequences, timestamp ties (watermark compares (ts, eid) but an
equal-ts type change still closes an interval), replayed rows, and
adversarial chunk order. Completes the applyInPandasWithState
property-test discipline across all three families (timeseries,
funnel, scd2)."""

from __future__ import annotations

import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from async_event_streams_spark.streaming.scd2 import _update


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
        for pdf in _update((5,), iter(pdfs), state):
            got.extend(
                (r.event_type, r.valid_from.value // 1000, r.valid_to.value // 1000)
                for r in pdf.itertuples()
            )
        if i >= len(events):
            break
    return got


def _reference(events):
    """Closed intervals from the (ts, eid)-ordered prefix: a type
    change closes the open interval; replayed rows dropped."""
    cur, frm, last = None, None, None
    out = []
    for ts, eid, etype in events:
        if last is not None and (ts, eid) <= last:
            continue
        last = (ts, eid)
        if cur is None:
            cur, frm = etype, ts
        elif etype != cur:
            out.append((cur, frm, ts))
            cur, frm = etype, ts
    return out


@settings(max_examples=80, deadline=None)
@given(
    seq=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=6),
            st.sampled_from(["a", "b", "c"]),
        ),
        min_size=1,
        max_size=30,
    ),
    batch_sizes=st.lists(st.integers(min_value=1, max_value=7), max_size=5),
)
def test_scd2_update_matches_prefix_reference(seq, batch_sizes):
    events = sorted(
        [(ts, i, et) for i, (ts, et) in enumerate(seq)],
        key=lambda r: (r[0], r[1]),
    )
    if len(events) > 2:
        events = events[:2] + [events[0]] + events[2:]  # replay
    assert _run(events, batch_sizes) == _reference(events)

