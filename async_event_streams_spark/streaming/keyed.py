"""Shared frame for per-key event-ordered stateful pipes (scd2,
funnel, asof, timeseries): Arrow-chunk handling and the FIFO
watermark.

A key group larger than `spark.sql.execution.arrow.maxRecordsPerBatch`
arrives as SEVERAL DataFrames in arbitrary relative order, so the
chunks must be concatenated BEFORE sorting — per-chunk sorting makes a
(ts, event_id) watermark mis-drop later-chunk events (the bug this
helper exists to keep fixed in exactly one place).

`UNSET_US` is the 'no timestamp yet' sentinel: far below any int64
microsecond timestamp, so epoch (0) and pre-epoch events are ordinary
values, not accidental sentinels.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

# The stateful updates in scd2/funnel/asof/timeseries reference this
# module's globals; cloudpickle serializes those BY REFERENCE to the
# module name, which only resolves on Python workers if the package is
# importable there — true when the driver runs from the repo root,
# false from any other cwd. Register by value so executors don't need
# an importable copy (same fix as functions/multimodal.py).
try:
    import sys as _sys

    from pyspark import cloudpickle as _cloudpickle

    _cloudpickle.register_pickle_by_value(_sys.modules[__name__])
except Exception:
    pass

UNSET_US = -(1 << 62)


def ts_us(series: pd.Series) -> pd.Series:
    """Timestamps → int64 microseconds (state tuples hold simple
    types only)."""
    return series.astype("datetime64[us]").astype("int64")


def ordered_events(
    pdf_iter: Iterator[pd.DataFrame],
    sort_cols: tuple[str, ...] = ("ts", "event_id"),
) -> pd.DataFrame | None:
    """All of a key's chunks, concatenated then sorted once; None when
    the trigger delivered no rows (timeout/empty batch)."""
    chunks = [pdf for pdf in pdf_iter if len(pdf)]
    if not chunks:
        return None
    return pd.concat(chunks, ignore_index=True).sort_values(list(sort_cols))
