"""One-frame assembly for applyInPandasWithState handlers.

The state API hands each (key, micro-batch) to the handler as an
ITERATOR of pandas frames — Arrow chunks of at most
``spark.sql.execution.arrow.maxRecordsPerBatch`` rows (default 10k),
delivered in shuffle-fetch order, NOT event-time order. Every stateful
operator here carries running state across rows, so sorting each chunk
independently and processing chunks as they arrive silently breaks the
operator's event-time ordering contract the moment one key exceeds the
chunk size within a single micro-batch (e.g. a trailing window buffer
whose chunk 2 holds earlier events than chunk 1 would append them
after chunk 1's and search an unsorted buffer). Assemble the whole
batch, sort ONCE, then process.

Memory note: this materializes one (key, micro-batch) in pandas — the
same footprint contract applyInPandas already imposes per group, and
bounded by the micro-batch, not the stream.
"""

from __future__ import annotations

from typing import Iterable

import pandas as pd


def batch_frame(
    pdfs: Iterable[pd.DataFrame],
    sort_cols: list[str] | None = None,
    columns: list[str] | None = None,
) -> pd.DataFrame:
    """All Arrow chunks of one (key, micro-batch) as ONE frame, sorted
    by ``sort_cols`` (stable, so ties keep arrival order).

    An empty chunk iterator yields an empty frame CARRYING ``columns``
    (every column the handler will touch) — the state API delivers
    zero chunks for keys that fire on a GroupStateTimeout with no new
    data, ``pd.concat([])`` would raise, and a schema-less empty frame
    would just move the crash to the handler's first column access.
    Callers pass the columns they read; the default falls back to
    ``sort_cols`` alone."""
    frames = list(pdfs)
    if not frames:
        return pd.DataFrame(columns=list(columns or sort_cols or []))
    pdf = frames[0] if len(frames) == 1 else pd.concat(frames, ignore_index=True)
    if sort_cols:
        pdf = pdf.sort_values(sort_cols, kind="stable")
    return pdf
