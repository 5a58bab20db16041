"""A (key, micro-batch)'s columns, sorted once, for applyInPandasWithState handlers.

The state API hands each (key, micro-batch) to the handler as an
ITERATOR of pandas frames — Arrow chunks of at most
``spark.sql.execution.arrow.maxRecordsPerBatch`` rows (default 10k),
delivered in shuffle-fetch order, NOT event-time order. Every stateful
operator here carries running state across rows, so processing chunks
as they arrive silently breaks the operator's event-time ordering
contract the moment one key exceeds the chunk size within a single
micro-batch (e.g. a trailing window buffer whose chunk 2 holds earlier
events than chunk 1 would append them after chunk 1's and search an
unsorted buffer). Concatenate each column of the chunks as numpy, sort
ONCE, then process.

Memory note: this materializes one (key, micro-batch) — the same
footprint contract applyInPandas already imposes per group, and bounded
by the micro-batch, not the stream.
"""

from __future__ import annotations

from typing import Iterable

import numpy as np
import pandas as pd


def batch_arrays(pdfs: Iterable[pd.DataFrame], columns: list[str], sort_by: int = 1) -> list[np.ndarray]:
    """The named ``columns`` of all Arrow chunks of one (key,
    micro-batch), each ONE numpy array, ordered by the first
    ``sort_by`` columns (one stable ``np.lexsort``, so ties keep arrival
    order).

    An empty chunk iterator yields empty arrays: the state API delivers
    zero chunks for keys that fire on a GroupStateTimeout with no new
    data."""
    frames = list(pdfs)
    if not frames:
        return [np.empty(0) for _ in columns]
    arrays = [np.concatenate([pdf[c].to_numpy() for pdf in frames]) for c in columns]
    order = np.lexsort(arrays[sort_by - 1 :: -1])
    return [a[order] for a in arrays]
