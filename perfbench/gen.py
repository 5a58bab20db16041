"""Seeded input generators for the benchmark workloads.

Every generator draws from ``numpy.random.default_rng`` seeded by the
run's ``--seed`` (plus a fixed per-purpose offset), so one seed always
yields the same inputs. The engine only ever sees the files these
functions write. ``digest`` fingerprints what was generated so two runs
can be shown to have used identical inputs.
"""

from __future__ import annotations

import hashlib
import os
import threading
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

#: 2024-01-01T00:00:00Z in epoch microseconds: start of the batch quote history.
QUOTES_START_US = 1_704_067_200_000_000
DAY_US = 86_400 * 1_000_000
TS_GRID_US = 7


def instrument_names(n: int) -> np.ndarray:
    return np.array([f"I{i:02d}" for i in range(n)])


def zipf_mix(n_instruments: int, hot_share: float) -> np.ndarray:
    """Instrument probabilities: instrument 0 takes ``hot_share`` of the
    rows, the others split the rest by Zipf (s=1) rank."""
    cold = 1.0 / np.arange(1, n_instruments)
    return np.r_[hot_share, (1.0 - hot_share) * cold / cold.sum()]


def quotes(
    seed: int,
    rows: int,
    instruments: int = 64,
    days: int = 3,
    hot_share: float = 0.4,
) -> pd.DataFrame:
    """Bid/ask quotes (instrument, ts, bid, ask), sorted by (instrument, ts).

    Timestamps are unique per instrument, so the point-in-time joins and
    trailing windows have exactly one correct answer. Mid prices follow a
    per-instrument random walk; the half-spread is a few basis points."""
    rng = np.random.default_rng(seed)
    names = instrument_names(instruments)
    inst = rng.choice(instruments, size=rows, p=zipf_mix(instruments, hot_share))
    ts = QUOTES_START_US + rng.integers(0, days * DAY_US, size=rows)
    df = (
        pd.DataFrame({"i": inst, "ts": ts})
        .drop_duplicates(["i", "ts"])
        .sort_values(["i", "ts"], kind="stable")
        .reset_index(drop=True)
    )
    steps = pd.Series(rng.normal(0.0, 5e-4, len(df)))
    base = 50.0 + 10.0 * df["i"].to_numpy()
    mid = base * np.exp(steps.groupby(df["i"].to_numpy()).cumsum().to_numpy())
    half = mid * rng.uniform(1e-5, 1e-4, len(df))
    return pd.DataFrame(
        {
            "instrument": names[df["i"].to_numpy()],
            "ts": pd.to_datetime(df["ts"].to_numpy(), unit="us"),
            "bid": mid - half,
            "ask": mid + half,
        }
    )


def write_parquet(df: pd.DataFrame, path: str) -> None:
    """Write with microsecond timestamps (Spark's native precision)."""
    table = pa.Table.from_pandas(df, preserve_index=False)
    table = table.cast(
        pa.schema(
            [
                pa.field(f.name, pa.timestamp("us")) if pa.types.is_timestamp(f.type) else f
                for f in table.schema
            ]
        )
    )
    pq.write_table(table, path)


def digest(frames, exclude: tuple[str, ...] = ()) -> str:
    """sha256 over the generated values, column by column."""
    h = hashlib.sha256()
    for df in frames:
        for col in df.columns:
            if col in exclude:
                continue
            h.update(col.encode())
            values = df[col].to_numpy()
            if values.dtype == object:
                h.update("\x00".join(map(str, values)).encode())
            else:
                h.update(np.ascontiguousarray(values).tobytes())
    return h.hexdigest()[:16]


class StreamFeeder:
    """Open-loop event source for the online workload.

    Events are (instrument, ts, bid, ask) with ``ts`` the event's creation
    wall-clock time; instrument and prices come from the seeded generator,
    so only the timestamps differ between runs of one seed. Each file is
    written under ``tmp_dir`` and renamed into ``watch_dir``, so the stream
    never lists a partial file.
    """

    def __init__(self, seed: int, watch_dir: str, tmp_dir: str, instruments: int = 64):
        self.rng = np.random.default_rng(seed + 1)
        self.names = instrument_names(instruments)
        self.watch_dir = watch_dir
        self.tmp_dir = tmp_dir
        self.files: list[dict] = []  # per file: first/last ts (us), rows, written_at, late_s
        self.frames: list[pd.DataFrame] = []  # every event written, in order
        self._last_us = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self._error: BaseException | None = None

    def _events(self, n: int, created_us: np.ndarray) -> pd.DataFrame:
        inst = self.rng.integers(0, len(self.names), size=n)
        mid = 50.0 + 10.0 * inst + self.rng.normal(0.0, 0.5, n)
        half = self.rng.uniform(0.001, 0.01, n)
        df = pd.DataFrame(
            {
                "instrument": self.names[inst],
                "ts": pd.to_datetime(created_us, unit="us"),
                "bid": mid - half,
                "ask": mid + half,
            }
        )
        self.frames.append(df)
        return df

    def write(
        self, n: int, created_us: np.ndarray, due: float | None = None, before_publish=None
    ) -> None:
        # Creation stamps sit on a 7 us grid and strictly increase across
        # the run, so (instrument, ts) identifies an event, and no two
        # events are exactly 60 s apart (6*10^7 us is not a multiple of 7):
        # no event lies on another's 1m trailing-window edge, where the
        # streaming and batch forms may round differently.
        step = TS_GRID_US * np.arange(n)
        grid = created_us // TS_GRID_US * TS_GRID_US
        created_us = np.maximum(
            np.maximum.accumulate(grid - step) + step,  # >= one grid step apart
            self._last_us + TS_GRID_US + step,  # after every earlier event
        )
        self._last_us = int(created_us[-1])
        df = self._events(n, created_us)
        name = f"part-{len(self.files):06d}.parquet"
        tmp = os.path.join(self.tmp_dir, name)
        write_parquet(df, tmp)
        if before_publish is not None:
            before_publish()
        os.rename(tmp, os.path.join(self.watch_dir, name))
        now = time.time()
        self.files.append(
            {
                "first_us": int(created_us[0]),
                "last_us": int(created_us[-1]),
                "rows": n,
                "written_at": now,
                "late_s": 0.0 if due is None else max(0.0, now - due),
            }
        )

    @property
    def last_us(self) -> int:
        """Stamp of the last event written so far (epoch microseconds)."""
        return self._last_us

    def burst(self, n: int, start_us: int | None = None, before_publish=None) -> None:
        """A backlog written in one go: n events stamped from ``start_us``
        (default: now). ``before_publish`` runs once the file is written
        and just before the stream can see it."""
        if start_us is None:
            start_us = int(time.time() * 1e6)
        self.write(n, start_us + np.arange(n), before_publish=before_publish)

    def start(self, rate: float, interval: float, n_files: int) -> None:
        """Write ``n_files`` files, one every ``interval`` seconds, each
        carrying the events created at ``rate`` per second during that
        interval, on a fixed schedule that does not slow down when the
        engine does."""
        per_file = max(1, int(round(rate * interval)))

        def run() -> None:
            t0 = time.time()
            try:
                for k in range(n_files):
                    due = t0 + (k + 1) * interval
                    wait = due - time.time()
                    if wait > 0 and self._stop.wait(wait):
                        break
                    start_us = (due - interval) * 1e6
                    step_us = interval * 1e6 / per_file
                    created = (start_us + np.arange(per_file) * step_us).astype(np.int64)
                    self.write(per_file, created, due)
            except Exception as e:  # reported by join()
                self._error = e

        self._stop.clear()
        self._thread = threading.Thread(target=run, name="stream-feeder", daemon=True)
        self._thread.start()

    def join(self, timeout: float) -> None:
        """Wait for the feeder to finish its files (or stop it after
        ``timeout`` seconds) and re-raise a failure of its thread."""
        if self._thread is not None:
            self._thread.join(timeout)
            if self._thread.is_alive():
                self._stop.set()
                self._thread.join(10)
            if self._thread.is_alive():
                raise RuntimeError("stream feeder thread did not stop")
            self._thread = None
        if self._error is not None:
            raise RuntimeError("stream feeder failed") from self._error
