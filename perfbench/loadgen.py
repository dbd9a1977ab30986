"""Open-loop load generator for ``live_stream``.

Segments are encoded before the run.  One thread renames segment
``k`` of every topic into the watched log directories at its due time
``t0 + k * period``, whether or not the engine has kept up; rename is
atomic, so the source never sees a partial segment.  Latency is
measured from the due time, so a stall that delays later segments
counts against them, and the generator's own lateness is reported
beside it.
"""

from __future__ import annotations

import os
import threading
import time


def due_time(t0: float, period: float, segment: int) -> float:
    return t0 + segment * period


def segment_of(block_ts_ns: int, t0_ns: int, step_ns: int, seg_receipts: int) -> int:
    """Segment index holding the receipt stamped ``block_ts_ns``."""
    return (block_ts_ns - t0_ns) // step_ns // seg_receipts


class SegmentReleaser:
    """Releases ``n_segments`` staged segments from ``staged/<topic>`` into
    ``live/<topic>`` on a fixed schedule; ``late`` holds, per segment,
    how many seconds after its due time the rename finished."""

    def __init__(self, staged: str, live: str, topics, n_segments: int,
                 period: float):
        self.staged, self.live, self.topics = staged, live, list(topics)
        self.n, self.period = n_segments, period
        self.t0 = 0.0
        self.late: list[float] = []
        self.error: BaseException | None = None
        self._thread: threading.Thread | None = None
        for t in self.topics:
            os.makedirs(f"{live}/{t}", exist_ok=True)

    def start(self, t0: float) -> SegmentReleaser:
        self.t0 = t0
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def _run(self) -> None:
        try:
            for k in range(self.n):
                due = due_time(self.t0, self.period, k)
                wait = due - time.time()
                if wait > 0:
                    time.sleep(wait)
                name = f"seg-{k:05d}.bin"
                for t in self.topics:
                    os.rename(f"{self.staged}/{t}/{name}", f"{self.live}/{t}/{name}")
                self.late.append(time.time() - due)
        except BaseException as exc:  # reported by join()
            self.error = exc

    def join(self, timeout: float) -> None:
        self._thread.join(timeout)
        if self._thread.is_alive():
            raise TimeoutError("segment generator did not finish")
        if self.error is not None:
            raise self.error
