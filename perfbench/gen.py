"""Vote generators.  They run on the benchmark side: the program under
test sees only the JSON files they write, one vote per line, shaped like
the ``value`` column of the reference's Kafka topic.

Every random choice comes from ``numpy.random.default_rng(seed)``, so a
seed fixes the inputs.  Only the wall-clock stamps of the live feed
depend on when the run starts.
"""

from __future__ import annotations

import os
import threading
import time

import numpy as np

CANDIDATES = ["cand_amara", "cand_bello", "cand_chen", "cand_diaz", "cand_eze"]
# skewed choice: one front-runner, a long tail
CAND_P = np.array([0.38, 0.27, 0.17, 0.11, 0.07])


def iso(stamps: np.ndarray) -> list[str]:
    """Epoch seconds -> the ISO-8601 UTC strings ``from_json`` parses."""
    us = np.round(np.asarray(stamps, dtype=np.float64) * 1e6).astype("datetime64[us]")
    return [s + "Z" for s in np.datetime_as_string(us, unit="us").tolist()]


def vote_lines(event_ids, stamps, users, cands, values) -> str:
    return "".join(
        f'{{"event_id":{e},"ts":"{t}","user_id":{u},'
        f'"event_type":"{CANDIDATES[c]}","value":{v:.2f},"props":null}}\n'
        for e, t, u, c, v in zip(event_ids.tolist(), iso(stamps), users.tolist(),
                                 cands.tolist(), values.tolist())
    )


def write_atomic(directory: str, name: str, text: str) -> None:
    """Write under a hidden name (the file source skips dot-files) and
    rename into place, so the source never lists a partial file."""
    tmp = os.path.join(directory, "." + name + ".tmp")
    with open(tmp, "w") as f:
        f.write(text)
    os.rename(tmp, os.path.join(directory, name))


class LiveFeed:
    """Open-loop vote feed: one thread writes a file of
    ``rate * interval`` votes every ``interval`` seconds, on a schedule
    that does not wait for the system.  Counting from the first vote after
    ``start(t0)``, vote ``j`` is due at ``t0 + j / rate``; its file is
    written when its interval closes.  Files written with ``write_file``
    before ``start`` (warm-up) are due before ``t0``.

    ``late_share`` of the votes carry an event time 1-30 s before their
    creation (out of order, inside the 1-minute watermark).  Voters are
    drawn uniformly from ``voter_keys``; candidates by ``CAND_P``.
    """

    def __init__(self, directory: str, seed: int, voter_keys: np.ndarray,
                 rate: int, interval: float, late_share: float):
        self.dir = directory
        self.rng = np.random.default_rng(seed)
        self.keys = voter_keys
        self.rate = rate
        self.interval = interval
        self.per_file = int(round(rate * interval))
        self.late_share = late_share
        self.users: list[np.ndarray] = []
        self.cands: list[np.ndarray] = []
        self.late_ms: list[float] = []  # how late each file was written
        self.t0 = time.time()  # reset by start(); stamps warm-up files meanwhile
        self.k0 = 0  # files written before start()
        self.n_files = 0
        self._stop_at = None
        self._thread = None
        self.error: BaseException | None = None

    def due(self, i):
        """Scheduled creation time of vote(s) ``i``."""
        return self.t0 + (np.asarray(i, dtype=np.float64) - self.k0 * self.per_file) / self.rate

    def start(self, t0: float) -> None:
        self.t0 = t0
        self.k0 = self.n_files
        self._thread = threading.Thread(target=self._loop, name="vote-feed", daemon=True)
        self._thread.start()

    def stop_after(self, t_end: float) -> None:
        """Write every file whose interval closes by ``t_end``, then stop."""
        self._stop_at = t_end

    def join(self, timeout: float) -> None:
        self._thread.join(timeout)
        if self._thread.is_alive():
            raise RuntimeError("vote feed did not stop")
        if self.error is not None:
            raise RuntimeError("vote feed failed") from self.error

    @property
    def n_votes(self) -> int:
        return self.n_files * self.per_file

    def _loop(self) -> None:
        try:
            k = self.k0
            while True:
                due = self.t0 + (k - self.k0 + 1) * self.interval
                if self._stop_at is not None and due > self._stop_at:
                    return
                now = time.time()
                if due > now:
                    time.sleep(due - now)
                self.write_file(k)
                self.late_ms.append((time.time() - due) * 1000.0)
                k += 1
        except BaseException as e:  # surfaced by join()
            self.error = e

    def write_file(self, k: int) -> None:
        """Write file ``k`` now (the feed thread calls this on schedule)."""
        n = self.per_file
        first = k * n
        ids = np.arange(first, first + n, dtype=np.int64)
        stamps = self.due(ids)
        late = self.rng.random(n) < self.late_share
        stamps = np.where(late, stamps - self.rng.uniform(1.0, 30.0, n), stamps)
        users = self.keys[self.rng.integers(0, len(self.keys), n)]
        cands = self.rng.choice(len(CANDIDATES), n, p=CAND_P)
        values = np.round(self.rng.uniform(0.5, 2.0, n), 2)
        text = vote_lines(ids, stamps, users, cands, values)
        # expectations are recorded before the file becomes visible
        self.users.append(users)
        self.cands.append(cands)
        write_atomic(self.dir, f"votes-{k:06d}.json", text)
        self.n_files = k + 1
