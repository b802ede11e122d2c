"""Seeded input generator for the stream workload.

:func:`activity_stream` makes the JSON-lines user-activity stream in the
reference schema (``userId``, ``activity``, ISO ``timestamp``) with
Zipf-skewed users, late events and malformed records, one file per release
slot. It is a pure function of the seed: the same seed gives the same
bytes. Nothing imports Spark, so the stream is made before the query
starts and outside every timed window.
"""

from __future__ import annotations

import datetime as dt
import json
from dataclasses import dataclass, field

import numpy as np

ACTIVITIES = ["register", "online", "click", "purchase", "logout"]

#: Event time of slot 0; event time advances at wall-clock rate.
STREAM_EPOCH = dt.datetime(2025, 8, 3, 13, 0, 0, tzinfo=dt.timezone.utc)
#: Late events are this far behind their slot, far past any watermark.
LATE_BY_S = 30.0


@dataclass
class Stream:
    """One generated stream: ``files[i]`` is the JSON-lines text released
    at ``i * interval_s`` after the schedule starts, ``valid`` the parsed
    records the engine must keep, ``late`` how many are behind the
    watermark, ``malformed`` how many cannot be parsed."""

    interval_s: float
    files: list[str] = field(default_factory=list)
    valid: list[tuple[str, str, int]] = field(default_factory=list)  # user, activity, ts_us
    late: int = 0
    malformed: int = 0


def _iso(ts_us: int) -> str:
    t = STREAM_EPOCH + dt.timedelta(microseconds=ts_us)
    return t.strftime("%Y-%m-%dT%H:%M:%S.%fZ")


def activity_stream(
    seed: int,
    rate_eps: int,
    seconds: float,
    interval_s: float,
    n_users: int = 200_000,
    zipf_s: float = 0.8,
    late_share: float = 0.01,
    malformed_share: float = 0.005,
) -> Stream:
    """Events for ``seconds`` of wall time at ``rate_eps``, cut into files
    of ``interval_s``. Event times of slot ``i`` lie in
    ``[i, i + 1) * interval_s`` after :data:`STREAM_EPOCH` (sorted within
    the file), so only the planted late events are ever behind the
    watermark."""
    rng = np.random.default_rng(seed)
    out = Stream(interval_s=interval_s)
    cdf = np.cumsum(1.0 / np.arange(1, n_users + 1) ** zipf_s)
    # user id of each popularity rank, so the hot users are not ids 0, 1, 2...
    id_of_rank = rng.permutation(n_users)
    n_slots = int(round(seconds / interval_s))
    per = int(round(rate_eps * interval_s))
    slot_us = int(interval_s * 1e6)
    for i in range(n_slots):
        ts = np.sort(rng.integers(i * slot_us, (i + 1) * slot_us, per))
        users = id_of_rank[np.minimum(np.searchsorted(cdf, rng.uniform(0, cdf[-1], per)), n_users - 1)]
        acts = rng.integers(0, len(ACTIVITIES), per)
        kind = rng.uniform(0, 1, per)
        lines = []
        for t, u, a, k in zip(ts.tolist(), users.tolist(), acts.tolist(), kind.tolist()):
            user, act = f"u{u}", ACTIVITIES[a]
            if k < malformed_share:
                out.malformed += 1
                if k < malformed_share / 2:  # truncated JSON
                    lines.append(f'{{"userId": "{user}", "activity": "{act}", "time')
                else:  # unparseable event time
                    lines.append(json.dumps({"userId": user, "activity": act, "timestamp": "not-a-time"}))
                continue
            if k < malformed_share + late_share:
                out.late += 1
                t -= int(LATE_BY_S * 1e6)
            else:
                out.valid.append((user, act, t))
            lines.append(json.dumps({"userId": user, "activity": act, "timestamp": _iso(t)}))
        out.files.append("\n".join(lines) + "\n")
    return out


def primer_file() -> str:
    """One event at the schedule's start, released and processed before
    the schedule: its batch pays the query's cold start and sets the first
    watermark, so every late event meets one."""
    return json.dumps({"userId": "primer", "activity": "primer", "timestamp": _iso(0)}) + "\n"


def sentinel_file(after_s: float) -> str:
    """One event ``after_s`` past the schedule's end: it lifts the
    watermark past every window and session so they are all emitted."""
    return json.dumps({"userId": "sentinel", "activity": "online", "timestamp": _iso(int(after_s * 1e6))}) + "\n"
