"""Seeded input generator: event log, purchase labels and request keys.

Everything the program under test sees comes from here and is written as
files; the same seed always gives the same files.

- Events: ``users`` users whose activity follows a Zipf law over their rank,
  five event types, uniform over ``days`` days starting at ``START``. One
  parquet file per day under ``events/``, so a "day landing" is one new file.
- Labels: for a fixed share of users, one ``as_of_ts`` drawn inside the
  labelled range; ``label`` is 1.0 when the user purchases in the 7 days after
  ``as_of_ts``.
- Request keys: Zipf over the users (rank order shuffled, so hot keys are not
  simply the heaviest event producers) with a share of keys that never exist.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import asdict, dataclass

import numpy as np
import pandas as pd

START = dt.date(2024, 1, 1)
EVENT_TYPES = ["view", "click", "search", "cart", "purchase"]
TYPE_P = [0.55, 0.22, 0.12, 0.07, 0.04]


@dataclass(frozen=True)
class Shape:
    users: int
    events: int
    days: int
    zipf_s: float = 1.1
    label_share: float = 0.2
    key_zipf_s: float = 1.1
    miss_share: float = 0.05
    requests: int = 50_000

    def day(self, i: int) -> dt.date:
        """Date of day number ``i`` (0-based)."""
        return START + dt.timedelta(days=i)


def _zipf_p(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return w / w.sum()


def user_id(i: int) -> str:
    return f"u{i:07d}"


def make_events(shape: Shape, seed: int) -> pd.DataFrame:
    rng = np.random.default_rng([seed, 1])
    u = rng.choice(shape.users, size=shape.events, p=_zipf_p(shape.users, shape.zipf_s))
    day = rng.integers(0, shape.days, shape.events)
    sec = rng.integers(0, 86_400, shape.events)
    etype = rng.choice(len(EVENT_TYPES), size=shape.events, p=TYPE_P)
    ts = (
        pd.Timestamp(START)
        + pd.to_timedelta(day, unit="D")
        + pd.to_timedelta(sec, unit="s")
    )
    return pd.DataFrame(
        {
            "user_id": np.array([user_id(i) for i in range(shape.users)])[u],
            "event_type": np.array(EVENT_TYPES)[etype],
            "ts": ts,
            "day_no": day,  # not written: which day file the event lands in
        }
    ).sort_values("ts", kind="stable", ignore_index=True)


def make_labels(
    events: pd.DataFrame, shape: Shape, seed: int, first_day: int, last_day: int
) -> pd.DataFrame:
    """One label per sampled user with ``as_of_ts`` in [first_day, last_day]."""
    rng = np.random.default_rng([seed, 2])
    users = np.sort(events["user_id"].unique())
    pick = users[rng.random(len(users)) < shape.label_share]
    as_of = (
        pd.Timestamp(shape.day(first_day))
        + pd.to_timedelta(rng.integers(0, last_day - first_day + 1, len(pick)), unit="D")
        + pd.to_timedelta(rng.integers(0, 86_400, len(pick)), unit="s")
    )
    labels = pd.DataFrame({"user_id": pick, "as_of_ts": as_of})
    buys = events[events["event_type"] == "purchase"][["user_id", "ts"]]
    m = labels.merge(buys, on="user_id", how="left")
    hit = (m["ts"] > m["as_of_ts"]) & (m["ts"] <= m["as_of_ts"] + pd.Timedelta(days=7))
    bought = set(m.loc[hit, "user_id"])
    labels["label"] = labels["user_id"].isin(bought).astype("float64")
    return labels[["user_id", "label", "as_of_ts"]]


def make_keys(present: list[str], shape: Shape, seed: int) -> tuple[list[str], set[str]]:
    """Request key stream and the set of keys that must answer 404."""
    rng = np.random.default_rng([seed, 3])
    order = np.array(sorted(present))[rng.permutation(len(present))]
    idx = rng.choice(len(order), size=shape.requests, p=_zipf_p(len(order), shape.key_zipf_s))
    keys = order[idx].astype(object)
    miss = rng.random(shape.requests) < shape.miss_share
    absent = np.array([f"x{i:07d}" for i in rng.integers(0, 10**7, int(miss.sum()))])
    keys[miss] = absent
    return list(keys), set(absent.tolist())


def key_shape(keys: list[str], absent: set[str]) -> dict:
    """Top-1 % key share and miss share of a request stream."""
    s = pd.Series(keys)
    hits = s[~s.isin(absent)]
    counts = hits.value_counts()
    top = max(1, len(counts) // 100)
    return {
        "distinct_keys": int(len(counts)),
        "top1pct_share": round(float(counts.iloc[:top].sum() / len(s)), 4),
        "miss_share": round(float(1 - len(hits) / len(s)), 4),
    }


def write_day(events: pd.DataFrame, shape: Shape, root: str, i: int) -> str:
    """Land day ``i``'s events as one parquet file; returns its path."""
    part = events.loc[events["day_no"].to_numpy() == i, ["user_id", "event_type", "ts"]]
    path = os.path.join(root, f"{shape.day(i).isoformat()}.parquet")
    part.to_parquet(path, index=False, coerce_timestamps="us")
    return path


def write_inputs(
    shape: Shape, seed: int, root: str, land_days: int, label_days: tuple[int, int]
) -> dict:
    """Write events for days [0, land_days) and labels; returns the shape
    record and the in-memory frames the checkers reuse."""
    events = make_events(shape, seed)
    ev_dir = os.path.join(root, "events")
    os.makedirs(ev_dir, exist_ok=True)
    for i in range(land_days):
        write_day(events, shape, ev_dir, i)
    labels = make_labels(events, shape, seed, *label_days)
    labels.to_parquet(os.path.join(root, "labels.parquet"), index=False, coerce_timestamps="us")
    return {
        "events": events,
        "labels": labels,
        "events_dir": ev_dir,
        "labels_path": os.path.join(root, "labels.parquet"),
        "shape": {
            **asdict(shape),
            "active_users": int(events["user_id"].nunique()),
            "label_rows": int(len(labels)),
        },
    }
