"""Seeded input generators.

Everything a workload feeds the program comes from here, and the same
seed always gives the same inputs.  The defaults are shaped like the
sf0.1 ``events`` test table: about 100k rows, about 1,500 keys with
Zipf-skewed popularity, 5 event types.  The seed moves the key count,
the skew and the values, within a narrow band so that runs on
different seeds stay comparable.

The generator also computes the answers the gateway must return
(keyed last value, last tick, filtered state), so every response can
be checked without trusting the program under test.
"""

from __future__ import annotations

import itertools
from dataclasses import dataclass, field
from typing import Dict, Iterator, List

import numpy as np
import pandas as pd

EVENT_TYPES = ("view", "click", "cart", "buy", "share")
CHANNEL = "events"
KEY = "user_id"
N_EVENTS = 100_000
ID_BASE = 10**12
BASE_TS = np.datetime64("2024-01-01T00:00:00", "us")


@dataclass
class EventSpec:
    seed: int
    n_events: int
    n_keys: int
    zipf_s: float


def event_spec(seed: int, n_events: int = N_EVENTS) -> EventSpec:
    rng = np.random.default_rng([seed, 0])
    return EventSpec(
        seed=seed,
        n_events=n_events,
        n_keys=int(1400 + rng.integers(0, 201)),
        zipf_s=float(1.10 + 0.10 * rng.random()),
    )


def events(spec: EventSpec) -> pd.DataFrame:
    """The channel's backlog: unique ids, strictly increasing unique
    timestamps, Zipf-distributed keys (hot keys are not the small
    ids: ranks are mapped through a seeded permutation)."""
    rng = np.random.default_rng([spec.seed, 1])
    n, k = spec.n_events, spec.n_keys
    ranks = np.arange(1, k + 1, dtype=np.float64)
    p = ranks ** (-spec.zipf_s)
    p /= p.sum()
    key_of_rank = rng.permutation(k) + 1
    keys = key_of_rank[rng.choice(k, size=n, p=p)]
    offsets_ms = np.sort(rng.choice(n * 20, size=n, replace=False))
    return pd.DataFrame(
        {
            "id": [str(ID_BASE + i) for i in range(n)],
            "timestamp": BASE_TS + offsets_ms.astype("timedelta64[ms]"),
            KEY: keys.astype("int64"),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n)],
            "value": np.round(rng.gamma(2.0, 10.0, n), 2),
        }
    )


def keyed_last(df: pd.DataFrame) -> pd.DataFrame:
    """Reference keyed-last state, sorted by key ascending."""
    last = df.sort_values("timestamp").groupby(KEY, sort=True).tail(1)
    return last.sort_values(KEY).reset_index(drop=True)


@dataclass
class Expected:
    """Answers the gateway must give over the preloaded channel."""

    state: pd.DataFrame  # keyed last, by key
    by_key: Dict[int, dict] = field(default_factory=dict)
    by_id: Dict[str, dict] = field(default_factory=dict)
    last: dict = field(default_factory=dict)

    @classmethod
    def build(cls, df: pd.DataFrame) -> "Expected":
        state = keyed_last(df)
        recs = state.to_dict("records")
        return cls(
            state=state,
            by_key={int(r[KEY]): r for r in recs},
            by_id=dict(zip(df["id"], df[["value", KEY]].to_dict("records"))),
            last=df.loc[df["timestamp"].idxmax()].to_dict(),
        )

    def query(self, event_type: str, min_value: float, limit: int) -> List[str]:
        """Ids of ``/state?query=[event_type == t, value > v]&limit=n``."""
        s = self.state
        hit = s[(s["event_type"] == event_type) & (s["value"] > min_value)]
        return list(hit["id"].head(limit))

    def view(self, agg: str) -> Dict[str, tuple]:
        """``group_by event_type`` view: (agg(value), count(user_id))."""
        g = self.state.groupby("event_type")
        vals = getattr(g["value"], {"sum": "sum", "avg": "mean", "max": "max"}[agg])()
        cnt = g[KEY].count()
        return {t: (float(vals[t]), int(cnt[t])) for t in vals.index}


# --- request plans ------------------------------------------------------
#: route cycle for rest_read: one request per read route the gateway
#: serves.  No measured traffic mix exists for this gateway, so no
#: route is weighted over another; only keys, ids and filter values
#: come from the seed
READ_CYCLE = ("state_key", "query", "last", "lookup", "view")
QUERY_LIMIT = 20


def read_plan(spec: EventSpec, client: int, exp: Expected, ids: List[str]) -> Iterator[dict]:
    """The requests client ``client`` sends in rest_read, in order
    (endless; the caller stops it)."""
    rng = np.random.default_rng([spec.seed, 2, client])
    keys = np.array(sorted(exp.by_key))
    # keys requested with the data's own Zipf skew, hot set seeded
    weights = 1.0 / np.arange(1, len(keys) + 1) ** spec.zipf_s
    weights /= weights.sum()
    hot = keys[rng.permutation(len(keys))]
    for i in itertools.count():
        route = READ_CYCLE[i % len(READ_CYCLE)]
        req = {"route": route}
        if route == "state_key":
            req["key"] = int(hot[rng.choice(len(hot), p=weights)])
        elif route == "lookup":
            req["id"] = ids[int(rng.integers(0, len(ids)))]
        elif route == "query":
            req["event_type"] = EVENT_TYPES[int(rng.integers(0, len(EVENT_TYPES)))]
            req["min_value"] = float(rng.choice([5.0, 10.0, 20.0, 40.0]))
        elif route == "view":
            req["agg"] = ("sum", "avg", "max")[int(rng.integers(0, 3))]
        yield req


SEND_BATCH = 4
#: every sent value is at least this, so a sent row is told from a preloaded one
SENT_VALUE_BASE = 1_000_000


def write_keys(seed: int, client: int, exp: Expected) -> List[int]:
    """Keys client ``client`` writes in rest_write, in order.  Clients
    write disjoint key sets so read-your-writes is unambiguous."""
    rng = np.random.default_rng([seed, 3, client])
    mine = [k for k in sorted(exp.by_key) if k % 2 == client]
    return [int(k) for k in rng.permutation(mine)]


def send_rows(seed: int, client: int, it: int, keys: List[int]) -> List[dict]:
    """The small batch of rows sent on iteration ``it``: distinct keys,
    values unique to (client, iteration, position)."""
    rng = np.random.default_rng([seed, 4, client, it])
    return [
        {
            KEY: k,
            "event_type": EVENT_TYPES[int(rng.integers(0, len(EVENT_TYPES)))],
            "value": float(SENT_VALUE_BASE + it * 100 + client * 10 + j),
        }
        for j, k in enumerate(keys)
    ]
