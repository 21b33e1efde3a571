"""Seeded inputs: the same seed gives identical inputs, another seed
gives different ones."""

import hashlib
import itertools

import pandas as pd

import gen


def fingerprint(df: pd.DataFrame) -> str:
    h = hashlib.sha256(repr(list(df.columns)).encode())
    h.update(pd.util.hash_pandas_object(df, index=False).values.tobytes())
    return h.hexdigest()


def _inputs(seed):
    spec = gen.event_spec(seed, n_events=5_000)
    df = gen.events(spec)
    exp = gen.Expected.build(df)
    plan = list(itertools.islice(gen.read_plan(spec, 0, exp, list(df["id"])), 64))
    sends = [gen.send_rows(seed, c, i, gen.write_keys(seed, c, exp)[:4]) for c in (0, 1) for i in range(3)]
    return spec, df, exp, plan, sends


def test_same_seed_same_inputs():
    a, b = _inputs(7), _inputs(7)
    assert a[0] == b[0]
    assert fingerprint(a[1]) == fingerprint(b[1])
    assert fingerprint(a[2].state) == fingerprint(b[2].state)
    assert a[3] == b[3]
    assert a[4] == b[4]


def test_different_seed_different_inputs():
    a, b = _inputs(7), _inputs(8)
    assert fingerprint(a[1]) != fingerprint(b[1])
    assert a[3] != b[3]
    assert a[4] != b[4]


def test_shape_stays_near_defaults():
    for seed in range(20):
        spec = gen.event_spec(seed)
        assert 1400 <= spec.n_keys <= 1600
        assert 1.10 <= spec.zipf_s <= 1.20
        assert spec.n_events == gen.N_EVENTS


def test_events_have_unique_ids_and_timestamps():
    df = gen.events(gen.event_spec(3, n_events=5_000))
    assert df["id"].is_unique
    assert df["timestamp"].is_unique and df["timestamp"].is_monotonic_increasing
    assert set(df["event_type"]) <= set(gen.EVENT_TYPES)


def test_expected_state_is_keyed_last():
    df = gen.events(gen.event_spec(3, n_events=5_000))
    exp = gen.Expected.build(df)
    for key, row in list(exp.by_key.items())[:50]:
        mine = df[df[gen.KEY] == key]
        assert row["id"] == mine.loc[mine["timestamp"].idxmax(), "id"]
    assert exp.last["id"] == df["id"].iloc[-1]
    assert list(exp.state[gen.KEY]) == sorted(exp.by_key)


def test_write_keys_are_disjoint_between_clients():
    exp = gen.Expected.build(gen.events(gen.event_spec(5, n_events=5_000)))
    k0, k1 = gen.write_keys(5, 0, exp), gen.write_keys(5, 1, exp)
    assert k0 and k1 and not set(k0) & set(k1)
