"""Self-tests of the benchmark's pure helpers (no Spark needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import stats  # noqa: E402
from workloads import key_amount_checksum  # noqa: E402


# ------------------------------------------------------------------ tail
def test_tail_leaves_ten_samples_beyond():
    xs = list(range(1, 101))  # 100 samples
    v, p = stats.tail(xs)
    assert sum(x > v for x in xs) == 10
    assert (v, p) == (90, 90.0)


def test_tail_at_forty_samples_is_p75():
    xs = [float(i) for i in range(40)]
    v, p = stats.tail(xs)
    assert p == 75.0 and sum(x > v for x in xs) == 10


def test_tail_is_order_insensitive():
    xs = list(np.random.default_rng(1).random(57))
    assert stats.tail(xs) == stats.tail(sorted(xs, reverse=True))


def test_tail_under_sampled_falls_back_to_nearest_rank_p90():
    assert stats.tail([5.0, 1.0, 3.0, 2.0]) == (5.0, 90.0)
    xs = [float(i) for i in range(1, 17)]  # 16 samples: 15th is p90
    assert stats.tail(xs) == (15.0, 90.0)
    with pytest.raises(ValueError):
        stats.tail([])


def test_quartile_spread():
    assert stats.quartile_spread([10.0] * 10) == 0.0
    xs = [float(i) for i in range(1, 11)]
    # quantiles n=4 (exclusive method): 2.75, 5.5, 8.25
    assert stats.quartile_spread(xs) == pytest.approx((8.25 - 2.75) / 5.5)


# ------------------------------------------------------------- self time
def _span(i, parent, start, end, layer="x"):
    return {"id": i, "parent": parent, "start": start, "end": end, "layer": layer}


def test_self_time_subtracts_direct_children():
    spans = [
        _span(0, None, 0.0, 10.0, "catalog"),
        _span(1, 0, 1.0, 4.0, "operators"),
        _span(2, 1, 2.0, 3.0, "operators"),  # grandchild: only 1 loses it
        _span(3, 0, 5.0, 6.0, "functions"),
    ]
    st = stats.self_times(spans)
    assert st == pytest.approx({0: 6.0, 1: 2.0, 2: 1.0, 3: 1.0})
    assert stats.layer_self_times(spans) == pytest.approx(
        {"catalog": 6.0, "operators": 3.0, "functions": 1.0})
    # self times partition the root's interval
    assert sum(st.values()) == pytest.approx(10.0)


# -------------------------------------------------------------- generator
def _digest(paths):
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _feed(tmp, seed, sizes=(400, 50, 900, 120)):
    feed = gen.EtlFeed(str(tmp), np.random.default_rng(seed))
    paths = [feed.deliver(n)[0] for n in sizes]
    return feed, paths


def test_etl_feed_is_deterministic_in_seed(tmp_path):
    a, pa = _feed(tmp_path / "a", 7)
    b, pb = _feed(tmp_path / "b", 7)
    c, pc = _feed(tmp_path / "c", 8)
    assert _digest(pa) == _digest(pb)
    assert a.state == b.state
    assert _digest(pa) != _digest(pc)


def _parse_number(s: str) -> float:
    return float(s.replace(".", "").replace(",", "."))


def test_etl_feed_state_is_last_write_wins_of_its_files(tmp_path):
    feed, paths = _feed(tmp_path, 3)
    replay: dict = {}
    updates = 0
    for fi, p in enumerate(paths):
        with open(p, encoding="utf-8") as fh:
            lines = fh.read().splitlines()[2:]  # two junk header lines
        keys = [tuple(int(x) for x in ln.split("\t")[:2]) for ln in lines]
        assert len(keys) == len(set(keys)), "at most one row per key per file"
        if fi:
            updates += sum(k in replay for k in keys)
        for ln in lines:
            id1, id2, name, number, date, flag = ln.split("\t")
            replay[(int(id1), int(id2))] = (name.strip(), _parse_number(number), date, flag == "WAHR")
    assert updates > 0
    assert len(replay) == len(feed.state)
    for k, (name, amount, asof, flag) in feed.state.items():
        assert replay[k] == (name, amount, asof.strftime("%d.%m.%Y"), flag)


# ------------------------------------------------------------------ misc
def test_german_number():
    assert gen.german_number(22123123.01) == "22.123.123,01"
    assert gen.german_number(-1234.5) == "-1.234,50"
    assert gen.german_number(7.0) == "7,00"


def test_key_amount_checksum_binds_keys_to_amounts():
    base = key_amount_checksum([1, 2, 3], [100, -250, 7])
    assert key_amount_checksum([3, 1, 2], [7, 100, -250]) == base  # order-free
    assert key_amount_checksum([1, 2, 3], [-250, 100, 7]) != base  # swapped amounts
