"""Hand-worked cases for the replay oracle. Run:
``python3 -m pytest -q perfbench/test_replay.py``."""

from __future__ import annotations

import datetime as dt
from decimal import Decimal

from perfbench.cdcgen import BOOTSTRAP, BOOTSTRAP_S, CdcInputs, Event, Shape
from perfbench.replay import Replay

T1 = BOOTSTRAP_S + 100  # seconds after the bootstrap


def _ts(sec: int) -> dt.datetime:
    return dt.datetime(1970, 1, 1) + dt.timedelta(seconds=sec)


def _member(seq: str, name: str, key: str, sec: int, ms: int = 0, nm: str = "x"):
    image = None if name == "REMOVE" else {"memberId": key, "memberName": nm}
    return Event(seq, name, f"M_{key}", nm, sec * 1000 + ms, image)


def _mq(seq: str, name: str, key: str, sec: int, dollars: str = "1.00", quest="q1"):
    image = (
        None if name == "REMOVE"
        else {"questId": quest, "dollarsEarned": dollars}
    )
    return Event(seq, name, "MQ#M_m1", f"MQ_{key}", sec * 1000, image)


def _fresh() -> Replay:
    return Replay({"m1": "Ann"}, {"q1": "Walk"}, {"a": ("m1", "q1", "2.50")})


def test_same_second_tie_is_broken_numerically():
    r = _fresh()
    # "9" sorts above "10" as text; numerically 10 wins. The loser also has
    # the later millisecond, which must not matter at second precision.
    r.apply([_member("10", "MODIFY", "m1", T1, 0, "Bob"),
             _member("9", "MODIFY", "m1", T1, 999, "Cid")], 0)
    assert r.tables["member"]["m1"] == ("m1", "Bob", _ts(T1), "MODIFY")
    # leading zeros do not count
    r.apply([_member("0011", "MODIFY", "m1", T1 + 1, 0, "Dan"),
             _member("9", "MODIFY", "m1", T1 + 1, 0, "Eve")], 0)
    assert r.tables["member"]["m1"][1] == "Dan"


def test_late_and_stale_events_are_dropped():
    r = _fresh()
    log = r.apply([_member("1", "MODIFY", "m1", BOOTSTRAP_S - 5, nm="Late"),
                   _member("2", "MODIFY", "m1", BOOTSTRAP_S, nm="Equal")], 0)
    assert log["member"] == (BOOTSTRAP, 0, 0, 0)
    assert r.tables["member"]["m1"][1] == "Ann"
    r.apply([_member("3", "MODIFY", "m1", T1, nm="New")], 0)
    # the carried watermark is now T1: an event at T1 is stale
    log = r.apply([_member("4", "MODIFY", "m1", T1, nm="Stale")], 0)
    assert log["member"] == (_ts(T1), 0, 0, 0)
    assert r.tables["member"]["m1"][1] == "New"


def test_remove_then_reinsert_in_one_batch():
    r = _fresh()
    log = r.apply([_mq("5", "INSERT", "a", T1 + 1, "4.25"),
                   _mq("6", "REMOVE", "a", T1)], 0)
    # one staged key, the old row deleted, the re-INSERT kept
    assert log["member_quest"] == (BOOTSTRAP, 1, 1, 1)
    assert r.tables["member_quest"]["a"][3] == Decimal("4.25")
    assert r.watermark["member_quest"] == T1 + 1


def test_remove_of_absent_key_and_watermark_not_moved_by_removes():
    r = _fresh()
    log = r.apply([_mq("7", "REMOVE", "zz", T1), _mq("8", "REMOVE", "a", T1)], 0)
    assert log["member_quest"] == (BOOTSTRAP, 2, 1, 0)
    assert r.tables["member_quest"] == {}
    assert r.watermark["member_quest"] == BOOTSTRAP_S


def test_rewards_are_exact_cents_over_the_inner_join():
    r = Replay({"m1": "Ann"}, {"q1": "Walk"},
               {"a": ("m1", "q1", "0.10"), "b": ("m1", "q1", "0.20"),
                "c": ("m9", "q9", "5.00")})
    assert r.rewards_by_member() == {("m1", "Ann"): Decimal("0.30")}
    assert r.rewards_by_quest() == {("q1", "Walk"): Decimal("0.30")}


def test_generator_is_deterministic_and_has_every_dimension():
    shape = Shape(members=200, quests=10, member_quests=300, batch_events=500)
    a, b = CdcInputs(7, shape), CdcInputs(7, shape)
    assert a.batch_lines(3) == b.batch_lines(3)
    assert a.batch_lines(3) != CdcInputs(8, shape).batch_lines(3)
    events, bad = a.batch(3)
    assert len(events) == shape.batch_events and len(bad) == 3
    assert any(e.ms // 1000 < BOOTSTRAP_S for e in events)
    r = Replay.from_inputs(a)
    for k in range(4):
        r.apply(*a.batch(k)[:1], 3)
    staged = sum(v[1] for v in r.log[-1].values())
    assert 0 < staged < shape.batch_events  # dedup and the guard collapse
