"""CDC replay oracle in plain Python (no Spark).

Replays the export and the stream batches with the merge's stated
semantics, independently of the program's code:

- the first watermark of each entity is the bootstrap time (every export
  row carries it); afterwards the watermark is the one carried from the
  previous merge: ``max(watermark, max ts of the rows inserted)``;
- an event is staged when its pk has the entity's prefix and its event
  time, floored to the second, is strictly later than the watermark;
- per key the latest event wins; a same-second tie goes to the
  numerically larger sequence number;
- every staged key is deleted from the target (``deleted`` counts the
  rows that existed); every staged key whose winner is not a REMOVE is
  inserted;
- a payload that is not an envelope with an ``eventID`` is quarantined.

Rows are tuples without the sync timestamp, in the target's column order;
money stays an exact ``Decimal``.
"""

from __future__ import annotations

import datetime as dt
from decimal import Decimal

from .cdcgen import BOOTSTRAP, BOOTSTRAP_S, Event

ENTITIES = ("member", "quest", "member_quest")
_PREFIX = {"member": "M_", "quest": "Q_", "member_quest": "MQ#"}
_EPOCH = dt.datetime(1970, 1, 1)


def _ts(seconds: int) -> dt.datetime:
    return _EPOCH + dt.timedelta(seconds=seconds)


def _strip(s: str, prefix: str) -> str:
    return s[len(prefix):] if s.startswith(prefix) else s


def _key(entity: str, e: Event) -> str:
    if entity == "member":
        return _strip(e.pk, "M_")
    if entity == "quest":
        return _strip(e.pk, "Q_")
    return _strip(e.sk, "MQ_")


def _row(entity: str, e: Event, sec: int) -> tuple:
    ts = _ts(sec)
    if entity == "member":
        return (_strip(e.pk, "M_"), e.sk, ts, e.name)
    if entity == "quest":
        return (_strip(e.pk, "Q_"), e.sk, ts, e.name)
    return (
        _strip(e.sk, "MQ_"),
        _strip(e.pk, "MQ#M_"),
        e.image["questId"],
        Decimal(e.image["dollarsEarned"]),
        ts,
        e.name,
    )


class Replay:
    """Target state after the export and every batch applied so far."""

    def __init__(self, members: dict, quests: dict, member_quests: dict):
        """``members``: memberId -> name; ``quests``: questId -> name;
        ``member_quests``: memberQuestId -> (memberId, questId, dollars)."""
        boot = BOOTSTRAP
        self.tables: dict[str, dict[str, tuple]] = {
            "member": {m: (m, n, boot, "INITIAL_LOAD") for m, n in members.items()},
            "quest": {q: (q, n, boot, "INITIAL_LOAD") for q, n in quests.items()},
            "member_quest": {
                mq: (mq, m, q, Decimal(d), boot, "INITIAL_LOAD")
                for mq, (m, q, d) in member_quests.items()
            },
        }
        self.watermark = {e: BOOTSTRAP_S for e in ENTITIES}
        # one entry per applied batch: {entity: (watermark, staged,
        # deleted, inserted)}
        self.log: list[dict[str, tuple]] = []
        self.quarantined: list[int] = []
        self.event_names: list[dict[str, int]] = []

    @classmethod
    def from_inputs(cls, inputs) -> "Replay":
        return cls(
            inputs.export_names,
            inputs.export_quest_names,
            inputs.export_mq,
        )

    def apply(self, events: list[Event], n_malformed: int) -> dict[str, tuple]:
        """Apply one batch; returns its sync-log rows."""
        names: dict[str, int] = {}
        for e in events:
            names[e.name] = names.get(e.name, 0) + 1
        self.event_names.append(names)
        self.quarantined.append(n_malformed)
        log = {}
        for entity in ENTITIES:
            wm = self.watermark[entity]
            latest: dict[str, tuple[int, int, Event]] = {}
            for e in events:
                if not e.pk.startswith(_PREFIX[entity]):
                    continue
                sec = e.ms // 1000
                if sec <= wm:
                    continue
                k = _key(entity, e)
                cand = (sec, int(e.seq), e)
                if k not in latest or cand[:2] > latest[k][:2]:
                    latest[k] = cand
            table = self.tables[entity]
            deleted = sum(1 for k in latest if k in table)
            inserted = 0
            mx = None
            for k, (sec, _, e) in latest.items():
                table.pop(k, None)
                if e.name != "REMOVE":
                    table[k] = _row(entity, e, sec)
                    inserted += 1
                    mx = sec if mx is None else max(mx, sec)
            if mx is not None:
                self.watermark[entity] = max(wm, mx)
            log[entity] = (_ts(wm), len(latest), deleted, inserted)
        self.log.append(log)
        return log

    def rewards_by_member(self) -> dict[tuple[str, str], Decimal]:
        """sum(dollarsEarned) per (memberId, memberName), inner join."""
        names = {k: r[1] for k, r in self.tables["member"].items()}
        out: dict[tuple[str, str], Decimal] = {}
        for _, m, _, d, _, _ in self.tables["member_quest"].values():
            if m in names:
                key = (m, names[m])
                out[key] = out.get(key, Decimal(0)) + d
        return out

    def rewards_by_quest(self) -> dict[tuple[str, str], Decimal]:
        """sum(dollarsEarned) per (questId, questName), inner join."""
        names = {k: r[1] for k, r in self.tables["quest"].items()}
        out: dict[tuple[str, str], Decimal] = {}
        for _, _, q, d, _, _ in self.tables["member_quest"].values():
            if q in names:
                key = (q, names[q])
                out[key] = out.get(key, Decimal(0)) + d
        return out
