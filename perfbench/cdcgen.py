"""Seeded CDC input generator: a DynamoDB export plus stream batches.

Pure Python, no Spark. The same (seed, shape) always yields the same export
items and the same batch ``k``; batch ``k`` depends only on the seed, the
shape and ``k``, so a run can draw as many batches as its time allows.

Traffic dimensions the merge depends on, per batch:

- hot keys: a fixed hot set takes ``hot_share`` of the events, so the
  latest-per-key collapse merges many events into one staged row;
- same-second ties: pairs of events on one key in one second whose
  sequence numbers differ in length (``"99…9"`` vs ``"100…0"``, sometimes
  zero-padded), so only a numeric comparison picks the right winner;
- REMOVEs of keys that never existed (delete nothing, insert nothing);
- REMOVE then re-INSERT of one key a second apart inside one batch;
- a fixed number of malformed payloads (not JSON, JSON without an
  ``eventID``, truncated JSON), which must land in the quarantine;
- late events stamped before the bootstrap time, and stale events stamped
  before the previous batch; the carried watermark drops both.

File order is shuffled and sequence numbers follow file order, so the
sequence number never agrees with event time by construction.
"""

from __future__ import annotations

import datetime as dt
import json
import random
from dataclasses import dataclass

# initial_load stamps every bootstrap row with this time: it is the first
# watermark of every entity
BOOTSTRAP = dt.datetime(2023, 1, 1)
_EPOCH = dt.datetime(1970, 1, 1)
BOOTSTRAP_S = int((BOOTSTRAP - _EPOCH).total_seconds())
STREAM_START_S = BOOTSTRAP_S + 60 * 86400  # batches start two months later
MALFORMED = ("this is not json", '{"awsRegion": "us-east-1"}', '{"eventID": "e')
SEQ_BASE = 10**20  # 21-digit sequence numbers for ordinary events
MEMBER_NAMES = ("Olivia", "Liam", "Emma", "Noah", "Ava", "Elijah", "Mia", "Lucas")
QUEST_NAMES = ("Walk 10,000 steps", "Drink 8 glasses of water", "Sleep 8 hours")


@dataclass(frozen=True)
class Shape:
    """Sizes of one workload's inputs."""

    members: int
    quests: int
    member_quests: int
    batch_events: int
    hot_keys: int = 50
    hot_share: float = 0.3
    tie_pairs: int = 20
    absent_removes: int = 20
    remove_reinserts: int = 10
    late_events: int = 10
    stale_events: int = 10


@dataclass(frozen=True)
class Event:
    """One stream record. ``ms`` is ApproximateCreationDateTime (epoch ms);
    ``image`` is the NewImage (None for REMOVE)."""

    seq: str
    name: str
    pk: str
    sk: str
    ms: int
    image: dict | None


def _uuid(rng: random.Random) -> str:
    h = f"{rng.getrandbits(128):032x}"
    return f"{h[:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:]}"


def _cents(rng: random.Random) -> str:
    c = rng.randrange(100, 10000)  # [1.00, 100.00)
    return f"{c // 100}.{c % 100:02d}"


class CdcInputs:
    """Key pools and generators for one seed and shape."""

    def __init__(self, seed: int, shape: Shape):
        self.seed = seed
        self.shape = shape
        rng = random.Random(f"{seed}:keys")
        self.members = [_uuid(rng) for _ in range(shape.members)]
        self.quests = [_uuid(rng) for _ in range(shape.quests)]
        # memberQuestId -> memberId: the item key (pk, sk) never changes,
        # so a member_quest keeps its member across its whole life
        self.mq_member = {
            _uuid(rng): rng.choice(self.members) for _ in range(shape.member_quests)
        }
        self.mqs = list(self.mq_member)
        self.export_names = {m: rng.choice(MEMBER_NAMES) for m in self.members}
        self.export_quest_names = {q: rng.choice(QUEST_NAMES) for q in self.quests}
        self.export_mq = {
            mq: (self.mq_member[mq], rng.choice(self.quests), _cents(rng))
            for mq in self.mqs
        }

    # -- export ----------------------------------------------------------
    def export_lines(self):
        """DYNAMODB_JSON export lines (``{"Item": {...}}``), one per item."""
        for m in self.members:
            name = self.export_names[m]
            yield (
                f'{{"Item": {{"pk": {{"S": "M_{m}"}}, "sk": {{"S": "{name}"}}, '
                f'"memberId": {{"S": "{m}"}}, "memberName": {{"S": "{name}"}}}}}}'
            )
        for q in self.quests:
            yield (
                f'{{"Item": {{"pk": {{"S": "Q_{q}"}}, '
                f'"sk": {{"S": "{self.export_quest_names[q]}"}}, '
                f'"questId": {{"S": "{q}"}}}}}}'
            )
        for mq, (m, q, d) in self.export_mq.items():
            yield (
                f'{{"Item": {{"pk": {{"S": "MQ#M_{m}"}}, "sk": {{"S": "MQ_{mq}"}}, '
                f'"questId": {{"S": "{q}"}}, "dollarsEarned": {{"N": "{d}"}}}}}}'
            )

    # -- stream batches ---------------------------------------------------
    def batch(self, k: int) -> tuple[list[Event], list[str]]:
        """Batch ``k``: (events in file order, malformed payloads)."""
        s = self.shape
        rng = random.Random(f"{self.seed}:batch:{k}")
        span = max(60, s.batch_events // 2)  # seconds covered by one batch
        t0 = STREAM_START_S + k * span
        hot_m = self.members[: s.hot_keys]
        hot_mq = self.mqs[: s.hot_keys]
        out: list[tuple[str, str, str, int, dict | None]] = []

        def sec() -> int:
            return t0 + rng.randrange(span)

        def member_event(m: str, name: str, t: int):
            if name == "REMOVE":
                return (name, f"M_{m}", rng.choice(MEMBER_NAMES), t, None)
            nm = rng.choice(MEMBER_NAMES)
            return (name, f"M_{m}", nm, t,
                    {"pk": f"M_{m}", "sk": nm, "memberId": m, "memberName": nm})

        def quest_event(q: str, name: str, t: int):
            qn = rng.choice(QUEST_NAMES)
            if name == "REMOVE":
                return (name, f"Q_{q}", qn, t, None)
            return (name, f"Q_{q}", qn, t, {"pk": f"Q_{q}", "sk": qn, "questId": q})

        def mq_event(mq: str, name: str, t: int):
            m = self.mq_member.get(mq) or rng.choice(self.members)
            if name == "REMOVE":
                return (name, f"MQ#M_{m}", f"MQ_{mq}", t, None)
            return (name, f"MQ#M_{m}", f"MQ_{mq}", t, {
                "pk": f"MQ#M_{m}", "sk": f"MQ_{mq}",
                "questId": rng.choice(self.quests), "dollarsEarned": _cents(rng),
            })

        n_plain = s.batch_events - (
            2 * s.tie_pairs + s.absent_removes + 2 * s.remove_reinserts
            + s.late_events + s.stale_events
        )
        for _ in range(n_plain):
            u = rng.random()
            hot = rng.random() < s.hot_share
            kind = rng.random()
            name = "INSERT" if kind < 0.1 else "REMOVE" if kind < 0.2 else "MODIFY"
            if u < 0.35:
                m = rng.choice(hot_m) if hot else (
                    _uuid(rng) if name == "INSERT" else rng.choice(self.members)
                )
                out.append(member_event(m, name, sec()))
            elif u < 0.40:
                q = _uuid(rng) if name == "INSERT" else rng.choice(self.quests)
                out.append(quest_event(q, name, sec()))
            else:
                mq = rng.choice(hot_mq) if hot else (
                    _uuid(rng) if name == "INSERT" else rng.choice(self.mqs)
                )
                out.append(mq_event(mq, name, sec()))
        # ties: same key, same second; the second element of each pair
        # carries the numerically larger (shorter-looking) sequence number
        ties: list[tuple[int, int]] = []  # (loser index, winner index)
        for _ in range(s.tie_pairs):
            t = sec()
            if rng.random() < 0.5:
                mq = rng.choice(self.mqs)
                a, b = mq_event(mq, "MODIFY", t), mq_event(mq, "MODIFY", t)
            else:
                m = rng.choice(self.members)
                a, b = member_event(m, "MODIFY", t), member_event(m, "MODIFY", t)
            ties.append((len(out), len(out) + 1))
            out += [a, b]
        for _ in range(s.absent_removes):
            if rng.random() < 0.5:
                out.append(member_event(_uuid(rng), "REMOVE", sec()))
            else:
                out.append(mq_event(_uuid(rng), "REMOVE", sec()))
        for _ in range(s.remove_reinserts):
            t = t0 + rng.randrange(span - 1)
            mq = rng.choice(self.mqs)
            out += [mq_event(mq, "REMOVE", t), mq_event(mq, "INSERT", t + 1)]
        for _ in range(s.late_events):  # before the bootstrap
            t = BOOTSTRAP_S - 1 - rng.randrange(86400)
            out.append(mq_event(rng.choice(self.mqs), "MODIFY", t))
        for _ in range(s.stale_events):  # after the bootstrap, before batch k-1
            t = BOOTSTRAP_S + 1 + rng.randrange(max(1, t0 - span - BOOTSTRAP_S))
            out.append(member_event(rng.choice(self.members), "MODIFY", t))

        order = list(range(len(out)))
        rng.shuffle(order)
        pos = {i: p for p, i in enumerate(order)}
        seqs = [str(SEQ_BASE + k * 10**7 + pos[i]) for i in range(len(out))]
        for j, (lo, hi) in enumerate(ties):
            # loser: 20 nines-led digits, lexicographically above the winner
            seqs[lo] = str(SEQ_BASE - 1 - k * 10**5 - j)
            if rng.random() < 0.5:
                seqs[hi] = "000" + seqs[hi]  # leading zeros do not count
        events = [
            Event(seqs[i], out[i][0], out[i][1], out[i][2],
                  out[i][3] * 1000 + rng.randrange(1000), out[i][4])
            for i in order
        ]
        return events, list(MALFORMED)

    def batch_lines(self, k: int) -> list[str]:
        """Batch ``k`` as the stream file's JSON lines (valid and malformed
        records shuffled together)."""
        events, bad = self.batch(k)
        rng = random.Random(f"{self.seed}:lines:{k}")
        lines = [_record_line(e.seq, e.pk, _envelope(e)) for e in events]
        for j, payload in enumerate(bad):
            lines.insert(rng.randrange(len(lines) + 1),
                         _record_line(f"{k}{j:03d}", "bad", payload))
        return lines


def _av(v: str, key: str) -> dict:
    return {"N": v} if key == "dollarsEarned" else {"S": v}


def _envelope(e: Event) -> str:
    dyn = {
        "ApproximateCreationDateTime": e.ms,
        "Keys": {"pk": {"S": e.pk}, "sk": {"S": e.sk}},
    }
    if e.image is not None:
        dyn["NewImage"] = {k: _av(v, k) for k, v in e.image.items()}
    return json.dumps({
        "eventID": f"ev{e.seq[-12:]}", "awsRegion": "us-east-1",
        "eventName": e.name, "userIdentity": None, "tableName": "members",
        "eventSource": "aws:dynamodb", "dynamodb": dyn,
    })


def _record_line(seq: str, partition_key: str, payload: str) -> str:
    return json.dumps({
        "approximate_arrival_timestamp": "2023-11-15T00:00:00.000Z",
        "partition_key": partition_key, "shard_id": "shardId-000000000000",
        "sequence_number": seq, "kinesis_data": payload,
    })
