"""Seeded chat load generator and its plain-Python expected state.

The generator plays the game server: seven rooms, each with a window
of the newest 100 visible messages. Every poll sweep, a few messages
arrive per room, a small share of visible messages are edited or
deleted (rendered with the ``redstripes`` class), and each room's
window is rendered as one chat payload in the game's markup. A sweep
is written with pyarrow as one parquet file in the landing-zone schema
(``sources/landing.py:PAYLOAD_SCHEMA``), so load generation runs no
Spark job.

The generator also folds every observation it lands through the CDC
rules of the E1 pipeline (first observation per id for the insert
sink; latest change per (room, id) with the partial-document rules for
the document sink). The benchmark compares the sinks against that
state after each run. Only standard-library Python computes it, so a
bug in the program cannot hide in its own oracle.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone
from zoneinfo import ZoneInfo

import pyarrow as pa
import pyarrow.parquet as pq

ROOMS = ["help", "global", "spoilers", "trade", "giveaways", "trivia", "staff"]
WINDOW = 100  # messages per room payload, as the game serves them
SERVER_TIME = ZoneInfo("America/Chicago")
# June: no daylight-saving switch within the hours of virtual time a
# run covers, so rendered wall-clock times map back to UTC uniquely
BASE_TS = datetime(2024, 6, 3, 12, 0, 0, tzinfo=timezone.utc)
LIVE_ID0 = 1_100_000_000  # live ids; history ids sit below, same width
HIST_ID0 = 1_000_000_000
WORDS = (
    "crops seeds water farm barn fish bait sell trade rod pie honey "
    "wool egg milk apple corn mine ore iron wood board rope net tower "
    "quest help thanks nice lol anyone orchard grape steak pepper"
).split()

LANDING_SCHEMA = pa.schema(
    [
        ("source", pa.string()),
        ("key", pa.string()),
        ("fetch_ts", pa.timestamp("us", tz="UTC")),
        ("status", pa.int32()),
        ("body", pa.binary()),
    ]
)

_DIV = (
    '<div class="chat-txt%s"><span>%s</span>'
    '<div class="chip"><div class="chip-media">'
    '<img data-username="%s" src="/img/emblems/e.png"></div></div>'
    '<a href="javascript:delChat(%d)">x</a>'
    '<i class="f7-icons">flag</i><span>%s</span></div>'
)


@dataclass
class Msg:
    id: int
    ts: datetime
    username: str
    mentions: list[str]
    body: str
    deleted: bool = False

    @property
    def content(self) -> str:
        return " ".join([f"@{m}:" for m in self.mentions] + [self.body])


@dataclass
class ChatParams:
    """Chat traffic per poll sweep; README.md gives each value's
    source. The repository has no figure for edits and deletes, so
    those two rates are assumed."""

    new_per_sweep: float = 5.0  # mean arrivals per room per sweep
    edit_rate: float = 0.004  # per visible live message per sweep
    delete_rate: float = 0.004
    mention_rate: float = 0.075  # share of new messages with 1-2 @mentions


def _us(ts: datetime | None) -> int | None:
    return None if ts is None else int(ts.timestamp()) * 1_000_000


@dataclass
class ChatGenerator:
    """Deterministic in ``seed``: the same seed lands the same bytes."""

    seed: int
    params: ChatParams = field(default_factory=ChatParams)

    def __post_init__(self) -> None:
        self.rng = random.Random(self.seed)
        self.sweeps = 0
        self.next_id = LIVE_ID0
        self.rooms: dict[str, list[Msg]] = {}
        # CDC state per (room, id): (content, deleted, deleted_ts, ts, username)
        self._cdc: dict[tuple[str, int], tuple] = {}
        self._pending: list[tuple] = []  # changes emitted since last drain
        self.messages: dict[int, tuple] = {}  # insert sink: first observation
        self.docs: dict[tuple[str, int], tuple] = {}  # document sink
        self.observations = 0
        t0 = BASE_TS - timedelta(seconds=WINDOW)
        for room in ROOMS:
            # a full window of older messages, newest first
            self.rooms[room] = [
                self._new_msg(t0 - timedelta(seconds=i)) for i in range(WINDOW)
            ]

    def _new_msg(self, ts: datetime) -> Msg:
        rng = self.rng
        mid = self.next_id
        self.next_id += 1
        mentions = []
        if rng.random() < self.params.mention_rate:
            mentions = [f"u{rng.randrange(200)}" for _ in range(rng.randint(1, 2))]
        body = " ".join(rng.choice(WORDS) for _ in range(rng.randint(3, 12)))
        return Msg(mid, ts, f"u{rng.randrange(200)}", mentions, body)

    def fetch_ts(self, sweep: int) -> datetime:
        return BASE_TS + timedelta(seconds=sweep)

    def _advance(self, fetch_ts: datetime) -> None:
        p, rng = self.params, self.rng
        for room, msgs in self.rooms.items():
            for m in msgs:
                if m.deleted:
                    continue
                r = rng.random()
                if r < p.delete_rate:
                    m.deleted = True
                elif r < p.delete_rate + p.edit_rate:
                    m.body += " " + rng.choice(WORDS)
            n = int(p.new_per_sweep)
            n += rng.random() < p.new_per_sweep - n
            n = rng.randint(max(0, n - 2), n + 2)
            arrivals = [self._new_msg(fetch_ts) for _ in range(n)]
            self.rooms[room] = (arrivals[::-1] + msgs)[:WINDOW]

    def _render(self, msgs: list[Msg]) -> bytes:
        out = []
        for m in msgs:
            wall = m.ts.astimezone(SERVER_TIME).strftime("%I:%M:%S %p")
            cls = " redstripes" if m.deleted else ""
            out.append(_DIV % (cls, wall, m.username, m.id, m.content))
        return "".join(out).encode()

    def _observe(self, room: str, m: Msg, obs_ts: datetime) -> None:
        """One observation through the CDC rules
        (``streaming/chat_cdc.py:_cdc_core``)."""
        self.observations += 1
        key = (room, m.id)
        row = (m.content, m.deleted, m.ts, m.username)
        prior = self._cdc.get(key)
        deleted_ts = None
        if prior is not None:
            deleted_ts = prior[2]
            if row == (prior[0], prior[1], prior[3], prior[4]):
                self._cdc[key] = (*row[:2], deleted_ts, *row[2:])
                return
            if m.deleted and not prior[1]:
                deleted_ts = obs_ts
        self._cdc[key] = (*row[:2], deleted_ts, *row[2:])
        # snapshot: the message may change later without being observed
        self._pending.append((room, m.id, deleted_ts, ",".join(m.mentions), *row))

    def land_sweep(self, landing_dir: str) -> int:
        """Advance one poll interval and land its seven payloads as one
        parquet file (written under a hidden name, then renamed, so a
        file-stream listing never sees a partial file). Returns the
        number of message observations landed."""
        fetch_ts = self.fetch_ts(self.sweeps)
        if self.sweeps:
            self._advance(fetch_ts)
        bodies = []
        n = 0
        for room in ROOMS:
            msgs = self.rooms[room]
            bodies.append(self._render(msgs))
            for m in msgs:
                self._observe(room, m, fetch_ts)
            n += len(msgs)
        table = pa.table(
            {
                "source": ["chat"] * len(ROOMS),
                "key": ROOMS,
                "fetch_ts": [fetch_ts] * len(ROOMS),
                "status": [200] * len(ROOMS),
                "body": bodies,
            },
            schema=LANDING_SCHEMA,
        )
        name = f"sweep-{self.sweeps:06d}.parquet"
        tmp = os.path.join(landing_dir, "." + name)
        pq.write_table(table, tmp)
        os.replace(tmp, os.path.join(landing_dir, name))
        self.sweeps += 1
        return n

    def commit_trigger(self) -> None:
        """Apply the changes of everything landed since the last call
        as one micro-batch through the two sink rules: insert-if-absent
        of the first observation per id, and a partial document update
        from the latest change per (room, id), where ``deleted_ts``
        only moves when the change is a deletion."""
        latest: dict[tuple[str, int], tuple] = {}
        for change in self._pending:
            room, mid, deleted_ts, mentions, content, deleted, ts, user = change
            if mid not in self.messages:
                self.messages[mid] = (
                    room, str(mid), _us(ts), "", user, content, 0, deleted,
                    _us(deleted_ts),
                )
            latest[(room, mid)] = change
        self._pending = []
        for key, change in latest.items():
            room, mid, deleted_ts, mentions, content, deleted, ts, user = change
            old = self.docs.get(key)
            dts = _us(deleted_ts) if deleted else (old[7] if old else None)
            self.docs[key] = (
                room, str(mid), _us(ts), user, mentions, content, deleted, dts,
                None,
            )

    def latest_ids(self, room: str, n: int = 20) -> list[str]:
        """Ids of the newest ``n`` messages of ``room`` in the insert
        sink, newest first (ties on ts broken by the larger id)."""
        rows = [r for r in self.messages.values() if r[0] == room]
        rows.sort(key=lambda r: (r[2], r[1]), reverse=True)
        return [r[1] for r in rows[:n]]


MESSAGE_COLS = [
    "room", "id", "ts", "emblem", "username", "content", "flags",
    "deleted", "deleted_ts",
]
DOC_COLS = [
    "room", "id", "ts", "username", "mentions", "content", "deleted",
    "deleted_ts", "flags",
]


def write_history(path_messages: str, path_docs: str, n: int, seed: int) -> None:
    """Older messages already in the sinks before the stream starts,
    written with pyarrow in each sink's schema. Ids sit below the live
    range and timestamps before it, so the stream never touches them."""
    rng = random.Random(seed ^ 0x5EED)
    ts0 = _us(BASE_TS - timedelta(days=30))
    ids = [str(HIST_ID0 + i) for i in range(n)]
    rooms = [ROOMS[i % len(ROOMS)] for i in range(n)]
    ts = [ts0 + i * 1_000_000 for i in range(n)]
    users = [f"u{rng.randrange(200)}" for _ in range(n)]
    content = [" ".join(rng.choices(WORDS, k=6)) for _ in range(n)]
    deleted = [rng.random() < 0.01 for _ in range(n)]
    tstype = pa.timestamp("us", tz="UTC")
    common = {
        "room": pa.array(rooms, pa.string()),
        "id": pa.array(ids, pa.string()),
        "ts": pa.array(ts, tstype),
        "username": pa.array(users, pa.string()),
        "content": pa.array(content, pa.string()),
        "deleted": pa.array(deleted, pa.bool_()),
        "deleted_ts": pa.array([t if d else None for t, d in zip(ts, deleted)], tstype),
    }
    msgs = dict(common)
    msgs["emblem"] = pa.array(["e.png"] * n, pa.string())
    msgs["flags"] = pa.array([0] * n, pa.int32())
    docs = dict(common)
    docs["mentions"] = pa.array([""] * n, pa.string())
    docs["flags"] = pa.nulls(n, pa.int32())
    pq.write_table(pa.table({c: msgs[c] for c in MESSAGE_COLS}), path_messages)
    pq.write_table(pa.table({c: docs[c] for c in DOC_COLS}), path_docs)
