"""Seeded users CDC stream (PG connector shape) with its ground truth.

Follows FIXTURES.md section 1: 30/60/10 insert/update/soft-delete, the
first event of an empty table is an insert, updates change address and
phone (p=0.1) or advance ``email_verified`` then ``onboarded``, soft
deletes never target a deleted row, and ``updated_at`` (epoch
microseconds, virtual time) strictly increases. Delivery is
at-least-once and unordered: each odd file holds back to the next file,
and each even file delivers a second time, n/40 of its n changes (at
least one, so one in 20 of a 20-change file), and every third file
carries one malformed line. The seed picks which changes these are,
never how many, so every seed loads the engine alike. The generator
keeps the OLTP table itself in ``truth``, as the reference's replay
check does; the program under test sees only the JSON lines.
"""

from __future__ import annotations

import json
import random
from dataclasses import dataclass, field
from datetime import datetime, timedelta

EPOCH = datetime(1970, 1, 1)
BASE_US = int((datetime(2026, 1, 1) - EPOCH).total_seconds()) * 1_000_000
LANGS = ("en", "es", "fr", "de", "it")
DISORDER_EVERY = 40   # share of a file's changes held back or redelivered
MALFORMED_EVERY = 3   # one malformed line in every third file


def api_ts(us: int) -> str:
    """A microsecond stamp as ``to_api_json`` renders timestamps."""
    return (EPOCH + timedelta(microseconds=us)).strftime(
        "%Y-%m-%d %H:%M:%S.%f")


@dataclass
class UsersStream:
    seed: int
    truth: dict[int, dict] = field(default_factory=dict)
    malformed: int = 0

    def __post_init__(self):
        self._rng = random.Random(self.seed)
        self._t = BASE_US
        self._next_id = 1
        self._files = 0
        self._sent: list[dict] = []
        self._held: list[dict] = []

    def _event(self) -> dict:
        rng = self._rng
        self._t += rng.randint(1_000, 5_000)
        live = [k for k, v in self.truth.items() if not v["deleted"]]
        op = ("insert" if not live else
              rng.choices(("insert", "update", "delete"), (30, 60, 10))[0])
        if op == "insert":
            uid = self._next_id
            self._next_id += 1
            row = {"id": uid, "name": f"user-{uid}",
                   "email": f"user{uid}@example.com",
                   "address": f"{uid} Main St",
                   "phone_number": f"+1-555-{uid:05d}",
                   "email_verified": 0, "onboarded": 0, "deleted": 0,
                   "lang": rng.choice(LANGS), "created_at": self._t}
        else:
            row = dict(self.truth[rng.choice(live)])
            if op == "delete":
                row["deleted"] = 1
            elif rng.random() < 0.1:
                row["address"] = f"{row['id']} New Ave #{self._t % 100_000}"
                row["phone_number"] = f"+1-666-{self._t % 100_000:05d}"
            elif not row["email_verified"]:
                row["email_verified"] = 1
            elif not row["onboarded"]:
                row["onboarded"] = 1
        row["updated_at"] = self._t
        self.truth[row["id"]] = dict(row)
        return {**row, "__deleted": "false"}

    def file(self, n: int) -> tuple[list[str], list[tuple[int, int]]]:
        """The lines of one source file, and the (id, updated_at) of the
        ``n`` changes created for it. A held-back change is delivered
        with the next file instead."""
        rng, k = self._rng, self._files
        self._files += 1
        new = [self._event() for _ in range(n)]
        created = [(e["id"], e["updated_at"]) for e in new]
        m = max(1, n // DISORDER_EVERY)
        held = rng.sample(new, m) if k % 2 else []
        out = self._held + [e for e in new if not any(e is h for h in held)]
        if not k % 2:
            out += rng.sample(self._sent + out, m)
        self._sent.extend(out)
        self._held = held
        lines = [json.dumps(e) for e in out]
        if k % MALFORMED_EVERY == 0:
            self.malformed += 1
            ev = rng.choice(out)
            bad = json.dumps(ev)
            lines.append(bad[: len(bad) // 2] if rng.random() < 0.5
                         else json.dumps({**ev, "id": f"x{ev['id']}"}))
        rng.shuffle(lines)
        return lines, created

    def flush(self) -> list[str]:
        """Deliver whatever is still held back."""
        out, self._held = self._held, []
        self._sent.extend(out)
        return [json.dumps(e) for e in out]
