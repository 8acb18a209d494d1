"""Seeded airport CDC history with a ground-truth model of the dashboard.

The generator runs the reference simulation's state machine
(FIXTURES.md sections 3-5) in plain Python up to a fixed ``NOW``: about
100 flights of 50-320 passengers, check-in in batches of at most 64,
2% denied boarding, 0-5 bags per passenger. Every change is one CDC
event carrying the full row image. The program under test receives only
the events, already landed as typed ``<kind>_raw`` parquet logs; the
generator keeps the current OLTP state per entity and derives from it
the rows each of the four dashboard endpoints must return
(``expected_endpoints``).
"""

from __future__ import annotations

import random
import string
from dataclasses import dataclass, field
from datetime import datetime, timedelta
from decimal import ROUND_HALF_UP, Decimal

NOW = datetime(2026, 1, 1, 12, 0, 0)
N_FLIGHTS = 100
STAGES = ("open", "closed", "boarding", "boarded", "departed")
_RANK = {"departed": 5, "boarded": 4, "boarding": 3, "closed": 2, "open": 1}

FLIGHT_COLS = ("created_at", "flight_number", "id", "passenger_count",
               "status", "updated_at", "boarding_at", "boarded_at",
               "departed_at", "closed_at")
PASSENGER_COLS = ("created_at", "flight_id", "id", "name", "status",
                  "updated_at", "notboarded_at", "checkedin_at",
                  "onboarded_at")
BAG_COLS = ("created_at", "flight_id", "id", "passenger_id", "status",
            "updated_at", "weight", "offloaded_at", "loaded_at",
            "checkedin_at")


def _ms(rng: random.Random, lo_s: float, hi_s: float) -> timedelta:
    return timedelta(milliseconds=rng.randint(int(lo_s * 1000),
                                              int(hi_s * 1000)))


@dataclass
class AirportHistory:
    """Event logs in arrival order plus the current state per entity."""

    events: dict[str, list[dict]] = field(
        default_factory=lambda: {"flights": [], "passengers": [],
                                 "baggage": []})
    state: dict[str, dict[int, dict]] = field(
        default_factory=lambda: {"flights": {}, "passengers": {},
                                 "baggage": {}})

    def emit(self, kind: str, row: dict) -> None:
        if row["updated_at"] > NOW:
            return  # the simulation has not reached this change yet
        self.events[kind].append(dict(row))
        self.state[kind][row["id"]] = dict(row)


def generate(seed: int, n_flights: int = N_FLIGHTS) -> AirportHistory:
    rng = random.Random(seed)
    h = AirportHistory()
    numbers: set[str] = set()
    pax_id, bag_id = 0, 0
    for fid in range(1, n_flights + 1):
        while True:
            number = ("".join(rng.choices(string.ascii_uppercase, k=2))
                      + f"{rng.randint(0, 999):03d}")
            if number not in numbers:
                numbers.add(number)
                break
        created = NOW - _ms(rng, 60, 100 * 60)
        at = {"open": created}
        at["closed"] = created + _ms(rng, 15 * 60, 30 * 60)
        at["boarding"] = at["closed"] + _ms(rng, 20, 60)
        at["boarded"] = at["boarding"] + _ms(rng, 60, 300)
        at["departed"] = at["boarded"] + _ms(rng, 20, 60)
        pax_n = rng.randint(50, 320)
        flight = {c: None for c in FLIGHT_COLS}
        flight.update(id=fid, flight_number=number, passenger_count=pax_n,
                      created_at=created)
        for stage in STAGES:
            flight["status"] = stage
            flight["updated_at"] = at[stage]
            if stage != "open":
                flight[f"{stage}_at"] = at[stage]
            h.emit("flights", flight)

        # check-in in batches of at most 64 with one shared checkedin_at;
        # ~5% of the booked passengers never check in
        ids = list(range(pax_id + 1, pax_id + pax_n + 1))
        pax_id += pax_n
        checking_in = ids[: int(pax_n * rng.uniform(0.93, 0.99))]
        checkin_at: dict[int, datetime] = {}
        for k in range(0, len(checking_in), 64):
            t = created + _ms(rng, 30, (at["closed"] - created).seconds - 5)
            for pid in checking_in[k:k + 64]:
                checkin_at[pid] = t
        # boarding in batches between boarding and boarded; 2% denied
        boarded_at: dict[int, datetime] = {}
        board_order = list(checkin_at)
        rng.shuffle(board_order)
        span_ms = int((at["boarded"] - at["boarding"]).total_seconds() * 1000)
        for k in range(0, len(board_order), 40):
            t = at["boarding"] + timedelta(
                milliseconds=rng.randint(1, span_ms - 1))
            for pid in board_order[k:k + 40]:
                if rng.random() >= 0.02:
                    boarded_at[pid] = t
        for pid in ids:
            pax = {c: None for c in PASSENGER_COLS}
            pax.update(id=pid, name=f"pax-{pid}", flight_id=0, status="idle",
                       created_at=created - _ms(rng, 3600, 3 * 3600))
            pax["updated_at"] = pax["created_at"]
            h.emit("passengers", pax)
            if pid not in checkin_at:
                continue
            ci = checkin_at[pid]
            pax.update(flight_id=fid, status="checkedin", updated_at=ci,
                       checkedin_at=ci)
            h.emit("passengers", pax)
            bags = []
            for _ in range(min(5, max(0, round(rng.gauss(1.3, 0.5))))):
                bag_id += 1
                bag = {c: None for c in BAG_COLS}
                bag.update(id=bag_id, passenger_id=pid, flight_id=fid,
                           status="checkedin", created_at=ci, updated_at=ci,
                           checkedin_at=ci,
                           weight=round(min(32.0, max(5.0,
                                                      rng.gauss(15.0, 3.0))),
                                        2))
                h.emit("baggage", bag)
                bags.append(bag)
            if pid in boarded_at:
                status, t = "onboarded", boarded_at[pid]
                bag_status = "loaded"
            else:
                status, t = "notboarded", at["boarded"]
                bag_status = "offloaded"
            pax.update(status=status, updated_at=t, **{f"{status}_at": t})
            h.emit("passengers", pax)
            for bag in bags:
                bag.update(status=bag_status, updated_at=t,
                           **{f"{bag_status}_at": t})
                h.emit("baggage", bag)
    return h


def ingest_stamps(events: list[dict]) -> list[datetime]:
    """Ingestion time (``__timestamp``) of each event: 200 ms after the
    change, plus one microsecond per earlier change so that ingestion
    order is total."""
    order = sorted(range(len(events)), key=lambda i: events[i]["updated_at"])
    stamps: list[datetime] = [NOW] * len(events)
    for k, i in enumerate(order):
        stamps[i] = events[i]["updated_at"] + timedelta(milliseconds=200,
                                                        microseconds=k)
    return stamps


# -- ground truth: the four dashboard endpoints over the OLTP state -----------

def _minute(t: datetime | None) -> datetime | None:
    return None if t is None else t.replace(second=0, microsecond=0)


def _round2(x: float) -> float:
    """Spark ``round(double, 2)``: HALF_UP on the double's shortest repr."""
    return float(Decimal(repr(x)).quantize(Decimal("0.01"), ROUND_HALF_UP))


def _api_ts(t: datetime) -> str:
    return t.strftime("%Y-%m-%d %H:%M:%S.%f")


def _by_rank(rows: list[dict]) -> list[dict]:
    return sorted(rows, key=lambda r: (_RANK.get(r["flight_status"], 6),
                                       r["flight_number"]))


def expected_endpoints(h: AirportHistory) -> dict[str, list[dict]]:
    """Rows each dashboard endpoint must return at ``NOW``, in the
    ``to_api_json`` data shape (timestamps as strings)."""
    flights = h.state["flights"].values()
    pax = list(h.state["passengers"].values())
    bags = list(h.state["baggage"].values())
    pax_of: dict[int, list[dict]] = {}
    for p in pax:
        pax_of.setdefault(p["flight_id"], []).append(p)
    bags_of: dict[int, list[dict]] = {}
    for b in bags:
        bags_of.setdefault(b["flight_id"], []).append(b)

    baggage = []
    for f in flights:
        if f["departed_at"] is not None and \
                f["departed_at"] <= NOW - timedelta(seconds=30):
            continue
        row = {"flight_number": f["flight_number"],
               "flight_status": f["status"]}
        for status in ("checkedin", "loaded", "offloaded"):
            row[f"baggage_{status}"] = _round2(sum(
                [b["weight"] for b in bags_of.get(f["id"], [])
                 if b["status"] == status], 0.0))
        baggage.append(row)

    states = []
    for f in flights:
        if f["status"] == "departed" and \
                f["departed_at"] <= NOW - timedelta(seconds=20):
            continue
        ps = [p["status"] for p in pax_of.get(f["id"], [])]
        fs = f["status"]
        row = {"flight_number": f["flight_number"], "flight_status": fs,
               "booked": f["passenger_count"],
               "checkedin": ps.count("checkedin") if fs in ("open", "closed")
               else 0,
               "boarding": ps.count("checkedin") if fs == "boarding" else 0,
               "onboarded": ps.count("onboarded")
               if fs in ("boarding", "boarded", "departed") else 0,
               "notboarded": ps.count("notboarded")
               if fs in ("boarded", "departed") else 0}
        row["notcheckedin"] = row["booked"] - sum(
            row[c] for c in ("checkedin", "boarding", "onboarded",
                             "notboarded"))
        states.append(row)

    hour_ago = NOW - timedelta(hours=1)
    started: dict[datetime, set] = {}
    completed: dict[datetime, set] = {}
    for e in h.events["passengers"]:
        if e["updated_at"] <= hour_ago:
            continue
        s = _minute(e["checkedin_at"])
        c = _minute(e["onboarded_at"] or e["notboarded_at"])
        if s is not None:
            started.setdefault(s, set()).add(e["id"])
        if c is not None:
            completed.setdefault(c, set()).add(e["id"])
    activity = [{"interval": _api_ts(m),
                 "passengers_checkedin": len(started[m]),
                 "passengers_completed": len(completed[m])}
                for m in sorted(set(started) & set(completed))]

    missed: dict[datetime, list[int]] = {}
    for f in flights:
        if f["closed_at"] is None or not hour_ago <= f["closed_at"] <= NOW:
            continue
        n = sum(1 for p in pax_of.get(f["id"], [])
                if p["status"] == "notboarded")
        if n:
            acc = missed.setdefault(_minute(f["closed_at"]), [0, 0])
            acc[0] += n
            acc[1] += f["passenger_count"]
    active: dict[datetime, set] = {}
    for e in h.events["flights"]:
        if e["created_at"] > hour_ago and e["departed_at"] is None:
            active.setdefault(_minute(e["updated_at"]), set()).add(e["id"])
    top = _minute(NOW)
    series = [top - timedelta(minutes=k) for k in range(60, -1, -1)]
    vs = [{"time_interval": _api_ts(m),
           "flights_missed_pct": (_round2(missed[m][0] * 100 / missed[m][1])
                                  if m in missed else 0.0),
           "active_flights": len(active[m])}
          for m in series if m in active]
    return {"active_vs_missed_flights": vs,
            "passenger_activity": activity,
            "passengers_by_flight_status": _by_rank(states),
            "baggage_by_flight_status": _by_rank(baggage)}


# active_vs_missed_flights has no ORDER BY in its last node, so its rows
# are compared as a set keyed by minute; the others in order.
UNORDERED = {"active_vs_missed_flights": "time_interval"}


def mismatch(endpoint: str, got: list[dict], want: list[dict]) -> str | None:
    """First difference between a response's rows and the model, or None."""
    key = UNORDERED.get(endpoint)
    if key:
        got = sorted(got, key=lambda r: r[key])
    if len(got) != len(want):
        return f"{endpoint}: {len(got)} rows, model has {len(want)}"
    for i, (g, w) in enumerate(zip(got, want)):
        for c, wv in w.items():
            gv = g.get(c)
            if isinstance(wv, float):
                ok = isinstance(gv, (int, float)) and abs(gv - wv) < 0.011
            else:
                ok = gv == wv
            if not ok:
                return f"{endpoint} row {i} {c}: got {gv!r}, model {wv!r}"
    return None
