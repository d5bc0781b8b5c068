"""Seeded NeoWs feed generator for the lake workloads.

Scales the document shapes of ``tests/fixtures_neows.py`` (it builds every
asteroid and approach with that module's helpers) to N days x M asteroids per
day x 0-3 approaches, keeping the fixture's edge cases at fixed rates:

- asteroid ids repeat across days (a bounded pool) and, now and then, within
  one day (the dim_asteroid survivor case);
- an empty ``close_approach_data`` list (null approach columns);
- an uncastable velocity string (nulled by the tolerant cast);
- a null ``close_approach_date`` (null approach_date, null date_id FK);
- non-Earth orbiting bodies (extra dim_celestial_body rows).

Alongside the documents it returns the exact counts ``pipeline.run`` must
report and the written tables must hold, at the reference-parity grain
(first approach only).
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field
from datetime import date, timedelta

from tests.fixtures_neows import _approach, _asteroid

START_DATE = date(2021, 1, 1)
BODIES = ("Earth", "Mars", "Venus", "Merc", "Juptr")
BODY_WEIGHTS = (85, 5, 4, 3, 3)
N_APPROACH_WEIGHTS = (5, 60, 25, 10)  # P(0), P(1), P(2), P(3) approaches, %
EMPTY_RATE = N_APPROACH_WEIGHTS[0] / 100
BAD_VELOCITY_RATE = 0.02
NULL_DATE_RATE = 0.02
REPEAT_IN_DAY_RATE = 0.25  # per day: one id reported twice that day
HAZARDOUS_RATE = 0.08


@dataclass
class Expected:
    """Exact counts one set of documents yields at the parity grain."""

    silver: int = 0
    dim_asteroid: int = 0
    dim_date: int = 0
    dim_celestial_body: int = 0
    null_velocity: int = 0
    null_approach_date: int = 0
    ids: set = field(default_factory=set, repr=False)

    @property
    def fact_asteroid_approach(self) -> int:
        return self.silver

    def gold_counts(self) -> dict[str, int]:
        return {
            "dim_asteroid": self.dim_asteroid,
            "dim_date": self.dim_date,
            "dim_celestial_body": self.dim_celestial_body,
            "fact_asteroid_approach": self.fact_asteroid_approach,
        }


@dataclass
class Day:
    feed_date: date
    document: dict
    expected: Expected


class FeedGenerator:
    """Deterministic feed: the same seed and sizes give the same documents."""

    def __init__(self, seed: int, asteroids_per_day: int, pool_size: int):
        self.rng = random.Random(seed)
        self.per_day = asteroids_per_day
        self.pool = [self._new_asteroid(i) for i in range(max(pool_size, asteroids_per_day))]

    def _new_asteroid(self, i: int) -> dict:
        rng = self.rng
        aid = str(2_000_000 + i * 7 + rng.randrange(7))
        return {
            "id": aid,
            "name": f"({2000 + rng.randrange(25)} {chr(65 + rng.randrange(26))}{chr(65 + rng.randrange(26))}{i})",
            "magnitude": round(rng.uniform(15.0, 30.0), 2),
            "hazardous": rng.random() < HAZARDOUS_RATE,
        }

    def _approaches(self, feed_date: date) -> list[dict]:
        rng = self.rng
        n = rng.choices(range(len(N_APPROACH_WEIGHTS)), N_APPROACH_WEIGHTS)[0]
        out = []
        for k in range(n):
            when = feed_date if k == 0 else feed_date + timedelta(days=rng.randrange(1, 3650))
            v_kms = rng.uniform(1.0, 40.0)
            d_km = rng.uniform(1e5, 7.5e7)
            kw = {
                "date": when.isoformat(),
                "full": f"{when:%Y-%b-%d} {rng.randrange(24):02d}:{rng.randrange(60):02d}",
                "body": rng.choices(BODIES, BODY_WEIGHTS)[0],
                "v_kms": f"{v_kms:.9f}",
                "v_kmh": f"{v_kms * 3600:.6f}",
                "d_km": f"{d_km:.6f}",
                "d_au": f"{d_km / 149_597_870.7:.9f}",
                "d_lunar": f"{d_km / 384_400:.6f}",
            }
            if rng.random() < BAD_VELOCITY_RATE:
                kw["v_kms"] = "not-a-number"
            if rng.random() < NULL_DATE_RATE:
                kw["date"] = None
            out.append(_approach(**kw))
        return out

    def day(self, feed_date: date) -> Day:
        rng = self.rng
        chosen = rng.sample(self.pool, self.per_day)
        if rng.random() < REPEAT_IN_DAY_RATE:
            chosen[-1] = chosen[0]
        asteroids = [
            _asteroid(
                a["id"],
                a["name"],
                magnitude=a["magnitude"],
                hazardous=a["hazardous"],
                approaches=self._approaches(feed_date),
            )
            for a in chosen
        ]
        key = feed_date.isoformat()
        document = {
            "element_count": len(asteroids),
            "links": {
                "next": f"http://api.nasa.gov/neo/rest/v1/feed?start_date={feed_date + timedelta(days=1)}",
                "prev": f"http://api.nasa.gov/neo/rest/v1/feed?start_date={feed_date - timedelta(days=1)}",
                "self": f"http://api.nasa.gov/neo/rest/v1/feed?start_date={key}",
            },
            "near_earth_objects": {key: asteroids},
        }
        return Day(feed_date, document, expected_counts([document]))

    def days(self, n: int, start: date = START_DATE) -> list[Day]:
        return [self.day(start + timedelta(days=i)) for i in range(n)]


def expected_counts(documents: list[dict]) -> Expected:
    """Counts the documents yield through flatten_feed + build_star."""
    exp = Expected()
    dates, bodies = set(), set()
    for doc in documents:
        for asteroids in doc["near_earth_objects"].values():
            for a in asteroids:
                exp.silver += 1
                exp.ids.add(a["id"])
                first = a["close_approach_data"][0] if a["close_approach_data"] else None
                if first is None:
                    dates.add(None)
                    bodies.add(None)
                    exp.null_velocity += 1
                    exp.null_approach_date += 1
                    continue
                dates.add(first["close_approach_date"])
                bodies.add(first["orbiting_body"])
                try:
                    float(first["relative_velocity"]["kilometers_per_second"])
                except ValueError:
                    exp.null_velocity += 1
                if first["close_approach_date"] is None:
                    exp.null_approach_date += 1
    exp.dim_asteroid = len(exp.ids)
    exp.dim_date = len(dates)
    exp.dim_celestial_body = len(bodies)
    return exp
