"""Seeded input generators. The program under test sees only the files
written here; the same seed always gives the same bytes.

Raw documents follow the OpenWeatherMap shape the silver layer consumes
and carry the pathologies ``tests/fixtures.make_raw_docs`` covers, at the
shares that fixture uses.
"""

from __future__ import annotations

import json
import os
import random
from collections.abc import Iterator
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone

EPOCH = datetime(2024, 1, 1, tzinfo=timezone.utc)
CONDITIONS = ["Clear", "Clouds", "Rain", "Drizzle", "Snow", "Mist"]
COUNTRIES = ["US", "GB", "JP", "AU", "DE", "NG", "BR", "IN", "FR", "CA"]
REQUIRED_KEYS = ("main", "wind", "weather")

# Pathology shares, as in tests/fixtures.make_raw_docs:
#: documents missing one required key (dropped by the silver filter)
MISSING_KEY_SHARE = 0.03
#: documents with a null epoch ``dt`` (timestamp from the ISO string)
NULL_DT_SHARE = 0.10
#: extreme temperature outliers (nulled and median-filled by cleaning)
OUTLIER_SHARE = 0.02
#: null struct members (``main.humidity``)
NULL_MEMBER_SHARE = 0.02


@dataclass(frozen=True)
class Traffic:
    """The traffic dimensions of a raw-document workload."""

    cities: int
    days: int
    obs_per_day: int
    batch_size: int = 0


def _cities(rng: random.Random, n: int) -> list[tuple[str, str, float]]:
    return [
        (f"City{i:03d}", COUNTRIES[i % len(COUNTRIES)], round(rng.uniform(-5.0, 28.0), 1))
        for i in range(n)
    ]


def raw_doc_stream(seed: int, traffic: Traffic, first_day: int = 0) -> Iterator[dict]:
    """Documents in time order, day by day from ``first_day``; unbounded
    when ``traffic.days`` is 0. Each document is valid (passes the silver
    required-key filter) unless its ``_valid`` flag is False; callers pop
    the flag before writing."""
    cities = _cities(random.Random(seed), traffic.cities)
    rng = random.Random(seed * 1_000_003 + first_day)
    slot = 1440 // traffic.obs_per_day
    day = first_day
    while traffic.days == 0 or day < first_day + traffic.days:
        for k in range(traffic.obs_per_day):
            for city, country, base in cities:
                ts = EPOCH + timedelta(days=day, minutes=k * slot + rng.randrange(slot))
                temp = base + rng.gauss(0.0, 4.0)
                if rng.random() < OUTLIER_SHARE:
                    temp = 9999.0
                doc = {
                    "city_name": city,
                    "country_code": country,
                    "extraction_timestamp": ts.replace(tzinfo=None).isoformat(),
                    "dt": None if rng.random() < NULL_DT_SHARE else int(ts.timestamp()),
                    "main": {
                        "temp": round(temp, 2),
                        "feels_like": round(temp - rng.uniform(0, 3), 2),
                        "temp_min": round(temp - rng.uniform(0, 2), 2),
                        "temp_max": round(temp + rng.uniform(0, 2), 2),
                        "pressure": round(1013 + rng.gauss(0, 8), 1),
                        "humidity": float(rng.randint(20, 95)),
                    },
                    "wind": {"speed": round(abs(rng.gauss(4, 2)), 2),
                             "deg": float(rng.randint(0, 359))},
                    "weather": [{"main": rng.choice(CONDITIONS),
                                 "description": "synthetic observation"}],
                }
                valid = True
                if rng.random() < MISSING_KEY_SHARE:
                    doc.pop(rng.choice(REQUIRED_KEYS))
                    valid = False
                if rng.random() < NULL_MEMBER_SHARE and "main" in doc:
                    doc["main"]["humidity"] = None
                doc["_valid"] = valid
                yield doc
        day += 1


def dump_lines(docs: list[dict]) -> tuple[bytes, int]:
    """JSON-lines bytes of ``docs`` and how many of them are valid."""
    valid = 0
    lines = []
    for d in docs:
        valid += d.pop("_valid")
        lines.append(json.dumps(d, separators=(",", ":")))
    return ("\n".join(lines) + "\n").encode(), valid


def write_raw_history(path: str, seed: int, traffic: Traffic) -> tuple[int, int]:
    """One JSON-lines file per day of history under ``path``. Returns
    (documents written, documents valid)."""
    os.makedirs(path, exist_ok=True)
    per_file = traffic.cities * traffic.obs_per_day
    stream = raw_doc_stream(seed, traffic)
    total = valid = 0
    for day in range(traffic.days):
        docs = [next(stream) for _ in range(per_file)]
        data, v = dump_lines(docs)
        with open(os.path.join(path, f"obs_{day:04d}.jsonl"), "wb") as f:
            f.write(data)
        total += len(docs)
        valid += v
    return total, valid

