"""Seeded GeoNet feed generator for the ``quake_feed`` workload.

Writes a series of GeoNet ``/quake`` FeatureCollection snapshots, one
JSON file per poll, with churn between polls: quakes drop out of the
feed (expiry by omission), new ones arrive, and some are revised
(magnitude re-estimated, quality upgraded or set to ``deleted``).

Every snapshot carries the edge rows the transform must handle:
``quality='deleted'``, MMI below the job's threshold, events older than
the age limit, MMI -1 and 12, and event times on both sides of the NZ
daylight-saving change of 2026-04-04T14:00Z (03:00 NZDT -> 02:00 NZST).

The generator is also the oracle: for each tick it computes which
feature ids the pipeline must publish and which ids it must expire,
plus the callsign and NZ zone abbreviation of every published feature.
The same seed gives byte-identical snapshot files.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass, field
from datetime import datetime, timezone
from decimal import ROUND_HALF_UP, Decimal

# The job's clock and filters. ``now`` sits three days after the DST
# change so both sides of it are inside the seven-day age window.
NOW_MS = int(datetime(2026, 4, 7, 12, 0, tzinfo=timezone.utc).timestamp() * 1000)
MIN_MMI = 3
MAX_AGE_MINUTES = 10080.0
DST_END_UTC = datetime(2026, 4, 4, 14, 0, tzinfo=timezone.utc)

LOCALITIES = (
    "Wellington", "Taupo", "Kaikoura", "Gisborne", "Christchurch",
    "Auckland", "Napier", "Rotorua", "Hamilton", "Dunedin",
    "Seddon", "Hanmer Springs", "Te Anau", "Whakatane", "Milford Sound",
)
QUALITIES = ("best", "preliminary", "automatic")
CHURN = 0.08  # share of the feed that drops out (and arrives) per tick


@dataclass
class Quake:
    public_id: str
    time_ms: int
    depth: float
    magnitude: float
    mmi: int
    locality: str
    quality: str
    lon: float
    lat: float

    def feature(self) -> dict:
        return {
            "type": "Feature",
            "properties": {
                "publicID": self.public_id,
                "time": iso_ms(self.time_ms),
                "depth": self.depth,
                "magnitude": self.magnitude,
                "mmi": self.mmi,
                "locality": self.locality,
                "quality": self.quality,
            },
            "geometry": {"type": "Point", "coordinates": [self.lon, self.lat]},
        }

    def published(self) -> bool:
        age_minutes = (NOW_MS - self.time_ms) / 60_000.0
        return (
            age_minutes <= MAX_AGE_MINUTES
            and self.quality != "deleted"
            and self.mmi >= MIN_MMI
        )


@dataclass
class Tick:
    """Oracle for one snapshot: what the sink must publish and expire."""

    n_features: int
    published: dict[str, tuple[str, str]] = field(default_factory=dict)  # id -> (callsign, zone)
    expired: set[str] = field(default_factory=set)


def iso_ms(ms: int) -> str:
    dt = datetime.fromtimestamp(ms / 1000, tz=timezone.utc)
    return dt.strftime("%Y-%m-%dT%H:%M:%S.") + f"{ms % 1000:03d}Z"


def js_to_fixed(x: float, digits: int) -> str:
    """JS ``Number.prototype.toFixed``: rounds the exact binary value,
    ties away from zero."""
    d = Decimal(x)
    r = d.copy_abs().quantize(Decimal(1).scaleb(-digits), rounding=ROUND_HALF_UP)
    return f"{-r if d < 0 else r:.{digits}f}"


def nz_zone(ms: int) -> str:
    return "NZDT" if ms < DST_END_UTC.timestamp() * 1000 else "NZST"


class FeedGenerator:
    """Seeded snapshot series. ``snapshots()`` yields (features, Tick)."""

    def __init__(self, seed: int, n_features: int) -> None:
        self.rng = random.Random(seed)
        self._next_id = 0
        self.live: list[Quake] = [self._new_quake() for _ in range(n_features)]

    def _new_quake(self) -> Quake:
        rng = self.rng
        self._next_id += 1
        kind = rng.random()
        dst_ms = int(DST_END_UTC.timestamp() * 1000)
        if kind < 0.10:  # within six hours either side of the DST change
            t = dst_ms + rng.randint(-6 * 3600, 6 * 3600) * 1000 + rng.randint(0, 999)
        elif kind < 0.16:  # aged out: eight to thirty days old
            t = NOW_MS - rng.randint(8 * 1440, 30 * 1440) * 60_000 - rng.randint(0, 59_999)
        else:  # inside the window, at least a minute from either edge
            t = NOW_MS - rng.randint(1, int(MAX_AGE_MINUTES) - 1) * 60_000 + rng.randint(0, 59_999)
        edge = rng.random()
        if edge < 0.04:
            mmi = -1
        elif edge < 0.08:
            mmi = 12
        else:
            mmi = rng.randint(0, 9)
        quality = "deleted" if rng.random() < 0.05 else rng.choice(QUALITIES)
        return Quake(
            public_id=f"2026p{self._next_id:07d}",
            time_ms=t,
            depth=round(rng.uniform(0.0, 400.0), rng.choice((1, 2, 3))),
            magnitude=round(rng.uniform(0.5, 7.9), rng.choice((1, 2, 3))),
            mmi=mmi,
            locality=rng.choice(LOCALITIES),
            quality=quality,
            lon=round(rng.uniform(165.0, 179.9), 4),
            lat=round(rng.uniform(-47.5, -34.0), 4),
        )

    def _step(self) -> None:
        rng = self.rng
        n_out = int(len(self.live) * CHURN)
        for _ in range(n_out):  # expiry by omission
            self.live.pop(rng.randrange(len(self.live)))
        for q in rng.sample(self.live, int(len(self.live) * CHURN / 2)):
            if rng.random() < 0.2:
                q.quality = "deleted"
            else:  # revised solution
                q.magnitude = round(q.magnitude + rng.choice((-0.1, 0.1, 0.25)), 2)
                q.quality = "best"
        self.live.extend(self._new_quake() for _ in range(n_out))

    def snapshots(self, n_ticks: int):
        previous: set[str] = set()
        for i in range(n_ticks):
            if i:
                self._step()
            order = list(self.live)
            self.rng.shuffle(order)  # the feed's own order is not by id
            tick = Tick(n_features=len(order))
            for q in order:
                if q.published():
                    tick.published["earthquake-" + q.public_id] = (
                        f"M{js_to_fixed(q.magnitude, 1)} {q.locality}",
                        nz_zone(q.time_ms),
                    )
            tick.expired = previous - tick.published.keys()
            previous = set(tick.published)
            yield [q.feature() for q in order], tick


def write_feed(directory: str, seed: int, n_ticks: int, n_features: int) -> list[Tick]:
    """Write ``n_ticks`` snapshot files into ``directory`` and return
    the per-tick oracle. File modification times increase with the
    tick index so a file stream reads them in tick order."""
    os.makedirs(directory, exist_ok=True)
    ticks = []
    gen = FeedGenerator(seed, n_features)
    for i, (features, tick) in enumerate(gen.snapshots(n_ticks)):
        path = os.path.join(directory, f"snapshot_{i:04d}.json")
        with open(path, "w", encoding="utf-8") as fh:
            json.dump({"type": "FeatureCollection", "features": features}, fh)
        os.utime(path, ns=(1_700_000_000_000_000_000 + i * 10**9,) * 2)
        ticks.append(tick)
    return ticks
