"""Seeded generator of weekly weather-event landing files for the
``etl_incremental`` workload.

Week ``k`` lands ``FILES_PER_WEEK`` CSV files in the reference's raw
weather layout (every column a string, header row). Besides the fresh
rows of the week, each week after the first carries the cases the
incremental pipeline exists to drop:

* replays: rows of the previous week resent unchanged (their timestamps
  are at or below the high-water mark, so the strict ``>`` filter drops
  them);
* late corrections: an already-loaded ``EventId`` resent with a new
  timestamp above the high-water mark (only the business-key anti-join
  drops them);
* boundary rows: new ids stamped exactly at the high-water mark (strict
  ``>`` drops them);
* unparseable numerics (``PrecipitationIn``/``LocationLat``) on some
  fresh rows, which the cast layer turns into NULL without dropping the
  row.

Fresh timestamps are distinct across the whole history, so the serving
reads (``ORDER BY StartTimeUTC ... LIMIT 200``) have one right answer,
which the generator keeps: ``expected_first``/``expected_last`` after
each week. The same seed gives byte-identical files.
"""

from __future__ import annotations

import csv
import io
import random
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone

from projektdataengineering_spark.sources import WEATHER_COLUMNS

FRESH_PER_WEEK = 1500
FILES_PER_WEEK = 2
REPLAY_SHARE = 0.05
LATE_SHARE = 0.02
BOUNDARY_ROWS = 3
GARBLED_SHARE = 0.03
SERVE_LIMIT = 200

_EPOCH = datetime(2024, 1, 1, tzinfo=timezone.utc)
_WEEK_S = 7 * 86400
_TYPES = ("Rain", "Snow", "Fog", "Cold", "Storm", "Hail")
_SEVERITIES = ("Light", "Moderate", "Heavy", "Severe")
_PLACES = (
    ("US/Eastern", "KJFK", "New York", "Queens", "NY", "11430", 40.6413, -73.7781),
    ("US/Central", "KORD", "Chicago", "Cook", "IL", "60666", 41.9742, -87.9073),
    ("US/Pacific", "KLAX", "Los Angeles", "Los Angeles", "CA", "90045", 33.9416, -118.4085),
    ("US/Mountain", "KDEN", "Denver", "Denver", "CO", "80249", 39.8561, -104.6737),
    ("US/Eastern", "KBOS", "Boston", "Suffolk", "MA", "02128", 42.3656, -71.0096),
)


@dataclass(frozen=True)
class Week:
    index: int
    files: list[tuple[str, str]]  # (file name, CSV text)
    landed_rows: int
    fresh_rows: int
    when: datetime  # archive stamp of this week's batch


def _fmt(ts_s: int) -> str:
    return (_EPOCH + timedelta(seconds=ts_s)).strftime("%Y-%m-%d %H:%M:%S")


class WeatherWeeks:
    """Weeks must be drawn in order (``next_week``): week ``k``'s replays
    and boundary rows come from the history of weeks ``< k``."""

    def __init__(self, seed: int):
        self.seed = seed
        self.k = 0
        self._history: list[tuple[int, str]] = []  # (ts, id), sorted by ts
        self._prev_rows: list[list[str]] = []
        self.landed_rows = 0
        self.expected_rows = 0

    def _row(self, rng: random.Random, event_id: str, ts_s: int) -> list[str]:
        tz, airport, city, county, state, zipc, lat, lng = rng.choice(_PLACES)
        return [
            event_id,
            rng.choice(_TYPES),
            rng.choice(_SEVERITIES),
            _fmt(ts_s),
            _fmt(ts_s + rng.randrange(60, 6 * 3600)),
            f"{rng.randrange(0, 300) / 100:.2f}",
            tz,
            airport,
            f"{lat + rng.uniform(-0.5, 0.5):.6f}",
            f"{lng + rng.uniform(-0.5, 0.5):.6f}",
            city,
            county,
            state,
            zipc,
        ]

    def next_week(self) -> Week:
        k = self.k
        rng = random.Random(f"etl:{self.seed}:{k}")
        base = k * _WEEK_S
        hwm = self._history[-1][0] if self._history else None
        offsets = sorted(rng.sample(range(1, _WEEK_S, 2), FRESH_PER_WEEK))

        fresh = []
        for i, off in enumerate(offsets):
            row = self._row(rng, f"W-{k:04d}-{i:05d}", base + off)
            if rng.random() < GARBLED_SHARE:
                row[5 if rng.random() < 0.5 else 8] = rng.choice(("T", "n/a", "?"))
            fresh.append(row)

        rows = list(fresh)
        if k > 0:
            n_replay = int(REPLAY_SHARE * len(self._prev_rows))
            rows += rng.sample(self._prev_rows, n_replay)
            # even offsets never collide with the fresh (odd) ones
            late_ids = rng.sample(self._history, int(LATE_SHARE * FRESH_PER_WEEK))
            for _, old_id in late_ids:
                rows.append(self._row(rng, old_id, base + rng.randrange(2, _WEEK_S, 2)))
            for j in range(BOUNDARY_ROWS):
                rows.append(self._row(rng, f"B-{k:04d}-{j}", hwm))
        rng.shuffle(rows)

        files = []
        for f in range(FILES_PER_WEEK):
            buf = io.StringIO()
            w = csv.writer(buf, lineterminator="\n")
            w.writerow(WEATHER_COLUMNS)
            w.writerows(rows[f::FILES_PER_WEEK])
            files.append((f"week_{k:04d}_part{f}.csv", buf.getvalue()))

        # every fresh timestamp is above the whole history, so appending
        # the week's (sorted) offsets keeps the history sorted
        self._history += [(base + off, row[0]) for off, row in zip(offsets, fresh)]
        self._prev_rows = fresh
        self.landed_rows += len(rows)
        self.expected_rows += len(fresh)
        self.k += 1
        return Week(
            index=k,
            files=files,
            landed_rows=len(rows),
            fresh_rows=len(fresh),
            when=_EPOCH + timedelta(seconds=base + _WEEK_S),
        )

    def expected_first(self) -> list[str]:
        """Ids of ``ORDER BY StartTimeUTC ASC LIMIT 200`` over all weeks so far."""
        return [i for _, i in self._history[:SERVE_LIMIT]]

    def expected_last(self) -> list[str]:
        """Ids of ``ORDER BY StartTimeUTC DESC LIMIT 200``."""
        return [i for _, i in reversed(self._history[-SERVE_LIMIT:])]
