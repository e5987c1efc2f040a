"""The seeded app-log event stream of the ``applog_dau`` workload.

``make_events`` is the one definition of the stream: the load generator
posts it and the benchmark rebuilds it to know the expected DAU table.
About ``NEW_KEY_SHARE`` of the events are a new ``(dt, mid)``; the rest
repeat a device already seen that day, skewed towards the earliest
devices.  ``LATE_SHARE`` of the events carry yesterday's ``ts``.
"""

from __future__ import annotations

import random
from datetime import date, datetime, timedelta, timezone

NEW_KEY_SHARE = 0.30
LATE_SHARE = 0.05
CHANNELS = ("appstore", "huawei", "xiaomi", "web")


def event_day(seed: int) -> date:
    """The run's "today": a seeded day in 2024."""
    return date(2024, 3, 1) + timedelta(days=seed % 300)


def _day_start_ms(d: date) -> int:
    return int(datetime(d.year, d.month, d.day, tzinfo=timezone.utc).timestamp()) * 1000


def make_events(seed: int, n: int) -> list[dict]:
    """The first ``n`` events of seed ``seed``'s stream, as the JSON
    bodies to POST (the reference's start-log envelope)."""
    rng = random.Random(seed)
    today = event_day(seed)
    day_ms = {0: _day_start_ms(today), -1: _day_start_ms(today - timedelta(days=1))}
    seen: dict[int, list[int]] = {0: [], -1: []}
    seen_set: dict[int, set[int]] = {0: set(), -1: set()}
    next_mid = 0
    out = []
    for i in range(n):
        day = -1 if rng.random() < LATE_SHARE else 0
        mids = seen[day]
        if not mids or rng.random() < NEW_KEY_SHARE:
            if day == -1 and len(seen[0]) > len(seen[-1]) and rng.random() < 0.5:
                # a device active today that also arrives late for yesterday
                mid = next(m for m in seen[0] if m not in seen_set[-1])
            else:
                mid = next_mid
                next_mid += 1
            mids.append(mid)
            seen_set[day].add(mid)
        else:
            mid = mids[int(len(mids) * rng.random() ** 2)]
        if day == 0:
            ts = day_ms[0] + i * 80_000_000 // max(n, 1) + rng.randrange(1000)
        else:
            ts = day_ms[-1] + rng.randrange(86_400_000)
        out.append(
            {
                "common": {
                    "mid": f"mid_{mid}",
                    "uid": f"u{mid % 997}",
                    "ar": str(mid % 34),
                    "ch": CHANNELS[mid % len(CHANNELS)],
                    "vc": "v2.1.134",
                },
                "start": "icon",
                "ts": ts,
            }
        )
    return out


def event_key(ev: dict) -> tuple[str, str]:
    """The DAU key ``(dt, mid)`` an event lands on (UTC day of ``ts``)."""
    dt = datetime.fromtimestamp(ev["ts"] / 1000, tz=timezone.utc).strftime("%Y-%m-%d")
    return dt, ev["common"]["mid"]
