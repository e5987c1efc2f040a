"""The seeded app-log generator is deterministic and has the stated mix."""

from datetime import timedelta

from perfbench.events import LATE_SHARE, NEW_KEY_SHARE, event_day, event_key, make_events


def test_same_seed_same_events():
    assert make_events(7, 2000) == make_events(7, 2000)


def test_seeds_differ():
    assert make_events(7, 200) != make_events(8, 200)


def test_key_mix():
    events = make_events(3, 20_000)
    today = event_day(3).isoformat()
    keys = [event_key(e) for e in events]
    late = sum(1 for dt, _ in keys if dt != today) / len(keys)
    new = len(set(keys)) / len(keys)
    assert abs(late - LATE_SHARE) < 0.01
    assert abs(new - NEW_KEY_SHARE) < 0.03


def test_events_fall_on_today_or_yesterday():
    d = event_day(5)
    days = {event_key(e)[0] for e in make_events(5, 5000)}
    assert days <= {d.isoformat(), (d - timedelta(days=1)).isoformat()}
