"""Freshness is attributed to the first table version holding a key."""

import pytest

from perfbench.applog_dau import attribute_freshness


def test_first_version_that_holds_the_key():
    firsts = [("a", 10.0), ("b", 10.5), ("c", 11.0)]
    versions = [
        (10.2, {"x"}),            # v1: an older key only
        (11.0, {"x", "a"}),       # v2: a arrives
        (12.5, {"x", "a", "b"}),  # v3: b arrives
        (13.0, {"x", "b", "c"}),  # v4: c arrives (a compacted away: still counted at v2)
    ]
    lat, missing = attribute_freshness(firsts, versions)
    assert lat == pytest.approx([1.0, 2.0, 2.0])
    assert missing == []


def test_missing_keys_are_reported():
    lat, missing = attribute_freshness([("a", 0.0), ("z", 0.0)], [(1.0, {"a"})])
    assert lat == [1.0]
    assert missing == ["z"]


def test_empty_log():
    assert attribute_freshness([("a", 0.0)], []) == ([], ["a"])
