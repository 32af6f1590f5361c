"""The bounded observe reader every observed count goes through."""

from __future__ import annotations

import warnings

from pixelspark import metrics


def test_observed_long_without_private_api_warns_once(monkeypatch):
    """An Observation without the private `_jo` handle reads as None
    (the caller runs its fallback job), and the missing API is
    reported by exactly one RuntimeWarning, however often it is hit."""
    monkeypatch.setattr(metrics, "_OBSERVE_WARNED", False)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        assert metrics.observed_long(object(), "n") is None
        assert metrics.observed_long(object(), "n") is None
    assert [w.category for w in caught] == [RuntimeWarning]
