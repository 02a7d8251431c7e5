"""Driver-contract registry rotation (VERDICT r9 directive #3).

The driver samples the HEAD of ``queries()`` for its per-round
CORRECTNESS gate; rounds 1-9 sampled the same 50 keys because the
registry order was static. ``__spark_entry__._rotation_order`` sorts
keys least-driver-checked first (by committed ``CORRECTNESS_r*.json``
files), so the sample window walks the whole 230-key inventory.
"""

from __future__ import annotations

import glob
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entry  # noqa: E402


def _driver_seen() -> dict[str, int]:
    seen: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        for k in json.load(open(path)):
            seen[k] = seen.get(k, 0) + 1
    return seen


def _assert_head50_least_sampled(order: list) -> None:
    """The sampled head-50 is fully oracle-paired, and no key in it has
    been sampled more often than any oracle-paired key behind it."""
    from dbt_spark.queries import ORACLES

    seen = _driver_seen()
    head = order[:50]
    assert all(k in ORACLES for k in head)
    head_max = max(seen.get(k, 0) for k in head)
    behind = [k for k in order[50:] if k in ORACLES]
    assert behind, "every oracle-paired key fits in the head"
    behind_min = min(seen.get(k, 0) for k in behind)
    assert head_max <= behind_min, (
        f"head-50 holds a key sampled {head_max}x while an oracle-paired "
        f"key behind it was sampled {behind_min}x")


def test_head50_prefers_never_driver_seen_keys():
    q = entry.queries()
    assert len(q) >= 230
    _assert_head50_least_sampled(list(q))


def test_rotation_is_deterministic_and_total():
    from dbt_spark.queries import QUERIES

    a = entry._rotation_order(list(QUERIES))
    b = entry._rotation_order(list(QUERIES))
    assert a == b
    assert sorted(a) == sorted(QUERIES)


def test_oracles_follow_query_order():
    q = list(entry.queries())
    o = list(entry.oracle_sql())
    assert o == [k for k in q if k in set(o)]


def test_oracle_less_keys_sort_last():
    """A driver sample slot spent on a key with no oracle pairing verifies
    nothing (it reports ``no_oracle``): every key lacking an oracle must sort
    after every oracle-paired key, regardless of sample history."""
    from dbt_spark.queries import ORACLES, QUERIES

    order = entry._rotation_order(list(QUERIES))
    no_oracle = [k for k in order if k not in ORACLES]
    assert no_oracle, "inventory unexpectedly fully oracle-paired"
    first_bare = order.index(no_oracle[0])
    assert all(k not in ORACLES for k in order[first_bare:])
    _assert_head50_least_sampled(order)


def test_rotation_counts_multiplicity(tmp_path, monkeypatch):
    # Keys sampled twice sort after keys sampled once, which sort after
    # never-sampled keys; registry position breaks ties.
    keys = ["a", "b", "c", "d"]
    (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps({"a": {}, "b": {}}))
    (tmp_path / "CORRECTNESS_r02.json").write_text(json.dumps({"a": {}}))
    monkeypatch.setattr(
        entry.os.path, "dirname", lambda p: str(tmp_path)
    )
    order = entry._rotation_order(keys)
    assert order == ["c", "d", "b", "a"]
