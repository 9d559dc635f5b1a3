"""SURVEY.md §2 is the contract (BASELINE.json:2); this test pins the
registry and the §2 tables to each other mechanically — the same diff the
judge runs — so a key can never be registered without being declared or
declared without being registered.

Also sanity-checks the driver entry module: every registered key is
exposed through ``queries()``, every oracle through ``oracle_sql()``, and
the rows-only set stays the three pre-declared sketch ops.
"""

from __future__ import annotations

import re
from pathlib import Path

import pytest

# quick tier (VERDICT r13 item 6): the registry/SURVEY pins belong in
# the fast iteration gate — `pytest -m quick`.
pytestmark = pytest.mark.quick

REPO = Path(__file__).resolve().parent.parent


def _survey_s2_keys() -> set[str]:
    text = (REPO / "SURVEY.md").read_text()
    s2 = text[text.index("## 2. Operator inventory"):
              text.index("## 3. Query lifecycle")]
    keys: set[str] = set()
    for line in s2.splitlines():
        if not line.startswith("| `"):
            continue
        first_cell = line.split("|")[1]
        keys.update(re.findall(r"`([a-z][a-z0-9_]+)`", first_cell))
    return keys


def test_survey_s2_matches_registry_exactly():
    from naqed_spark import registry

    registry.load_all()
    registered = set(registry.QUERIES)
    declared = _survey_s2_keys()
    assert registered - declared == set(), (
        f"registered but not declared in SURVEY §2: "
        f"{sorted(registered - declared)}"
    )
    assert declared - registered == set(), (
        f"declared in SURVEY §2 but not registered: "
        f"{sorted(declared - registered)}"
    )


def test_survey_count_line_matches_registry():
    """SURVEY.md's prose headline count must equal the registry size —
    the tables are pinned mechanically above, but the prose number is
    what a human reads first (VERDICT r9 'What's wrong' item 1)."""
    from naqed_spark import registry

    registry.load_all()
    text = (REPO / "SURVEY.md").read_text()
    m = re.search(r"\*\*Count: (\d+) registered keys\*\*", text)
    assert m, "SURVEY.md count line missing"
    assert int(m.group(1)) == len(registry.QUERIES)


def test_entry_module_exposes_registry():
    import __spark_entry__ as entry
    from naqed_spark import registry

    registry.load_all()
    q = entry.queries()
    o = entry.oracle_sql()
    assert set(q) == set(registry.QUERIES)
    assert set(o) == set(registry.ORACLES)
    assert registry.ROWS_ONLY == {
        "agg_approx_count_distinct",
        "agg_hll_partial_merge",
        "agg_approx_percentile_sketch",
    }
    assert set(registry.QUERIES) == set(o) | registry.ROWS_ONLY


def test_priority_keys_all_registered():
    """The driver walks ``queries()`` in ``ordered_keys()`` order, and that
    order holds every registered key exactly once."""
    import __spark_entry__ as entry
    from naqed_spark import registry

    registry.load_all()
    ordered = registry.ordered_keys()
    assert sorted(ordered) == sorted(registry.QUERIES)
    assert list(entry.queries()) == ordered


def test_rotation_ordering_on_synthetic_states(monkeypatch):
    """The three rotation buckets, on fabricated driver signals so every
    bucket is exercised whatever CORRECTNESS_r*.json holds: never-checked
    keys first, then keys rewritten after their signal (TOUCHED), then
    the rest stalest-signal-first; a TOUCHED round at or below the key's
    signal changes nothing; ties keep registration order."""
    from naqed_spark import registry

    registry.load_all()
    keys = list(registry.QUERIES)[:7]
    never_a, never_b, stale, old, mid, fresh, inert = keys
    signals = {stale: 5, old: 3, mid: 6, fresh: 9, inert: 6}
    monkeypatch.setattr(registry, "_driver_signal_rounds", lambda: signals)
    monkeypatch.setattr(
        registry, "QUERIES", {k: registry.QUERIES[k] for k in keys}
    )

    monkeypatch.setattr(registry, "TOUCHED", {stale: 7, inert: 6})
    assert registry.ordered_keys() == [
        never_a, never_b, stale, old, mid, inert, fresh
    ]
    # with TOUCHED empty, `stale` holds a valid r5 signal
    monkeypatch.setattr(registry, "TOUCHED", {})
    assert registry.ordered_keys() == [
        never_a, never_b, old, stale, mid, inert, fresh
    ]
