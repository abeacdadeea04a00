"""The driver-window rotation in __spark_entry__: which registry entries
the driver's 50-entry correctness window checks first. No Spark
session: the order is a pure function of the committed artifacts."""

from __future__ import annotations

import json
import os

import pytest

import __spark_entry__ as E

NAMES = ["a", "b", "c", "d", "e"]


def _artifact(d, rnd: int, rows: dict[str, bool | None]) -> None:
    with open(os.path.join(d, f"CORRECTNESS_r{rnd:02d}.json"), "w") as f:
        json.dump({k: {"hash_match": v} for k, v in rows.items()}, f)


def test_rotation_stalest_first_ties_in_registration_order(tmp_path):
    _artifact(tmp_path, 1, {"a": True, "b": True, "c": True})
    _artifact(tmp_path, 2, {"a": True, "c": True})
    # round 10 sorts after round 2: rounds order numerically
    _artifact(tmp_path, 10, {"c": True})
    assert E.rotation(NAMES, str(tmp_path)) == ["d", "e", "b", "a", "c"]


def test_rotation_failed_latest_row_is_unproven(tmp_path):
    _artifact(tmp_path, 1, {n: True for n in NAMES})
    _artifact(tmp_path, 2, {"b": True, "c": False, "e": None})
    assert E.rotation(NAMES, str(tmp_path)) == ["c", "e", "a", "d", "b"]


def test_rotation_changed_entries_lead(tmp_path, monkeypatch):
    _artifact(tmp_path, 1, {"a": True, "b": True, "d": True})
    monkeypatch.setattr(E, "CHANGED", ("d", "gone", "a"))
    assert E.rotation(NAMES, str(tmp_path)) == ["d", "a", "c", "e", "b"]


def test_rotation_without_artifacts_is_registration_order(tmp_path):
    (tmp_path / "CORRECTNESS_r3.json.bak").write_text("not json")
    assert E.rotation(NAMES, str(tmp_path)) == NAMES
    (tmp_path / "CORRECTNESS_r4.json").write_text("{truncated")
    with pytest.raises(json.JSONDecodeError):
        E.rotation(NAMES, str(tmp_path))


def test_committed_window_holds_the_stalest_entries():
    """Against the artifacts in the repo, whatever round they reach:
    no entry inside the driver's first 50 was matched more recently
    than any entry outside it."""
    here = os.path.dirname(os.path.abspath(E.__file__))
    proven: dict[str, int] = {}
    for rnd in range(1, 1000):
        path = os.path.join(here, f"CORRECTNESS_r{rnd:02d}.json")
        if os.path.exists(path):
            with open(path) as f:
                for name, row in json.load(f).items():
                    proven[name] = rnd if row.get("hash_match") is True else 0
    assert proven
    keys = list(E.queries())
    window = [k for k in keys[:50] if k not in E.CHANGED]
    assert max(proven.get(k, 0) for k in window) \
        <= min(proven.get(k, 0) for k in keys[50:])
    assert set(keys) == set(E.QUERIES)
    assert set(E.oracle_sql()) == set(E.ORACLE) & set(keys)
