"""Driver-contract invariants for ``__spark_entry__``.

The driver checks only the FIRST ``_DRIVER_CAP`` (50) queries() entries.
queries() computes that order: ``CHANGED_THIS_ROUND`` first, then
queries with no driver-green record, then the rest oldest last-green
round first (from the checked-in ``CORRECTNESS_r*.json`` artifacts),
declaration order breaking ties.  These tests pin (a) the order rule
and its reader on synthetic artifacts, (b) that committed evidence
never goes stale under that rule, and (c) the weak-keyed table cache
that dies with its session instead of surviving on a reused ``id()``.
"""

import gc
import glob
import json
import os
import shutil

import pytest

import __spark_entry__ as entry_mod

#: a deferred row's driver-green evidence may lag the upcoming round by
#: at most this many rounds.  148 rows in a 50-row window return every
#: 3 rounds at steady state; 3 is out of reach at round 15 only because
#: 54 rows were last green in r11 or earlier and the window holds 50.
MAX_AGE = 4


def _declared() -> list[str]:
    names: list[str] = []
    for mod in entry_mod._MODULES:
        names += [*getattr(mod, "QUERIES", {}), *getattr(mod, "QUERIES_SPARK", {})]
    return names


def _write_round(root, rnd: int, rows: dict) -> None:
    with open(os.path.join(root, f"CORRECTNESS_r{rnd:02d}.json"), "w") as f:
        json.dump(rows, f)


_GREEN = {"rows_match": True, "schema_match": True, "err": None}


def _deferred_evidence(order: list[str], latest: int, last: dict) -> tuple:
    """(deferred rows never driver-green, {deferred row: last green
    round} more than MAX_AGE behind the upcoming round)."""
    deferred = order[entry_mod._DRIVER_CAP :]
    never = {k for k in deferred if k not in last}
    stale = {
        k: last[k] for k in deferred if k in last and latest + 1 - last[k] > MAX_AGE
    }
    return never, stale


def test_head_is_exactly_driver_cap():
    names = list(entry_mod.queries())
    assert sorted(names) == sorted(_declared())
    assert len(names) > entry_mod._DRIVER_CAP
    # oracle dict must present the same order (driver zips them);
    # every query carries an oracle twin as of r7 (approx operators
    # emit deterministic validity bands instead of raw estimates)
    osql = entry_mod.oracle_sql()
    assert list(osql) == names


def test_rotation_keeps_new_and_changed_operators_in_window():
    # every operator changed this round sits inside the driver's
    # checked window the round it changes
    head = set(list(entry_mod.queries())[: entry_mod._DRIVER_CAP])
    assert entry_mod.CHANGED_THIS_ROUND <= head


def test_deferred_evidence_staleness_bounded():
    """A row deferred for many rounds rests on a stale driver-green
    record while the code around it moves.  Every query's last
    driver-green round comes from the checked-in ``CORRECTNESS_r*.json``
    artifacts; this fails when any row sitting OUTSIDE the upcoming
    round's window would be more than ``MAX_AGE`` rounds behind it.
    In-window rows count as current (the driver certifies them this
    round); a deferred row with NO green record at all is an ordering
    bug (never-green rows lead the window)."""
    latest, last = entry_mod._last_green(entry_mod._HERE)
    if not latest:
        pytest.skip("no driver correctness artifacts checked in")
    never, stale = _deferred_evidence(list(entry_mod.queries()), latest, last)
    assert not never, (
        f"deferred rows with no driver-green record: {never} — "
        "new/changed entries must sit in-window the round they appear"
    )
    assert not stale, (
        f"deferred rows whose driver evidence is >{MAX_AGE} rounds "
        f"behind round {latest + 1}: {stale}"
    )


def test_window_order_without_artifacts_is_declaration_order(tmp_path, monkeypatch):
    assert entry_mod._last_green(str(tmp_path)) == (0, {})
    monkeypatch.setattr(entry_mod, "_HERE", str(tmp_path))
    assert list(entry_mod.queries()) == _declared()


def test_window_order_changed_then_never_green_then_oldest(tmp_path):
    names = ["a", "b", "c", "d", "e", "f", "g"]
    _write_round(tmp_path, 1, {n: _GREEN for n in ("a", "b", "c", "d")})
    _write_round(tmp_path, 2, {n: _GREEN for n in ("b", "f")})
    _write_round(tmp_path, 3, {n: _GREEN for n in ("d", "g")})
    latest, last = entry_mod._last_green(str(tmp_path))
    assert latest == 3
    assert last == {"a": 1, "b": 2, "c": 1, "d": 3, "f": 2, "g": 3}
    # changed g leads; e never green; a, c tie at r1 (declaration order)
    order = entry_mod._window_order(names, last, frozenset({"g"}))
    assert order == ["g", "e", "a", "c", "b", "f", "d"]


def test_last_green_skips_red_schema_mismatch_and_err(tmp_path):
    _write_round(tmp_path, 1, {n: _GREEN for n in ("red", "schema", "err")})
    _write_round(
        tmp_path,
        2,
        {
            "red": {"rows_match": False, "schema_match": True},
            "schema": {"rows_match": True, "schema_match": False},
            "err": {"rows_match": True, "schema_match": True, "err": "boom"},
            "never": {"rows_match": False, "schema_match": False},
        },
    )
    latest, last = entry_mod._last_green(str(tmp_path))
    assert latest == 2
    assert last == {"red": 1, "schema": 1, "err": 1}


def test_window_order_rejects_unknown_or_oversized_changed():
    names = [f"q{i}" for i in range(entry_mod._DRIVER_CAP + 1)]
    with pytest.raises(ValueError, match="undeclared"):
        entry_mod._window_order(names, {}, frozenset({"no_such_query"}))
    with pytest.raises(ValueError, match="driver window"):
        entry_mod._window_order(names, {}, frozenset(names))
    assert entry_mod._window_order(names, {}, frozenset(names[:-1]))[-1] == names[-1]


def test_window_rotation_keeps_deferred_evidence_fresh(tmp_path):
    # the committed state, then three simulated driver rounds in which
    # every head row turns green: no deferred row ever ages past MAX_AGE
    committed = glob.glob(os.path.join(entry_mod._HERE, "CORRECTNESS_r*.json"))
    if not committed:
        pytest.skip("no driver correctness artifacts checked in")
    for path in committed:
        shutil.copy(path, tmp_path)
    names = _declared()
    for _ in range(4):
        latest, last = entry_mod._last_green(str(tmp_path))
        order = entry_mod._window_order(names, last, frozenset())
        assert _deferred_evidence(order, latest, last) == (set(), {})
        head = order[: entry_mod._DRIVER_CAP]
        _write_round(tmp_path, latest + 1, {n: _GREEN for n in head})


def test_table_cache_validates_session_identity(spark):
    import os
    import weakref

    sf = "/root/testdata/sf0.001"
    child = spark.newSession()
    t1 = entry_mod._tables(child, sf)
    t2 = entry_mod._tables(child, sf)
    assert t1 is t2  # plain cache hit
    # simulate CPython id reuse: same key, but the stored weakref
    # resolves to a DIFFERENT session object → must rebuild, not
    # hand back the other session's tables
    other = spark.newSession()
    key = (id(child), os.path.abspath(sf))
    entry_mod._table_cache[key] = (weakref.ref(other), {"stale": True})
    t3 = entry_mod._tables(child, sf)
    assert "stale" not in t3
    assert "documents" in t3
    gc.collect()
