"""Driver-contract smoke tests for __spark_entry__.py."""

from __future__ import annotations

import __spark_entry__ as entrymod


def test_entry_runs(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert len(df.schema.fields) > 0


def test_registry_consistency():
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert len(qs) >= 30
    # every oracle key must have a query
    assert set(oracles) <= set(qs)
    # most queries should carry an oracle (rows-only is the exception)
    assert len(oracles) >= len(qs) - 3


def test_ordered_specs_prioritizes_rerecords(monkeypatch):
    """The driver caps a round at 50 recorded rows, so ordering IS the
    re-record mechanism: latest-not-full-pass first, then never-recorded,
    then registration order (VERDICT r2 wrong #4)."""
    specs = entrymod.load_all()
    names = list(specs)
    failed, stale, green = names[5], names[10], names[0]
    fake_latest = {
        failed: (3, {"err": "boom", "rows_match": None, "schema_match": None,
                     "hash_match": None}),
        stale: (3, {"err": None, "rows_match": True, "schema_match": None,
                    "hash_match": None}),  # rows-only row for an oracled query
        green: (3, {"err": None, "rows_match": True, "schema_match": True,
                    "hash_match": True}),
    }
    monkeypatch.setattr(entrymod, "_latest_rows", lambda: fake_latest)
    ordered = list(entrymod._ordered_specs())
    # the two not-full-pass rows lead (in registration order)
    assert set(ordered[:2]) == {failed, stale}
    # never-recorded queries come before the green recorded one
    assert ordered.index(green) > ordered.index(names[1])
    # nothing lost or duplicated
    assert sorted(ordered) == sorted(names)


def test_ordered_specs_change_aware(monkeypatch):
    """A green row is only as good as the code it certified: queries
    whose implementing modules (builder module + transitive roapi_spark
    imports) changed since their row's round outrank still-covered green
    rows, and the most recently invalidated go first."""
    specs = entrymod.load_all()
    GREEN = {"err": None, "rows_match": True, "schema_match": True,
             "hash_match": True}
    # every query green in round 1, except two "recorded last round"
    fake_latest = {n: (1, dict(GREEN)) for n in specs}
    names = list(specs)
    fake_latest[names[0]] = (2, dict(GREEN))

    # pretend only gates.py's own file changed since round 1 (and
    # nothing since round 2): queries built there become stale, others
    # stay fresh in registration order
    def fake_changed(rnd):
        return {"roapi_spark/functions/gates.py"} if rnd <= 1 else set()

    monkeypatch.setattr(entrymod, "_latest_rows", lambda: fake_latest)
    monkeypatch.setattr(entrymod, "_changed_since_round", fake_changed)
    ordered = list(entrymod._ordered_specs())
    p13 = [n for n, s in specs.items()
           if s.builder.__module__ == "roapi_spark.functions.gates"
           and fake_latest[n][0] == 1]
    assert p13, "expected gates-built queries in the registry"
    k = len(p13)
    assert set(ordered[:k]) == set(p13)
    assert sorted(ordered) == sorted(names)


def test_transitive_module_files_reaches_reworked_machinery():
    """The delta DML queries' builders are thin wrappers in
    functions/gates.py — the change tracker must see through to
    sinks/delta.py and catalog.py, else a delta rework never re-floats
    their rows."""
    files = entrymod._transitive_module_files("roapi_spark.functions.gates")
    assert "roapi_spark/functions/gates.py" in files
    assert "roapi_spark/sinks/delta.py" in files
    assert "roapi_spark/catalog.py" in files
    # the registry glue module must NOT drag in the whole package
    lean = entrymod._transitive_module_files("roapi_spark.plans.analytics")
    assert "roapi_spark/sinks/delta.py" not in lean


def test_is_full_pass():
    ok = {"err": None, "rows_match": True, "schema_match": True, "hash_match": True}
    assert entrymod._is_full_pass(ok)
    assert not entrymod._is_full_pass({**ok, "err": "x"})
    assert not entrymod._is_full_pass({**ok, "hash_match": None})
    assert not entrymod._is_full_pass(None)
