"""Driver-contract simulation: run EVERY registered query against its DuckDB
oracle exactly the way the driver does (sf0.001 here for speed; the driver
uses sf0.01 — set TEST_SF_DIR=/root/testdata/sf0.01 to replicate)."""

import hashlib
import json
from pathlib import Path

import pytest

import __spark_entry__ as entry_mod

from .util import assert_matches_sql, duck


@pytest.fixture(scope="module")
def con(sf_dir):
    return duck(sf_dir)


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
    assert len(df.schema.fields) > 0


def test_oracle_cover():
    qs = entry_mod.queries()
    os_ = entry_mod.oracle_sql()
    assert set(os_) <= set(qs)
    # every query has an oracle (the weighted fast path uses an
    # integer-valued weight so its raw double sums are exact)
    missing = set(qs) - set(os_)
    assert missing == set(), f"queries without oracle: {missing}"


# The driver's correctness gate checks a ~50-query window off the FRONT
# of registry order (the rotation design): in the default driver-window
# profile the sweep covers those entries (with margin), and the entries
# past the window — all byte-stable since their last driver green —
# carry @slow.  The FULL sweep of all 146 registry entries runs with
# -m "" (pre-round-end gate discipline) and in every scripts/driver_sim.py
# sweep, which drives all entries at all three SFs (scripts/capture_plans.py
# writes 149 plans: the 146 entries plus the three baseline mirrors).
_WINDOW = set(list(entry_mod.queries().keys())[:55])
_SWEEP = [
    n if n in _WINDOW else pytest.param(n, marks=pytest.mark.slow)
    for n in sorted(entry_mod.queries().keys())
]


@pytest.mark.parametrize("name", _SWEEP)
def test_query_matches_oracle(name, spark, sf_dir, con):
    fn = entry_mod.queries()[name]
    sql = entry_mod.oracle_sql().get(name)
    df = fn(spark, sf_dir)
    if sql is None:
        assert df.count() >= 0
        return
    assert_matches_sql(df, sql, con)


def test_registry_never_drops_entries(monkeypatch):
    """Review regression: a name in BOTH _STALE_PRIORITY and
    _DRIVER_VERIFIED must still appear (in the tail), not vanish."""
    import xarray_histogram_spark.entry_queries as eq

    all_names = set(eq._REGISTRY)
    some_verified = next(iter(eq._DRIVER_VERIFIED & all_names))
    monkeypatch.setattr(
        eq, "_STALE_PRIORITY", eq._STALE_PRIORITY + (some_verified,)
    )
    assert set(eq.registry()) == all_names


def test_registry_order_and_oracle_text_pinned():
    """``queries()`` name order and every ``oracle_sql()`` text (as its
    sha256) match the committed ``tests/registry_pin.json``, so a
    refactor of the registry module cannot reorder entries or change an
    oracle unnoticed.  After a DECLARED registry change, regenerate the
    pin from the repo root with:

    python -c "import json,hashlib,__spark_entry__ as e; o=e.oracle_sql(); json.dump({n: hashlib.sha256(o[n].encode()).hexdigest() for n in e.queries()}, open('tests/registry_pin.json','w'), indent=0)"
    """
    pin = json.loads(
        (Path(__file__).parent / "registry_pin.json").read_text()
    )
    os_ = entry_mod.oracle_sql()
    assert list(entry_mod.queries()) == list(pin)
    got = {n: hashlib.sha256(os_[n].encode()).hexdigest() for n in pin}
    assert got == pin
