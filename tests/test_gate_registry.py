"""The gate registry: each ``q_<name>`` in a family module under
``plans/entry_queries/`` registers itself once through ``@gate``."""
import importlib
import pkgutil

import pytest

from plateau_gis_converter_spark.plans import entry_queries as eq


def test_a_second_gate_on_a_name_raises():
    fn = eq.QUERIES["geocode"]
    with pytest.raises(ValueError, match="'geocode' is declared twice"):
        eq.gate("SELECT 1")(fn)
    assert eq.QUERIES["geocode"] is fn
    assert eq.ORACLES["geocode"] != "SELECT 1"


def test_gate_requires_the_q_prefix():
    def geocode(spark, sf_dir):
        return None

    with pytest.raises(ValueError, match="not named q_"):
        eq.gate("SELECT 1")(geocode)


def test_every_q_function_is_registered():
    """A ``q_*`` function without ``@gate`` would silently drop out of
    ``queries()``; every one found in a family module is registered, and
    nothing else is."""
    found = {}
    for info in pkgutil.iter_modules(eq.__path__):
        mod = importlib.import_module(f"{eq.__name__}.{info.name}")
        for attr, value in vars(mod).items():
            if attr.startswith("q_") and callable(value):
                found[attr.removeprefix("q_")] = value
    assert found.keys() == eq.QUERIES.keys() == eq.ORACLES.keys()
    assert all(eq.QUERIES[name] is fn for name, fn in found.items())
    assert all(isinstance(sql, str) and sql.strip()
               for sql in eq.ORACLES.values())
