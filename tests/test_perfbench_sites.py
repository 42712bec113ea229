"""perfbench's tracer looks the program's layer calls up by (module,
attribute) and wraps them for every traced run of every workload. A
refactor that drops or renames one of those names must fail here, not
in each traced benchmark run. No Spark session: imports only."""

from __future__ import annotations

import importlib

import pytest

from perfbench import trace


@pytest.mark.parametrize(
    "mod_name, attr",
    [(m, a) for m, a, _ in trace._SITES],
    ids=[f"{m.rsplit('.', 1)[1]}.{a}" for m, a, _ in trace._SITES],
)
def test_traced_site_exists(mod_name, attr):
    mod = importlib.import_module(mod_name)
    assert callable(getattr(mod, attr, None)), f"{mod_name}.{attr}"


@pytest.mark.parametrize(
    "mod_name", trace._RUNNER_SITES,
    ids=[m.rsplit(".", 1)[1] for m in trace._RUNNER_SITES],
)
def test_runner_site_exists(mod_name):
    mod = importlib.import_module(mod_name)
    assert callable(getattr(mod, "run_supersteps", None)), mod_name
