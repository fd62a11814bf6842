"""The traced benchmark run wraps the functions named in
``perfbench.trace.SPANS`` by (module, attribute). A rename in the package
must fail here, not as an AttributeError halfway through a traced run.
No Spark session is started."""

import importlib

import pytest

from perfbench.trace import SPANS


@pytest.mark.parametrize("mod_name,attr,layer", SPANS,
                         ids=[f"{m}.{a}" for m, a, _ in SPANS])
def test_traced_name_resolves(mod_name, attr, layer):
    mod = importlib.import_module(mod_name)
    assert callable(getattr(mod, attr, None)), f"{mod_name}.{attr} ({layer})"
