"""The benchmark's hooks into the program must keep resolving.

``perfbench/tracing.py`` times ``run_pipeline`` by wrapping the module
attributes listed in its ``WRAPPED`` map.  A refactor that drops one of
those names from ``pipeline`` (or from ``CheckpointStore``) would only
surface as a crash of ``perfbench/run.py --trace 1``; this test fails
first."""

from __future__ import annotations

import importlib.util
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _tracing():
    spec = importlib.util.spec_from_file_location(
        "perfbench_tracing", os.path.join(ROOT, "perfbench", "tracing.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_every_wrapped_name_resolves_to_a_callable():
    tracing = _tracing()
    assert tracing.WRAPPED
    missing = [
        f"{name} -> {getattr(owner, '__name__', owner)}.{attr}"
        for name, (owner, attr) in tracing.WRAPPED.items()
        if not callable(getattr(owner, attr, None))
    ]
    assert not missing, missing

