"""Spark-free guard for the benchmark's layer tracing: every function
``perfbench.tracing.WRAPPED`` wraps must still exist in the package, or
``perfbench/run.py --trace 1`` fails at ``Tracer.wrap``."""

from __future__ import annotations

import importlib

from perfbench.tracing import WRAPPED


def test_every_wrapped_name_resolves():
    missing = [
        f"{mod_name}.{fn_name}"
        for mod_name, funcs in WRAPPED.values()
        for fn_name in funcs
        if not callable(getattr(importlib.import_module(mod_name), fn_name, None))
    ]
    assert not missing, missing
