"""The benchmark's traced run wraps engine entry points by module
attribute (``perfbench.trace.SPANS``). A target that no longer resolves
is only recorded under ``missing`` and its span's counters read 0, so a
refactor that moves or renames one must fail here instead."""

from __future__ import annotations

import importlib

from perfbench.trace import SPANS


def test_benchmark_span_targets_resolve():
    missing = []
    for name, module, attr in SPANS:
        try:
            owner = importlib.import_module(module)
            for part in attr.split("."):
                owner = getattr(owner, part)
        except (ImportError, AttributeError):
            missing.append(f"{name} ({module}.{attr})")
            continue
        assert callable(owner), name
    assert not missing, missing
