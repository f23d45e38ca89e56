"""Every module of the package imports cleanly.

Most streaming modules are reached only through function-level imports,
so a stale import (a deleted sibling module, a renamed helper) would
otherwise surface only when that code path runs."""

from __future__ import annotations

import importlib
import pkgutil

import pytest

import spamscope_spark

MODULES = sorted(
    m.name
    for m in pkgutil.walk_packages(
        spamscope_spark.__path__, prefix="spamscope_spark."
    )
)


def test_walk_finds_the_streaming_layer():
    assert "spamscope_spark.streaming.pipeline" in MODULES
    assert "spamscope_spark.streaming.session_kernel" in MODULES


@pytest.mark.parametrize("name", MODULES)
def test_module_imports(name):
    importlib.import_module(name)
