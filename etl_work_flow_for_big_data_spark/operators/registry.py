"""Operator registry — analog of the reference's plugin loader.

Reference: ``SOContainer::m_GetCreatorFunction`` resolves a creator
symbol from a dlopen'd shared object and the framework instantiates one
session object per configured pipeline stage
(``/root/reference/SOContainer.cpp:67-88``,
``MFramework.cpp:744-773``). Our creator function is just a Python
callable; "loading" is registration; the per-stage instance is a
closure over the stage's params.

An operator is ``fn(df: DataFrame, **params) -> DataFrame`` and must be
a pure plan transform (no actions) so pipelines compile to one Catalyst
plan with no materialization barriers between stages.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame

OperatorFn = Callable[..., DataFrame]


class OperatorRegistry:
    def __init__(self) -> None:
        self._ops: dict[str, OperatorFn] = {}

    def register(self, name: str, fn: OperatorFn) -> None:
        if name in self._ops:
            raise ValueError(f"operator already registered: {name}")
        self._ops[name] = fn

    def get(self, name: str) -> OperatorFn:
        try:
            return self._ops[name]
        except KeyError:
            raise KeyError(
                f"unknown operator {name!r}; registered: {sorted(self._ops)}"
            ) from None

    def apply(self, name: str, df: DataFrame, params: dict[str, Any] | None = None) -> DataFrame:
        return self.get(name)(df, **(params or {}))


#: Process-global default registry (the reference keeps one
#: SessionDataMap per framework instance, MFramework.cpp:773).
DEFAULT = OperatorRegistry()


def operator(name: str, registry: OperatorRegistry = DEFAULT):
    """Decorator: register a DataFrame transform under ``name``."""

    def deco(fn: OperatorFn) -> OperatorFn:
        registry.register(name, fn)
        return fn

    return deco
