"""Build-once Column expressions for fixed plans.

Every pyspark Column API call is a py4j round trip, and with
DataFrame debugging on (the default) each also captures its Python
call site for runtime error contexts, which costs several more. A
fixed plan (the ETL transform, the staging/fact/dim models, the
reports) that rebuilt its Columns per batch would pay thousands of
round trips before Spark sees a row. Its expressions depend only on
the EngineConfig, so they are built once and the same Column
objects are applied to every new input frame. A Column is an
unresolved expression: Spark resolves it, and assigns fresh
expression ids, against each frame it is applied to. The call sites
stay those of the lines that build the expressions.
"""

from __future__ import annotations

import functools
from collections.abc import Callable
from typing import TypeVar

from pyspark import SparkContext

T = TypeVar("T")


def prebuilt(builder: Callable[..., T]) -> Callable[..., T]:
    """Memoize ``builder(*args)`` per argument tuple and py4j gateway.

    ``args`` must be hashable (the frozen EngineConfig, or nothing).
    The key also holds ``SparkContext._jvm``, so Columns built on a
    gateway that has since shut down are never reused. Builders return
    Columns (or tuples/dicts of them) that callers must not mutate;
    "now" stays live because ``now_col`` is ``current_timestamp()``
    unless ``as_of`` freezes it.
    """

    @functools.lru_cache(maxsize=32)
    def build(jvm: object, *args: object) -> T:
        return builder(*args)

    @functools.wraps(builder)
    def get(*args: object) -> T:
        return build(SparkContext._jvm, *args)

    return get
