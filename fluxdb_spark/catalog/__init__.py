"""The query catalog: every operator the engine claims, as a named
(spark_builder, oracle_sql) pair — package facade.

The flat catalog.py outgrew review (11k+ lines), so entries now live in
per-category modules behind this unchanged facade: ``catalog()`` and
``_PRIORITY`` are re-exported from ``_core``, entry functions and shared
finishers are hoisted into this namespace so every historical access
path (``from fluxdb_spark.catalog import flux_state_at``,
``cat._ivf_balance_finish``) keeps working.  See each submodule's
docstring for its slice of SURVEY §2.
"""

from __future__ import annotations

from fluxdb_spark.catalog._core import (  # noqa: F401
    QuerySpec,
    _PRIORITY,
    _SPECS,
    _q,
    _t,
    _td,
    catalog,
    stamp_order,
)

# Importing the category modules registers their @_q entries in _SPECS.
# Registration order breaks ties in the computed catalog() order, so keep
# it stable.
from fluxdb_spark.catalog import _shared  # noqa: E402,F401
from fluxdb_spark.catalog import temporal  # noqa: E402,F401
from fluxdb_spark.catalog import relational  # noqa: E402,F401
from fluxdb_spark.catalog import pipeline  # noqa: E402,F401
from fluxdb_spark.catalog import streaming  # noqa: E402,F401

# Compatibility hoist: the flat module exposed every top-level name
# (entry functions, SQL constants, finishers, caches).  setdefault keeps
# _core's names authoritative; submodules have no colliding defs.
for _m in (_shared, temporal, relational, pipeline, streaming):
    for _k, _v in vars(_m).items():
        if not _k.startswith("__"):
            globals().setdefault(_k, _v)
del _m, _k, _v

# every entry is registered now: compute the correctness-window order
_PRIORITY[:] = stamp_order(_SPECS)
