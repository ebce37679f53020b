"""Aggregated registry of all declared query/oracle pairs.

Each entry maps a query name to ``(spark_fn, oracle_sql_or_None)``.
``__spark_entry__.py`` re-exports this for the driver; the test suite
runs every pair against DuckDB at sf0.001 so the driver's sf0.01 gate
is pre-validated locally.

Pairs are discovered, not listed: every public module of ``plans``,
``functions`` and ``operators`` that defines ``QUERIES`` contributes
its dict. Adding a query means adding it to its module's ``QUERIES``.
"""

from __future__ import annotations

import importlib
import pkgutil

from ._gated import DRIVER_GREEN

# tools/gen_window.py imports this module to read _collect_unordered();
# if its own output (_window.py) is missing or syntactically broken —
# exactly when regeneration is needed — the import would fail before
# the generator could run. Fall back to an empty window so the
# generator (and plain registry reads) still work; the rotation test
# fails loudly on a genuinely missing window.
try:
    from ._window import REGATE_WINDOW
except Exception:  # missing/broken generated file — regenerate it
    REGATE_WINDOW = ()

# The driver's CORRECTNESS gate records rows for the FIRST ``GATE_WINDOW``
# registry entries only. ``_collect`` fronts the generated
# ``_window.REGATE_WINDOW`` so those are the rotation's chosen names (see
# COVERAGE.md §"Gate rotation"); the local parity suite,
# ``tests/test_oracle_parity.py``, keeps running ALL pairs.
GATE_WINDOW = 50

# Queries with a green driver CORRECTNESS row in a prior round, derived
# from the CORRECTNESS_r*.json files by ``python tools/gen_gated.py``.
PRIOR_GATED = DRIVER_GREEN

_PACKAGES = ("plans", "functions", "operators")


def _collect_unordered() -> dict:
    """Every module's ``QUERIES``, packages in ``_PACKAGES`` order and
    modules by name, BEFORE the gate-window reorder (tools/gen_window.py
    reads this to plan the rotation without a circular dependency)."""
    out: dict = {}
    for pkg_name in _PACKAGES:
        pkg = importlib.import_module(f"..{pkg_name}", __package__)
        for info in sorted(pkgutil.iter_modules(pkg.__path__),
                           key=lambda i: i.name):
            if info.name.startswith("_") or info.name == "registry":
                continue
            mod = importlib.import_module(f"{pkg.__name__}.{info.name}")
            for name, pair in getattr(mod, "QUERIES", {}).items():
                if name in out:
                    raise ValueError(f"duplicate query name: {name}")
                out[name] = pair
    return out


def _collect() -> dict:
    """Registry pairs with the generated re-gate window fronted.

    The window lives in the generated ``plans/_window.py``: ungated or
    regressed pairs first, then the pairs whose latest green
    CORRECTNESS row is oldest. Regenerate it with ``tools/gen_gated.py
    && tools/gen_window.py`` after each round's CORRECTNESS file lands.
    """
    out = _collect_unordered()
    front = {n: out[n] for n in REGATE_WINDOW if n in out}
    return {**front, **{n: p for n, p in out.items() if n not in front}}


def all_queries() -> dict:
    return {name: fn for name, (fn, _sql) in _collect().items()}


def all_oracles() -> dict:
    return {
        name: sql for name, (_fn, sql) in _collect().items() if sql is not None
    }


def gate_window_names() -> list[str]:
    """The query names the driver's CORRECTNESS gate will actually record
    (first ``GATE_WINDOW`` entries in registry iteration order)."""
    return list(_collect())[:GATE_WINDOW]
