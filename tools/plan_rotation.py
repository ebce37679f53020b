"""Gate-rotation guard: every query without a green driver CORRECTNESS
row must sit inside the gate window.

The window itself is generated: ``plans/_gated.py`` and
``plans/_window.py`` come from the CORRECTNESS files via
``tools/gen_gated.py && tools/gen_window.py``.

Usage:
    python tools/plan_rotation.py --check   # CI mode: exit 1 when any
        # ungated query lands outside the gate window.
"""

from __future__ import annotations

import sys

sys.path.insert(0, ".")


def check() -> int:
    """CI guard: every query must be prior-gated or inside the current
    gate window. Returns the number of violations (0 = clean)."""
    from datafusion_functions_financial_spark.plans import registry

    names = list(registry.all_queries())
    window = set(names[: registry.GATE_WINDOW])
    lost = [n for n in names
            if n not in registry.PRIOR_GATED and n not in window]
    for n in lost:
        print(f"ROTATION ERROR: {n} has no driver CORRECTNESS row and "
              f"sits outside the first-{registry.GATE_WINDOW} window — "
              "run tools/gen_gated.py && tools/gen_window.py")
    if not lost:
        ungated_in_window = sum(
            1 for n in names[: registry.GATE_WINDOW]
            if n not in registry.PRIOR_GATED)
        print(f"rotation OK: {len(names)} queries, "
              f"{ungated_in_window} ungated in window")
    return len(lost)


def main() -> int:
    if sys.argv[1:] != ["--check"]:
        print(__doc__)
        return 2
    return 1 if check() else 0


if __name__ == "__main__":
    raise SystemExit(main())
