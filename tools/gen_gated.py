#!/usr/bin/env python
"""Generate ``plans/_gated.py`` — the driver-green query census —
from the driver's own CORRECTNESS_r*.json records (VERDICT r08 item
7: ``PRIOR_GATED`` was a hand-maintained frozenset; a typo could
silently re-gate or orphan a pair, so derive it from ground truth).

A query is driver-green iff its LATEST CORRECTNESS row (highest
round) has rows/schema/hash all matching and no error. Re-run after
every round lands a new CORRECTNESS file:

    python tools/gen_gated.py

``tests/test_registry_rotation.py::test_prior_gated_derived_from_
correctness`` asserts the checked-in file matches a regeneration.
"""

from __future__ import annotations

import json
import pathlib
import re

ROOT = pathlib.Path(__file__).resolve().parent.parent
OUT = (ROOT / "datafusion_functions_financial_spark" / "plans"
       / "_gated.py")

HEADER = '''\
"""GENERATED by tools/gen_gated.py — do NOT edit by hand.

``DRIVER_GREEN`` is the set of query names whose LATEST driver
CORRECTNESS row (across every CORRECTNESS_r*.json in the repo root)
is fully green (rows + schema + value-hash match, no error). The
registry uses it as ``PRIOR_GATED``: queries NOT in this set must sit
inside the gate window so the driver records a row for them.
Regenerate after each round's CORRECTNESS file lands.

``SOURCE_FILES`` records which CORRECTNESS files existed at
generation time (VERDICT r09 item 2): the rotation test fails only
when the census is stale relative to THOSE files (an in-round bug);
a strictly newer round file landing after the builder's round closes
is expected and produces a warning, not a red suite.
"""

DRIVER_GREEN = frozenset({
'''


def compute(only_files=None) -> tuple[dict, list]:
    """latest-row verdict per name; returns (latest, files_used).

    ``only_files`` restricts the census to the given file NAMES (the
    ``SOURCE_FILES`` recorded in a prior generation) so a staleness
    check can distinguish in-round drift from a new round landing.
    """
    latest: dict[str, tuple[int, bool]] = {}
    files = sorted(ROOT.glob("CORRECTNESS_r*.json"))
    if only_files is not None:
        keep = set(only_files)
        files = [f for f in files if f.name in keep]
    for f in files:
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", f.name)
        rnd = int(m.group(1))
        rows = json.loads(f.read_text())
        for name, rec in rows.items():
            green = bool(rec.get("rows_match") and rec.get("schema_match")
                         and rec.get("hash_match")
                         and rec.get("err") in (None, ""))
            if name not in latest or latest[name][0] < rnd:
                latest[name] = (rnd, green)
    return latest, files


def render() -> str:
    latest, files = compute()
    green = sorted(n for n, (_r, g) in latest.items() if g)
    body = "".join(f'    "{n}",\n' for n in green)
    src = "".join(f'    "{f.name}",\n' for f in files)
    tail = ("})\n\nSOURCE_FILES = (\n" + src + ")\n"
            + f"\n# {len(green)} green / {len(latest)} ever-gated\n")
    return HEADER + body + tail


def main() -> int:
    text = render()
    OUT.write_text(text)
    latest, _ = compute()
    reds = sorted(n for n, (_r, g) in latest.items() if not g)
    print(f"wrote {OUT} ({text.count(chr(10))} lines)")
    if reds:
        print(f"standing reds (latest row not green): {reds}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
