"""Gate-rotation regression guard.

The driver's CORRECTNESS gate records rows for only the first
``registry.GATE_WINDOW`` entries in registry iteration order. The
registry discovers every module's ``QUERIES`` and fronts the generated
``plans/_window.py`` (``tools/gen_gated.py && tools/gen_window.py``), so
the window is the coverage decision. These tests keep it intentional:

- every query WITHOUT a prior driver CORRECTNESS row must sit inside
  the gate window (so it gets one this round);
- the generated window and gated set match a regeneration;
- QUERIES.md is exactly the census the registry renders;
- every registered query has a DuckDB oracle (no silent rows-only
  entries creep in);
- query/oracle registries stay in lockstep.
"""

from datafusion_functions_financial_spark.plans import registry


def test_every_ungated_query_inside_gate_window_or_queued():
    names = list(registry.all_queries())
    window = set(names[: registry.GATE_WINDOW])
    outside = [n for n in names
               if n not in registry.PRIOR_GATED and n not in window]
    assert not outside, (
        "queries with no driver CORRECTNESS row fell outside the gate "
        "window — run `tools/gen_gated.py && tools/gen_window.py`: "
        f"{outside}"
    )


def test_queue_names_exist_and_pending_fit_window():
    # Ungated queries must not outgrow the window: the generated window
    # fronts every one of them, and a 51st would fall outside it.
    pending = [n for n in registry.all_queries()
               if n not in registry.PRIOR_GATED]
    assert len(pending) <= registry.GATE_WINDOW, (
        f"{len(pending)} ungated queries exceed the {registry.GATE_WINDOW}"
        "-entry window — run `tools/gen_gated.py && tools/gen_window.py` "
        "once the window's CORRECTNESS rows land"
    )


def test_prior_gated_derived_from_correctness():
    """VERDICT r08 item 7 + r09 item 2: PRIOR_GATED must be the set
    derived from the driver's own CORRECTNESS_r*.json files (latest
    row per name fully green), not a hand-typed list.

    Staleness is judged against the CORRECTNESS files that EXISTED at
    generation time (``_gated.SOURCE_FILES``): a mismatch there is an
    in-round bug and fails. A strictly NEWER round file landing after
    the builder's round closed (the driver drops CORRECTNESS_r{N}.json
    post-close) is expected — it warns instead of failing, so a fresh
    clone passes pytest before anyone reruns ``tools/gen_gated.py``.
    """
    import importlib.util
    import pathlib
    import warnings

    from datafusion_functions_financial_spark.plans import _gated

    tool = pathlib.Path(__file__).parent.parent / "tools" / "gen_gated.py"
    spec = importlib.util.spec_from_file_location("gen_gated", tool)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    source = getattr(_gated, "SOURCE_FILES", None)
    assert source, "plans/_gated.py predates SOURCE_FILES — regenerate"
    latest, used = mod.compute(only_files=source)
    assert [f.name for f in used] == sorted(source), (
        "a CORRECTNESS file recorded in _gated.SOURCE_FILES is missing "
        f"from the repo root: {sorted(set(source) - {f.name for f in used})}"
    )
    derived = frozenset(n for n, (_r, g) in latest.items() if g)
    assert registry.PRIOR_GATED == derived, (
        "plans/_gated.py is stale vs the CORRECTNESS files it was "
        "generated from — run python tools/gen_gated.py "
        f"(missing: {sorted(derived - registry.PRIOR_GATED)[:5]}, "
        f"extra: {sorted(registry.PRIOR_GATED - derived)[:5]})"
    )

    _all, every = mod.compute()
    newer = sorted({f.name for f in every} - set(source))
    if newer:
        warnings.warn(
            "newer CORRECTNESS file(s) landed after plans/_gated.py was "
            f"generated: {newer} — run python tools/gen_gated.py at "
            "round open (expected across a round boundary, not a defect)",
            stacklevel=1,
        )


def test_regate_window_matches_regeneration():
    """VERDICT r11 item 3: the steady-state re-gate rotation. The
    checked-in plans/_window.py must equal a regeneration from the
    CORRECTNESS files that EXISTED when it was generated
    (``_window.SOURCE_FILES`` — the _gated staleness protocol): a
    mismatch there is an in-round bug and fails; a strictly newer
    round file landing after round close warns instead, so a fresh
    clone passes before anyone reruns the tools. The registry's
    actual gate window must BE the checked-in plan."""
    import importlib.util
    import pathlib
    import warnings

    from datafusion_functions_financial_spark.plans import _window

    tool = pathlib.Path(__file__).parent.parent / "tools" / "gen_window.py"
    spec = importlib.util.spec_from_file_location("gen_window", tool)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    source = getattr(_window, "SOURCE_FILES", None)
    assert source, "plans/_window.py predates SOURCE_FILES — regenerate"
    regenerated = mod.compute(only_files=source)
    assert list(_window.REGATE_WINDOW) == regenerated, (
        "plans/_window.py is stale vs the CORRECTNESS files it was "
        "generated from — run python tools/gen_gated.py && "
        "python tools/gen_window.py"
    )
    assert registry.gate_window_names() == list(_window.REGATE_WINDOW)
    _latest, every = mod.compute_with_files()
    newer = sorted({f.name for f in every} - set(source))
    if newer:
        warnings.warn(
            "newer CORRECTNESS file(s) landed after plans/_window.py "
            f"was generated: {newer} — run python tools/gen_gated.py "
            "&& python tools/gen_window.py at round open (expected "
            "across a round boundary, not a defect)",
            stacklevel=1,
        )


def test_regate_window_fronts_stalest_green_rows():
    """Every windowed pair must be at least as stale (by latest-green
    round) as every green pair OUTSIDE the window — the rotation's
    whole point; ungated pairs are exempt (they gate first)."""
    import importlib.util
    import pathlib

    from datafusion_functions_financial_spark.plans import _window

    tool = pathlib.Path(__file__).parent.parent / "tools" / "gen_gated.py"
    spec = importlib.util.spec_from_file_location("gen_gated", tool)
    gg = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gg)
    # judge staleness against the census the plan was generated from
    # (a newer round file landing post-close is handled by the
    # regeneration test's warning, not a failure here)
    latest, _ = gg.compute(
        only_files=getattr(_window, "SOURCE_FILES", None))
    names = list(registry.all_queries())
    window = names[: registry.GATE_WINDOW]
    inside = [latest[n][0] for n in window
              if n in latest and latest[n][1]]
    outside = [latest[n][0] for n in names[registry.GATE_WINDOW:]
               if n in latest and latest[n][1]]
    if inside and outside:
        assert max(inside) <= min(outside), (
            "a green pair outside the window is staler than one "
            "inside — regenerate plans/_window.py"
        )


def test_prior_gated_names_exist():
    # PRIOR_GATED must track real registry names (catches renames that
    # would silently mark a query as already-gated).
    names = set(registry.all_queries())
    stale = sorted(registry.PRIOR_GATED - names)
    assert not stale, f"PRIOR_GATED references unknown queries: {stale}"


def test_every_query_has_an_oracle():
    q = registry.all_queries()
    o = registry.all_oracles()
    assert set(q) == set(o), (
        "query/oracle mismatch — every queries() entry needs an "
        f"oracle_sql() entry: {sorted(set(q) ^ set(o))}"
    )


def test_plan_rotation_check_mode():
    # The rotation guard's --check mode runs as CI so an ungated query
    # landing outside the window surfaces at commit time, not gate time.
    import importlib.util
    import pathlib

    tool = pathlib.Path(__file__).parent.parent / "tools" / "plan_rotation.py"
    spec = importlib.util.spec_from_file_location("plan_rotation", tool)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert mod.check() == 0


def test_gate_window_is_full():
    # The window should be fully used: fewer entries than GATE_WINDOW
    # means the driver gates everything and rotation is moot; more total
    # queries than the window is expected (the rest are parity-only this
    # round). This documents the current census so additions are
    # deliberate.
    names = registry.gate_window_names()
    assert len(names) == min(registry.GATE_WINDOW,
                             len(registry.all_queries()))


def test_queries_md_census_in_sync():
    """The committed QUERIES.md must be byte-identical to the census the
    live registry renders: every name, Spark function module/qualname and
    oracle SQL. A lost, renamed or moved pair, or a changed oracle,
    fails here — regenerate with ``python tools/gen_queries_md.py``
    only when the change is intended."""
    import importlib.util
    import pathlib

    root = pathlib.Path(__file__).parent.parent
    spec = importlib.util.spec_from_file_location(
        "gen_queries_md", root / "tools" / "gen_queries_md.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    rendered = mod.render().encode()
    committed = (root / "QUERIES.md").read_bytes()
    assert rendered == committed, (
        f"QUERIES.md ({len(committed.splitlines())} lines) != the "
        f"registry's census ({len(rendered.splitlines())} lines); run "
        "tools/gen_queries_md.py")


def test_gen_window_recovers_from_broken_window_file(tmp_path):
    """ADVICE r12: gen_window.py imports plans.registry, which imports
    plans._window — the generator's own output. If _window.py is
    missing or syntactically broken (exactly when regeneration is
    needed), registry must still import (empty REGATE_WINDOW fallback)
    so the generator can rewrite the file. Run in a subprocess to avoid
    polluting this process's module cache."""
    import pathlib
    import subprocess
    import sys

    root = pathlib.Path(__file__).parent.parent
    win = root / "datafusion_functions_financial_spark/plans/_window.py"
    committed = win.read_text()
    try:
        win.write_text("this is ( broken syntax\n")
        r = subprocess.run(
            [sys.executable, str(root / "tools/gen_window.py")],
            capture_output=True, text=True, cwd=root, timeout=120)
        assert r.returncode == 0, r.stderr[-500:]
        assert win.read_text() == committed, (
            "regeneration from broken state drifted from committed file")
    finally:
        win.write_text(committed)
