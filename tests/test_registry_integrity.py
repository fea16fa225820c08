"""Registry / driver-contract integrity guards.

These catch the drifts the per-op checks can't: a typo in `_CHECK_FIRST`
(which `_ordered` refuses, so the driver would fail to load the query
list); an operator edit committed without
`scripts/stable_tier.py --update` desyncs the freshness ledger the next
round's window is built from.
"""

from __future__ import annotations

import importlib.util
import json
import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from spark_ibm_mq_spark import registry  # noqa: E402

registry.load_all_modules()


def _entry():
    spec = importlib.util.spec_from_file_location(
        "spark_entry", os.path.join(REPO, "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_check_first_names_all_registered():
    e = _entry()
    missing = [n for n in e._CHECK_FIRST if n not in registry.QUERIES]
    assert not missing, f"_CHECK_FIRST typos: {missing}"


def test_ordered_refuses_an_unknown_check_first_name(monkeypatch):
    e = _entry()
    monkeypatch.setattr(e, "_CHECK_FIRST", [*e._CHECK_FIRST, "no_such_query"])
    with pytest.raises(ValueError, match="no_such_query"):
        e.queries()
    with pytest.raises(ValueError, match="no_such_query"):
        e.oracle_sql()


def test_window_is_exactly_50_distinct_oracled():
    e = _entry()
    window = e._CHECK_FIRST[:50]
    assert len(e._CHECK_FIRST) >= 50
    assert len(set(window)) == 50
    # rows-only queries never consume window slots (the r7 policy):
    # every window row must carry a DuckDB value oracle
    no_oracle = [n for n in window if n not in registry.ORACLE]
    assert not no_oracle, f"rows-only in window: {no_oracle}"
    # and the dict the driver reads leads with exactly this window
    assert list(e.queries())[:50] == window


def test_every_oracle_key_is_registered():
    dangling = [n for n in registry.ORACLE if n not in registry.QUERIES]
    assert not dangling


def test_stable_tier_ledger_in_sync():
    """The committed STABLE_TIER.json must fingerprint-match the current
    operator sources + oracles — i.e. `stable_tier.py --update` ran after
    the last operator change (the fingerprint includes docstrings)."""
    spec = importlib.util.spec_from_file_location(
        "stable_tier", os.path.join(REPO, "scripts", "stable_tier.py")
    )
    st = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(st)
    current = st._fingerprints()
    ledger = json.load(open(os.path.join(REPO, "STABLE_TIER.json")))
    entries = ledger["queries"] if "queries" in ledger else ledger
    stale = [
        n
        for n, fp in current.items()
        if n not in entries or entries[n].get("fingerprint") != fp
    ]
    assert not stale, (
        f"ledger out of date for {stale[:5]}{'...' if len(stale) > 5 else ''} — "
        "run `python scripts/stable_tier.py --update` in the operator commit"
    )


def test_helper_deps_declared_names_are_registered():
    """Every registry.declare_helper_deps target must be a registered
    query, and every declared helper must expose retrievable source
    (stable_tier folds it into the consumer's change detection)."""
    import inspect

    from spark_ibm_mq_spark import registry

    registry.load_all_modules()
    for name, fns in registry.HELPER_DEPS.items():
        assert name in registry.QUERIES, f"{name} declared but not registered"
        assert fns, f"{name} declares an empty helper tuple"
        for fn in fns:
            assert inspect.getsource(fn)


def test_helper_change_bumps_effective_since():
    """A recorded helper change round must propagate into the consumer's
    effective since (the r12 gate-blind-spot fix), and queries without
    declared helpers must be unaffected."""
    import importlib.util

    from spark_ibm_mq_spark import registry

    registry.load_all_modules()
    spec = importlib.util.spec_from_file_location(
        "stable_tier", os.path.join(REPO, "scripts", "stable_tier.py")
    )
    st = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(st)

    name = "dedup_embedding_cosine"  # declares dedup._cell_assignment
    helper_key = st._helper_key(registry.HELPER_DEPS[name][0])
    ledger = {name: {"fingerprint_since_round": 5},
              "pricing_summary": {"fingerprint_since_round": 5}}
    meta = {"helper_changed_round": {helper_key: 9}}
    assert st._effective_since(name, ledger, meta) == 9
    assert st._effective_since("pricing_summary", ledger, meta) == 5
    # a helper change OLDER than the query's own bump must not win
    meta = {"helper_changed_round": {helper_key: 3}}
    assert st._effective_since(name, ledger, meta) == 5


def _identifier_refs(src: str) -> set[str]:
    """All identifiers referenced in source — ast-walked, so docstrings
    and comments can't false-positive (they are Constant nodes)."""
    import ast
    import textwrap

    out: set[str] = set()
    for node in ast.walk(ast.parse(textwrap.dedent(src))):
        if isinstance(node, ast.Name):
            out.add(node.id)
        elif isinstance(node, ast.Attribute):
            out.add(node.attr)
    return out


def _calls_raise_error(src: str) -> bool:
    """True iff the function body contains an actual Call to
    raise_error (bare name or attribute like F.raise_error) — ast-walked
    so a docstring or comment merely MENTIONING raise_error( cannot
    draft a plain helper into the census universe and force spurious
    declarations (ADVICE r14 #3; the old check was a source-substring
    match over inspect.getsource output)."""
    import ast
    import textwrap

    for node in ast.walk(ast.parse(textwrap.dedent(src))):
        if isinstance(node, ast.Call):
            fn = node.func
            if (isinstance(fn, ast.Name) and fn.id == "raise_error") or (
                isinstance(fn, ast.Attribute) and fn.attr == "raise_error"
            ):
                return True
    return False


def test_helper_deps_transitively_closed():
    """VERDICT r13 task 4: the `_resolve_duplicate_labels` →
    `_jaccard_truth_pairs` gap (e7df63d) was found by a HAND census —
    this automates it. For every query: walk its operator source and its
    declared helpers' sources (transitively, through same-module plain
    functions) for references to any session-memo helper in the
    HELPER_DEPS universe, and assert the declared set covers everything
    reachable. A miss means an edit to that helper would NOT move the
    consumer's stable-tier fingerprint and its greens would go stale —
    exactly the r13 clobber this test also guards (the IVM-twin loop's
    re-declaration used to OVERWRITE stream_ks_drift_monitor /
    stream_dsir_model_update's ks/dsir helper deps; declare_helper_deps
    now merges)."""
    import inspect

    from spark_ibm_mq_spark import registry

    registry.load_all_modules()
    universe = {
        fn.__name__: fn
        for fns in registry.HELPER_DEPS.values()
        for fn in fns
    }

    # Bootstrap blind spot (r14 review): the HELPER_DEPS-derived universe
    # cannot contain a computation-bearing helper that NO query has ever
    # declared — the census would pass vacuously on exactly the helper
    # that most needs declaring. Envelope guards are detectable by
    # construction: any module-level function whose body calls
    # raise_error makes a keep/raise DECISION over data, so fold every
    # such function (from every module that registers queries) into the
    # universe; a query reaching one must declare it. Broad utilities
    # (load_table/spread/tokens) are deliberately NOT in the universe:
    # they are versioned-with-the-repo infrastructure every query uses,
    # and declaring them everywhere would make every commit destabilize
    # everything.
    for wrapped in registry.QUERIES.values():
        fn = getattr(wrapped, "__wrapped__", wrapped)
        for nm, obj in vars(sys.modules[fn.__module__]).items():
            if (
                inspect.isfunction(obj)
                and getattr(obj, "__module__", "") == fn.__module__
                and nm not in universe
            ):
                try:
                    src = inspect.getsource(obj)
                except (OSError, TypeError):
                    continue
                if _calls_raise_error(src):
                    universe[nm] = obj

    module_tables: dict[str, dict[str, set[str]]] = {}

    def _table(modname: str) -> dict[str, set[str]]:
        if modname not in module_tables:
            tab: dict[str, set[str]] = {}
            for nm, obj in vars(sys.modules[modname]).items():
                if (
                    inspect.isfunction(obj)
                    and getattr(obj, "__module__", "") == modname
                ):
                    try:
                        tab[nm] = _identifier_refs(inspect.getsource(obj))
                    except (OSError, TypeError):
                        pass
            tab.update(
                {
                    nm: _identifier_refs(inspect.getsource(obj))
                    for nm, obj in universe.items()
                    if obj.__module__ == modname
                }
            )
            module_tables[modname] = tab
        return module_tables[modname]

    def _reachable(fn) -> set[str]:
        """Universe helpers reachable from fn through same-module plain
        functions (the search stops AT a universe helper: whatever IT
        reaches is checked via its own declaring consumers)."""
        tab = _table(fn.__module__)
        seen: set[str] = set()
        hits: set[str] = set()
        frontier = _identifier_refs(
            inspect.getsource(getattr(fn, "__wrapped__", fn))
        )
        while frontier:
            nxt: set[str] = set()
            for name in frontier:
                if name in seen:
                    continue
                seen.add(name)
                if name in universe and universe[name] is not fn:
                    hits.add(name)
                    continue
                if name in tab:
                    nxt |= tab[name]
            frontier = nxt - seen
        return hits

    violations = []
    for q, wrapped in registry.QUERIES.items():
        declared = registry.HELPER_DEPS.get(q, ())
        declared_names = {f.__name__ for f in declared}
        need: set[str] = _reachable(getattr(wrapped, "__wrapped__", wrapped))
        for helper in declared:
            need |= _reachable(helper)
        missing = need - declared_names
        if missing:
            violations.append((q, sorted(missing)))
    assert not violations, (
        "helper-dep census: undeclared (transitive) session-memo helpers — "
        "add them to declare_helper_deps so the freshness ledger sees "
        f"their edits: {violations}"
    )
