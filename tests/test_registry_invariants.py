"""Registry-wide hygiene invariants for the driver contract — cheap
meta-checks that catch wiring mistakes (duplicate query numbers, a
priority entry that silently stopped resolving, an empty oracle
string) before they cost a driver round."""

from __future__ import annotations

import ast
import re
from collections import defaultdict
from pathlib import Path

import __spark_entry__ as entrymod

ROOT = Path(__file__).resolve().parents[1]


def test_names_are_well_formed_and_numbers_unique():
    names = list(entrymod.queries())
    nums = []
    for n in names:
        m = re.match(r"^q(\d+)_[a-z0-9_]+$", n)
        assert m, f"malformed query name: {n}"
        nums.append(int(m.group(1)))
    assert len(nums) == len(set(nums)), "duplicate query numbers"


def test_oracles_are_nonempty_selects():
    for name, sql in entrymod.oracle_sql().items():
        s = sql.strip()
        assert s, f"{name}: empty oracle"
        assert s.upper().startswith(("SELECT", "WITH")), f"{name}: oracle shape"


def test_priority_window_is_exactly_fifty_and_resolves():
    names = list(entrymod.queries())
    head = names[:50]
    assert len(set(head)) == 50
    # every priority prefix resolved (queries() asserts this too, but
    # a failure there surfaces as an opaque registration error)
    prefixes = {n.split("_")[0] for n in names}
    for p in entrymod._PRIORITY:
        assert p in prefixes, f"priority entry {p} no longer resolves"


def test_rows_only_queries_are_none():
    # Round 11 retired the last rows-only entries: q227/q250 gained
    # recursive-CTE DP oracles (VERDICT r10 Next-round #2). Every
    # registered query must now carry a DuckDB oracle.
    q = set(entrymod.queries())
    o = set(entrymod.oracle_sql())
    assert q - o == set(), (
        "a query lost its oracle — the program has zero declared "
        "rows-only entries since round 11"
    )


def test_every_query_function_has_a_docstring():
    for name, fn in entrymod.queries().items():
        assert fn.__doc__ and len(fn.__doc__) >= 30, f"{name}: missing docstring"


def _py_files(*parts: str) -> list[Path]:
    out = []
    for part in parts:
        path = ROOT / part
        out += [path] if path.suffix == ".py" else sorted(path.rglob("*.py"))
    return out


def test_every_defaulted_keyword_is_passed_somewhere():
    """A defaulted parameter of a public top-level function in
    ``operators/``, ``functions/``, ``plans/`` or ``session.py`` is an
    option; one that no call in the repo passes is a knob nobody sets,
    and its default belongs in the body.

    A call passes a keyword if it names it or reaches it by position,
    with any value but a literal equal to the default: a call that
    spells the default out sets nothing. Calls are matched by callee
    name anywhere in ``owl_etl_spark/``, ``__spark_entry__.py``,
    ``bench.py``, ``tools/``, ``perfbench/`` and ``tests/``. Names
    defined more than once in scope are skipped, and a call site that
    passes ``**kwargs`` (or ``*args``) counts as passing every keyword
    (or position), since the scan cannot see which. ``sources/`` and
    ``streaming/`` hold deployment settings and are out of scope.
    """
    scope = _py_files(
        "owl_etl_spark/operators", "owl_etl_spark/functions", "owl_etl_spark/plans",
        "owl_etl_spark/session.py",
    )
    defs = defaultdict(list)
    for path in scope:
        for node in ast.parse(path.read_text(encoding="utf-8")).body:
            if isinstance(node, ast.FunctionDef) and not node.name.startswith("_"):
                defs[node.name].append((path, node))
    defaults = {}
    for name, found in defs.items():
        a = found[0][1].args
        pos = a.posonlyargs + a.args
        defaulted = list(zip(pos[len(pos) - len(a.defaults):], a.defaults))
        defaulted += [(p, d) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
        defaults[name] = (
            [p.arg for p in pos], {p.arg: d for p, d in defaulted}
        )

    def sets(value, default) -> bool:
        return not (
            isinstance(value, ast.Constant) and isinstance(default, ast.Constant)
            and type(value.value) is type(default.value) and value.value == default.value
        )

    passed = defaultdict(set)
    callers = _py_files(
        "owl_etl_spark", "__spark_entry__.py", "bench.py", "tools", "perfbench", "tests"
    )
    for path in callers:
        for call in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
            if not isinstance(call, ast.Call):
                continue
            f = call.func
            name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
            if name not in defs:
                continue
            params, dflt = defaults[name]
            if any(k.arg is None for k in call.keywords):
                passed[name].add("**")
            passed[name].update(
                k.arg for k in call.keywords if k.arg not in dflt or sets(k.value, dflt[k.arg])
            )
            for i, v in enumerate(call.args):
                if isinstance(v, ast.Starred):
                    passed[name].update(params[i:])
                    break
                if i < len(params) and (params[i] not in dflt or sets(v, dflt[params[i]])):
                    passed[name].add(params[i])
    unpassed = []
    for name, found in defs.items():
        if len(found) > 1 or "**" in passed[name]:
            continue
        path, node = found[0]
        unpassed += [
            f"{path.relative_to(ROOT)}:{node.lineno} {name}({arg})"
            for arg in defaults[name][1] if arg not in passed[name]
        ]
    assert unpassed == []



#: Public definitions kept with no caller in the program, each standing
#: for a stage of the reference pipeline (named by its reference file).
#: What they use (``PollingServiceExtractor``, ``ServiceError``) is
#: reached through them.
REFERENCE_MIRRORS = {
    "write_jdbc": "src/etl/load.py (the Postgres load)",
    "extract_text_service": "src/etl/extract.py (LLMWhisperer extraction)",
}


def test_every_public_definition_is_reached_outside_tests():
    """A public top-level function or class in ``owl_etl_spark/`` that
    only tests reach is code the system never runs; delete it with its
    tests. Reached means spelled as an identifier or attribute by
    ``__spark_entry__.py``, ``bench.py``, ``tools/``, ``perfbench/``, by
    code in ``owl_etl_spark/`` outside the public definitions, or by the
    body of a reached definition (so two dead functions calling each
    other stay dead). Calls inside f-strings count; import aliases (the
    package ``__init__`` re-exports), ``__all__`` strings and docstrings
    do not.
    """
    bodies = defaultdict(set)
    where = {}
    roots = set(REFERENCE_MIRRORS)
    for path in _py_files("owl_etl_spark", "__spark_entry__.py", "bench.py", "tools", "perfbench"):
        in_pkg = path.is_relative_to(ROOT / "owl_etl_spark")
        for node in ast.parse(path.read_text(encoding="utf-8")).body:
            spelled = {
                n.id if isinstance(n, ast.Name) else n.attr
                for n in ast.walk(node) if isinstance(n, (ast.Name, ast.Attribute))
            }
            if in_pkg and isinstance(node, (ast.FunctionDef, ast.ClassDef)) and not node.name.startswith("_"):
                where[node.name] = f"{path.relative_to(ROOT)}:{node.lineno}"
                bodies[node.name] |= spelled - {node.name}
            else:
                roots |= spelled
    assert set(REFERENCE_MIRRORS) <= set(where), "stale REFERENCE_MIRRORS entry"
    reached, todo = set(), roots & set(where)
    while todo:
        name = todo.pop()
        reached.add(name)
        todo |= (bodies[name] & set(where)) - reached
    assert sorted(f"{where[n]} {n}" for n in set(where) - reached) == []
