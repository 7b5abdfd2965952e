"""Guard the plan audit's allowlists. The audit itself iterates the
registry, so the only list a typo can break is an allowlist: a key
that names no registry entry would silently allow nothing."""

from __future__ import annotations

import ast
import os

BASE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _literal_names(path: str, varname: str) -> list[str]:
    """The literal elements of a set, or the keys of a dict, assigned
    to ``varname`` — read from source so a duplicated key (which a
    literal silently collapses) is still visible."""
    tree = ast.parse(open(os.path.join(BASE, path)).read())
    for node in ast.walk(tree):
        if isinstance(node, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == varname
            for t in node.targets
        ):
            elts = (
                node.value.keys
                if isinstance(node.value, ast.Dict)
                else node.value.elts
            )
            return [ast.literal_eval(e) for e in elts]
    raise AssertionError(f"{varname} not found in {path}")


def test_audit_lists_unique_and_registered():
    from advisorydatapipeline_spark.registry import QUERIES

    for varname in ("NESTED_LOOP_OK", "GLOBAL_WINDOW_OK"):
        names = _literal_names("tools/plan_audit.py", varname)
        assert len(names) == len(set(names)), f"duplicates in {varname}"
        missing = [n for n in names if n not in QUERIES]
        assert not missing, f"{varname} names not in registry: {missing}"
