"""Guard the tools' own logic. The plan audit iterates the registry,
so the only list a typo can break is an allowlist: a key that names
no registry entry would silently allow nothing. Its report must
repeat between runs, and its red flags must still fire. The sharded
gate weights its shards by its own previous output. The package reads
no environment variable beyond the session's four."""

from __future__ import annotations

import ast
import json
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


# cheap at sf0.001; the last two carry allowlisted nested-loop joins,
# and decile_migration_matrix an allowlisted global window
AUDITED = ("pricing_summary", "basket_pair_lift", "decile_migration_matrix")


def test_audit_report_repeats(spark, sf_dir):
    from tools import plan_audit

    rows, details, failures = plan_audit.audit(spark, sf_dir, AUDITED)
    assert len(rows) == len(AUDITED) and not failures
    assert any("global window (allowlisted)" in d for d in details)
    assert plan_audit.audit(spark, sf_dir, AUDITED) == (
        rows, details, failures
    )


def test_audit_flags_unlisted_nested_loop(spark, sf_dir, monkeypatch):
    from tools import plan_audit

    monkeypatch.setattr(
        plan_audit,
        "NESTED_LOOP_OK",
        plan_audit.NESTED_LOOP_OK - {"basket_pair_lift"},
    )
    rows, _, failures = plan_audit.audit(spark, sf_dir, ["basket_pair_lift"])
    assert failures == ["basket_pair_lift: BroadcastNestedLoopJoin"]
    assert rows[0].endswith("| BroadcastNestedLoopJoin |")


def test_shard_weights_come_from_the_out_file(tmp_path, monkeypatch):
    from tools.check_oracle_sharded import _plan_slices

    names = ["a", "b", "c", "d"]
    round_robin = [["a", "c"], ["b", "d"]]
    # a gate output lying in the cwd must not feed the weights
    monkeypatch.chdir(tmp_path)
    (tmp_path / "LOCAL_GATE.json").write_text(
        json.dumps({"results": {"d": {"sec": 100.0}}})
    )
    assert _plan_slices(names, 2, None) == round_robin
    prev = tmp_path / "gate.json"
    assert _plan_slices(names, 2, str(prev)) == round_robin
    prev.write_text(
        json.dumps(
            {"results": {n: {"sec": 9.0 if n == "a" else 1.0} for n in names}}
        )
    )
    assert _plan_slices(names, 2, str(prev)) == [["a"], ["b", "c", "d"]]


def test_shard_weights_need_a_complete_passing_prior(tmp_path):
    """A prior run that lost an entry (a dead shard) or failed one
    says nothing trustworthy about entry cost: round-robin instead."""
    from tools.check_oracle_sharded import _plan_slices

    names = ["a", "b", "c", "d"]
    round_robin = [["a", "c"], ["b", "d"]]
    prev = tmp_path / "gate.json"
    timed = {n: {"status": "ok", "sec": 9.0 if n == "a" else 1.0} for n in names}
    prev.write_text(json.dumps({"results": {n: timed[n] for n in "abc"}}))
    assert _plan_slices(names, 2, str(prev)) == round_robin
    prev.write_text(
        json.dumps({"results": timed | {"b": {"status": "fail", "sec": 1.0}}})
    )
    assert _plan_slices(names, 2, str(prev)) == round_robin
    prev.write_text(json.dumps({"results": timed}))
    assert _plan_slices(names, 2, str(prev)) == [["a"], ["b", "c", "d"]]


def _env_reads(tree: ast.AST):
    """Names read through ``os.environ[...]``, ``os.environ.get(...)``
    or ``os.getenv(...)``; a non-literal name comes back as its
    source text."""

    def is_environ(node):
        return (isinstance(node, ast.Attribute) and node.attr == "environ") or (
            isinstance(node, ast.Name) and node.id == "environ"
        )

    def name(node):
        if isinstance(node, ast.Constant) and isinstance(node.value, str):
            return node.value
        return ast.unparse(node)

    for node in ast.walk(tree):
        if isinstance(node, ast.Subscript) and is_environ(node.value):
            yield name(node.slice)
        elif isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            f = node.func
            if f.attr == "getenv" or (
                f.attr in ("get", "setdefault", "pop") and is_environ(f.value)
            ):
                yield name(node.args[0]) if node.args else ast.unparse(node)


def test_package_env_knobs_are_the_session_four():
    """The package reads exactly the four session knobs; any other
    environment variable is a setting that needs a caller and an
    edit here."""
    pkg = os.path.join(BASE, "advisorydatapipeline_spark")
    seen = set()
    for root, _, files in os.walk(pkg):
        for fn in files:
            if fn.endswith(".py"):
                with open(os.path.join(root, fn)) as f:
                    seen.update(_env_reads(ast.parse(f.read())))
    assert seen == {
        "SPARK_GRAFT_CPUS",
        "SPARK_GRAFT_SHUFFLE",
        "SPARK_GRAFT_DRIVER_MEM",
        "SPARK_GRAFT_WAREHOUSE",
    }
