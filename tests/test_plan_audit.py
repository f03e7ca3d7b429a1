"""The mechanized 'would this survive 100×?' check (tools/audit_plans.py)
run in-process, one test per audited row: each row's physical plan must
satisfy its declared scale invariants (pushdown, broadcast, shuffle
budget, codegen, no Python UDFs in hot paths)."""

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))

import audit_plans  # noqa: E402


@pytest.mark.parametrize("name", sorted(audit_plans.audited_queries()))
def test_plan_invariants_hold(spark, sf_dir, name):
    builder, rules = audit_plans.audited_queries()[name]
    assert audit_plans.audit(builder(spark, sf_dir), rules) == []


def test_audited_rows_are_pinned():
    # Spark-free: 125 suite registrations + 18 fixture rows, no name in
    # both registries, and every rule key known to check().
    from atlas_upscaling_dask_spark import suite

    rows = audit_plans.audited_queries()
    assert len(rows) == 143
    assert not set(suite.AUDITS) & set(audit_plans.FIXTURES)
    for _builder, rules in rows.values():
        audit_plans.check("", rules)


def test_media_spread_lives_in_one_helper():
    # Spark-free (AST): the documents-derived media fixtures spread the
    # one-split doc_id frame in ONE place, suite._doc_fixture, so the
    # spread can be sized from work without touching 25 builders.  Any
    # other suite function that selects doc_id from documents AND calls
    # .repartition( is a copy of that skeleton.
    import ast

    src = Path(__file__).resolve().parents[1] / (
        "atlas_upscaling_dask_spark/suite.py"
    )

    def has_const(call, value):
        return any(
            isinstance(a, ast.Constant) and a.value == value for a in call.args
        )

    def method(call, name):
        return isinstance(call.func, ast.Attribute) and call.func.attr == name

    spreaders = []
    for fn in ast.walk(ast.parse(src.read_text())):
        if not isinstance(fn, ast.FunctionDef):
            continue
        calls = [n for n in ast.walk(fn) if isinstance(n, ast.Call)]
        loads_docs = any(
            isinstance(c.func, ast.Name)
            and c.func.id == "load_table"
            and has_const(c, "documents")
            for c in calls
        )
        selects_id = any(
            method(c, "select") and has_const(c, "doc_id") for c in calls
        )
        spreads = any(method(c, "repartition") for c in calls)
        if loads_docs and selects_id and spreads:
            spreaders.append(fn.name)
    assert spreaders == ["_doc_fixture"]


def test_unknown_rule_key_raises():
    # Spark-free: a misspelt or unimplemented key must fail loudly, not
    # be silently ignored.
    rules = {"max_shuffles": 0, "pruned": True}
    with pytest.raises(ValueError, match="pruned"):
        audit_plans.check("", rules)
    assert rules == {"max_shuffles": 0, "pruned": True}


def test_spread_exemption_never_wider_than_asserted():
    # Spark-free: a plan string holding two group-hash spread exchanges.
    # Only as many as the rule asserts leave the shuffle budget — with
    # spread_exchanges 0 that is none, not (as re.sub's count=0 would
    # have it) all of them.
    spread = (
        "({n}) Exchange\n"
        "Input [1]: [doc_id#1L]\n"
        "Arguments: hashpartitioning((doc_id#1L - (doc_id#1L % 7)), 8), "
        "REPARTITION_BY_NUM, [plan_id=1]\n"
    )
    plan = spread.format(n=3) + spread.format(n=5)
    assert audit_plans.count_spread_exchanges(plan) == 2
    assert audit_plans.count_shuffles(plan) == 2

    def errs(allowed):
        return audit_plans.check(
            plan, {"spread_exchanges": allowed, "max_shuffles": 0}
        )

    assert errs(0) == [
        "expected exactly 0 group-hash spread exchange(s), found 2",
        "shuffle budget exceeded: 2 > 0",
    ]
    assert errs(1) == [
        "expected exactly 1 group-hash spread exchange(s), found 2",
        "shuffle budget exceeded: 1 > 0",
    ]
    assert errs(2) == []
