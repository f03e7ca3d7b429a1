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
