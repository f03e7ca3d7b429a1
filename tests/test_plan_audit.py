"""The mechanized 'would this survive 100×?' check (tools/audit_plans.py)
run in-process: every audited headliner's physical plan must satisfy its
declared scale invariants (pushdown, broadcast, shuffle budget, codegen,
no Python UDFs in hot paths)."""

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))


def test_plan_invariants_hold(spark):
    import audit_plans

    sf = "/root/testdata/sf0.001"
    for name, (builder, rules) in audit_plans.audited_queries().items():
        df = builder(spark, sf)
        plan = audit_plans.plan_of(df)
        cg = rules.pop("codegen", False)
        errs = audit_plans.check(name, plan, rules)
        if cg:
            import re

            final = audit_plans.final_plan_of(df)
            if not re.search(r"\*\(\d+\)", final):
                errs.append("no codegen span")
        assert not errs, f"{name}: {errs}"


def test_spread_exemption_never_wider_than_asserted():
    # Spark-free: a plan string holding two group-hash spread exchanges.
    # Only as many as the rule asserts leave the shuffle budget — with
    # spread_exchanges 0 that is none, not (as re.sub's count=0 would
    # have it) all of them.
    import audit_plans

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
            "t", plan, {"spread_exchanges": allowed, "max_shuffles": 0}
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
